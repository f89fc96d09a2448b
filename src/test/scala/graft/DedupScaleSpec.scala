package graft

import graft.ops.LlmOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale rehearsal for the dedup family (round-6 verdict #6): deterministic
  * synthetic corpora at 1× and 10×, asserting WORK counts — the quantities
  * that decide whether a plan survives a 100× corpus — instead of
  * wall-clock, which flakes under host load (the protocol AnnCrossoverSpec
  * established for the ANN families).
  *
  *  - MinHash-LSH: candidate pairs (the rows that pay an exact Jaccard) must
  *    track the planted duplicates ~linearly, never the n² pair space, with
  *    planted recall 1.0 at both scales.
  *  - Exact ngram join: the df-cutoff must keep the self-join's work
  *    (Σ df·(df−1)/2 over surviving shingles) orders of magnitude below the
  *    uncut sum when corpus-wide boilerplate is present — the 100 TB failure
  *    mode where one hot shingle alone fans out to ~10¹⁰ pairs — without
  *    costing planted-pair recall.
  *
  * Vocabulary is 2 000 synthetic words so background shingle collisions are
  * negligible (the realistic regime: shingle space ≫ corpus; the tiny
  * 30-word vocab of the other fixtures makes everything collide, which is a
  * worst case for bucketing, not a scale model). All seeds fixed.
  */
class DedupScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val vocab: IndexedSeq[String] = (0 until 2000).map(i => "w" + i)

  private def words(seed: Int, n: Int): Array[String] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
  }

  /** n docs: n/10 planted near-dup pairs (one word edited in a 40-word doc,
    * J ≈ 0.85 on 3-gram shingles) + unique docs, optional corpus-wide
    * boilerplate prefix (12 hot shingles with df = n). Pair members get ids
    * (2k, 2k+1) below 10·n; uniques from 10·n up. */
  private def corpus(n: Int, boilerplate: Boolean): (DataFrame, Set[(Long, Long)]) = {
    import spark.implicits._
    val prefix = if (boilerplate) (0 until 14).map(i => "b" + i) else Seq.empty
    def mk(ws: Array[String]) = (prefix ++ ws).mkString(" ")
    val nPairs = n / 10
    val pairs = (0 until nPairs).flatMap { k =>
      val base = words(31000 + k, 40)
      val edited = base.clone()
      edited(20) = if (base(20) == "w0") "w1" else "w0"
      Seq((2L * k, mk(base)), (2L * k + 1, mk(edited)))
    }
    val uniques = (0 until n - 2 * nPairs).map(i => (10L * n + i, mk(words(62000 + i, 40))))
    val planted = (0 until nPairs).map(k => (2L * k, 2L * k + 1)).toSet
    ((pairs ++ uniques).toDF("doc_id", "text"), planted)
  }

  /** Σ df·(df−1)/2 — the exact shingle self-join's row count, straight from
    * the document-frequency table. */
  private def joinWork(docs: DataFrame, cutoff: Option[Int]): Long = {
    val df = LlmOps.shingleOccurrences("spec_join_work", docs)
      .groupBy("s").agg(count(lit(1)).as("df"))
    val kept = cutoff.fold(df)(c => df.where(col("df") <= c))
    // Column./ is double division — sum df·(df−1) exactly in long, halve on the driver
    kept.agg(coalesce(sum(col("df") * (col("df") - 1)), lit(0L))).first().getLong(0) / 2
  }

  test("minhash candidates track planted dups linearly, recall 1.0 at 1x and 10x") {
    val (small, plantedS) = corpus(300, boilerplate = false)
    val (big, plantedB) = corpus(3000, boilerplate = false)
    val candS = LlmOps.minhashCandidates(small).count()
    graft.ops.Housekeeping.releaseAll()
    val candB = LlmOps.minhashCandidates(big).count()
    graft.ops.Housekeeping.releaseAll()
    info(s"candidates: 1x=$candS 10x=$candB (pair space 1x=${300L * 299 / 2} 10x=${3000L * 2999 / 2})")
    // a quadratic candidate stage would grow ~100×; linear-in-duplicates ~10×
    assert(candB <= 20 * candS, s"candidate growth is super-linear: $candS -> $candB")
    // and the candidate set is a vanishing fraction of the pair space
    assert(candB < (3000L * 2999 / 2) / 100, s"candidates ~pair-space: $candB")
    // recall: every planted pair must survive verification at both scales
    val foundS = LlmOps.nearDupPairs(small).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Housekeeping.releaseAll()
    val foundB = LlmOps.nearDupPairs(big).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Housekeeping.releaseAll()
    assert((plantedS -- foundS).isEmpty, s"1x missed: ${plantedS -- foundS}")
    assert((plantedB -- foundB).isEmpty, s"10x missed: ${plantedB -- foundB}")
  }

  test("ngram df-cutoff bounds the exact join against corpus-wide boilerplate") {
    val (small, plantedS) = corpus(300, boilerplate = true)
    val (big, plantedB) = corpus(3000, boilerplate = true)
    val cutWorkS = joinWork(small, Some(LlmOps.NgramMaxDf))
    val cutWorkB = joinWork(big, Some(LlmOps.NgramMaxDf))
    val rawWorkB = joinWork(big, None)
    info(s"join work: cut 1x=$cutWorkS cut 10x=$cutWorkB uncut 10x=$rawWorkB")
    // boilerplate shingles (df = 3000) dominate the uncut sum; the cutoff
    // must remove ≥ 99% of the join's work...
    assert(cutWorkB * 100 < rawWorkB, s"cutoff removed too little: $cutWorkB vs $rawWorkB")
    // ...and the surviving work must grow ~linearly with the corpus
    assert(cutWorkB <= 20 * cutWorkS, s"post-cutoff work super-linear: $cutWorkS -> $cutWorkB")
    // recall: the cutoff costs no planted pairs at either scale
    val foundS = LlmOps.ngramPairs(small).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Housekeeping.releaseAll()
    val foundB = LlmOps.ngramPairs(big).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Housekeeping.releaseAll()
    assert((plantedS -- foundS).isEmpty, s"1x missed: ${plantedS -- foundS}")
    assert((plantedB -- foundB).isEmpty, s"10x missed: ${plantedB -- foundB}")
  }

  /** A FIXED 15-doc delta (one-word edits of corpus docs) probed against the
    * 1× and 10× corpora: the incremental probe's candidate count must track
    * the DELTA — ~constant across corpus scales — while a per-increment
    * all-pairs check would grow 10×. Recall stays 1.0 at both scales. */
  test("incremental probe work tracks the delta, not the corpus, at 1x and 10x") {
    import spark.implicits._
    // one-word edits of the first 15 unique corpus docs (seeds 62000+i are
    // shared by both corpus sizes; uniques get doc_id 10·n + i)
    def delta(): DataFrame =
      (0 until 15).map { i =>
        val base = words(62000 + i, 40)
        val edited = base.clone()
        edited(10) = if (base(10) == "w2") "w3" else "w2"
        (1000000L + i, edited.mkString(" "))
      }.toDF("doc_id", "text")
    def planted(corpusN: Int): Set[(Long, Long)] =
      (0 until 15).map(i => (1000000L + i, 10L * corpusN + i)).toSet
    val (corpusS, _) = corpus(300, boilerplate = false)
    val (corpusB, _) = corpus(3000, boilerplate = false)
    val candS = LlmOps.incrementalCandidates(delta(), corpusS).count()
    graft.ops.Housekeeping.releaseAll()
    val candB = LlmOps.incrementalCandidates(delta(), corpusB).count()
    graft.ops.Housekeeping.releaseAll()
    info(s"incremental candidates: 1x=$candS 10x=$candB (delta×corpus 1x=${15 * 300} 10x=${15 * 3000})")
    // work ∝ delta: the candidate count may not scale with the corpus
    assert(candB <= 2 * candS + 5, s"probe work grew with the corpus: $candS -> $candB")
    val foundS = LlmOps.incrementalNearDupPairs(delta(), corpusS).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Housekeeping.releaseAll()
    val foundB = LlmOps.incrementalNearDupPairs(delta(), corpusB).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Housekeeping.releaseAll()
    assert((planted(300) -- foundS).isEmpty, s"1x missed: ${planted(300) -- foundS}")
    assert((planted(3000) -- foundB).isEmpty, s"10x missed: ${planted(3000) -- foundB}")
  }
}
