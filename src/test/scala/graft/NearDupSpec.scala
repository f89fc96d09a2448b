package graft

import graft.ops.LlmOps
import org.scalatest.funsuite.AnyFunSuite

/** Planted-duplicates fixture for MinHash+LSH near-dedup (FIXTURES.md §2):
  * recall 1.0 on planted near-dupe pairs, precision 1.0 after the
  * verify-Jaccard step, byte-identical across runs (fixed seeds). */
class NearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val vocab = Array("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "order", "data", "column",
    "join", "small", "line", "customer", "query", "big", "window", "stream", "sort",
    "group", "filter", "the", "a", "index")

  private def doc(seed: Int, n: Int): Array[String] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
  }

  /** 10 unique docs, 10 near-dup pairs (one word edited in a 40-word doc —
    * Jaccard on 3-gram shingles ≈ 0.92), 10 unrelated docs. */
  private def fixture() = {
    import spark.implicits._
    val uniques = (0 until 10).map(i => (i.toLong, doc(1000 + i, 40).mkString(" ")))
    val pairs = (0 until 10).flatMap { i =>
      val base = doc(2000 + i, 40)
      val edited = base.clone()
      edited(20) = if (base(20) == "spark") "query" else "spark" // 1-word edit
      Seq((100L + 2 * i, base.mkString(" ")), (101L + 2 * i, edited.mkString(" ")))
    }
    val unrelated = (0 until 10).map(i => (200L + i, doc(3000 + i, 40).mkString(" ")))
    (uniques ++ pairs ++ unrelated).toDF("doc_id", "text")
  }

  test("planted near-duplicates: recall and precision 1.0, deterministic") {
    val docs = fixture()
    val expected = (0 until 10).map(i => (100L + 2 * i, 101L + 2 * i)).toSet
    val found = LlmOps.nearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((expected -- found).isEmpty, s"missed pairs: ${expected -- found}")   // recall
    assert((found -- expected).isEmpty, s"false positives: ${found -- expected}") // precision
    // determinism: second run byte-identical
    val again = LlmOps.nearDupPairs(docs).collect().map(_.toString).toSeq
    val first = LlmOps.nearDupPairs(docs).collect().map(_.toString).toSeq
    assert(again == first)
  }

  /** The exact shingle self-join at threshold 0.8 — the ground truth the
    * LSH candidate stage is measured against (and the shape of the op's
    * DuckDB oracle CTE). Same shingling as the op: distinct word-3-grams,
    * docs with ≥ 3 words. */
  private def exactPairs(docs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] = {
    import org.apache.spark.sql.functions._
    val sh = docs
      .withColumn("words", split(col("text"), " "))
      .where(size(col("words")) >= 3)
      .withColumn("shingles", array_distinct(
        transform(sequence(lit(0), size(col("words")) - 3), i =>
          concat_ws(" ", element_at(col("words"), i + 1),
            element_at(col("words"), i + 2), element_at(col("words"), i + 3)))))
      .select(col("doc_id"), explode(col("shingles")).as("s"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= 0.8)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
  }

  /** The oracle-upgrade proof: a true pair at J ≥ 0.8 escapes all 16 bands
    * with probability ≈ 2·10⁻⁴, and with fixed seeds the escape set is a
    * deterministic property of the corpus — so proving it EMPTY on each test
    * corpus makes the exact shingle-join CTE a valid hash oracle for the op.
    * Asserted at every sf the driver touches (verify runs sf0.01, bench
    * sf0.1), values included. */
  test("candidate recall 1.0 at J>=0.8: LSH output equals the exact shingle join at all sfs") {
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001, TestSpark.sf01)) {
      val docs = graft.tables.Tables.documents(spark, d)
      val lsh = LlmOps.nearDupPairs(docs).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      val exact = exactPairs(docs)
      assert((exact -- lsh).isEmpty, s"$d: LSH missed qualifying pairs: ${exact -- lsh}")
      assert((lsh -- exact).isEmpty, s"$d: LSH emitted non-qualifying pairs: ${lsh -- exact}")
      graft.ops.Housekeeping.releaseAll()
    }
  }

  test("incremental near-dup: delta probe finds exactly the planted cross pairs") {
    import org.apache.spark.sql.functions.col
    val docs = fixture()
    // edited halves of the planted pairs play the delta; their bases (and
    // all other docs) are the standing corpus
    val delta = docs.where(col("doc_id").between(100, 199) && col("doc_id") % 2 === 1)
    val corpus = docs.where(!(col("doc_id").between(100, 199) && col("doc_id") % 2 === 1))
    val expected = (0 until 10).map(i => (101L + 2 * i, 100L + 2 * i)).toSet
    val found = LlmOps.incrementalNearDupPairs(delta, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((expected -- found).isEmpty, s"missed pairs: ${expected -- found}")
    assert((found -- expected).isEmpty, s"false positives: ${found -- expected}")
  }

  /** Exact delta×corpus ground truth under the op's doc_id%5 split — the
    * shape of dedup_incremental_minhash's oracle CTE. */
  private def exactCrossPairs(docs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] = {
    import org.apache.spark.sql.functions._
    val sh = docs
      .withColumn("words", split(col("text"), " "))
      .where(size(col("words")) >= 3)
      .withColumn("shingles", array_distinct(
        transform(sequence(lit(0), size(col("words")) - 3), i =>
          concat_ws(" ", element_at(col("words"), i + 1),
            element_at(col("words"), i + 2), element_at(col("words"), i + 3)))))
      .select(col("doc_id"), explode(col("shingles")).as("s"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") &&
          col("a.doc_id") % 5 === 0 && col("b.doc_id") % 5 =!= 0)
      .groupBy(col("a.doc_id").as("doc_id"), col("b.doc_id").as("dup_of"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_id"), col("n").as("na")), "doc_id")
      .join(sizes.select(col("doc_id").as("dup_of"), col("n").as("nb")), "dup_of")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= 0.8)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("jaccard"))).toSet
  }

  /** Same oracle-validity proof as the full op, for the incremental split:
    * the delta probe's output equals the exact delta×corpus Jaccard pairs at
    * J ≥ 0.8 on every sf the driver touches — recall 1.0 (no band escape),
    * precision 1.0 (verification is exact), values bit-equal. */
  test("incremental recall parity: equals exact delta-corpus join at J>=0.8 at all sfs") {
    import org.apache.spark.sql.functions.col
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001, TestSpark.sf01)) {
      val docs = graft.tables.Tables.documents(spark, d)
      val inc = LlmOps.incrementalNearDupPairs(
          docs.where(col("doc_id") % 5 === 0), docs.where(col("doc_id") % 5 =!= 0))
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
          r.getAs[Double]("jaccard"))).toSet
      val exact = exactCrossPairs(docs)
      assert((exact -- inc).isEmpty, s"$d: probe missed qualifying pairs: ${exact -- inc}")
      assert((inc -- exact).isEmpty, s"$d: probe emitted non-qualifying pairs: ${inc -- exact}")
      graft.ops.Housekeeping.releaseAll()
    }
  }

  /** A short doc, a long doc quoting it wholesale, and an unrelated doc. */
  private def subsetFixture() = {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta eta theta"        // 6 shingles
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")              // 58 unique shingles
    Seq(
      (1L, quote),                    // the short doc
      (2L, s"$quote $filler"),        // long doc quoting it wholesale
      (3L, "iota kappa lambda mu nu xi omicron pi")                    // unrelated
    ).toDF("doc_id", "text")
  }

  test("containment: subset doc flagged one-way where Jaccard stays silent") {
    val docs = subsetFixture()
    val got = LlmOps.containmentPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    graft.ops.Housekeeping.releaseAll()

    // 1 → 2: every one of doc 1's shingles appears in doc 2 (the join spans
    // the quote/filler boundary with mixed shingles, still ⊂ doc 2's set)
    val fwd = got.find(p => p._1 == 1L && p._2 == 2L)
    assert(fwd.exists(_._3 == 100L), s"subset doc must be 100% contained: ${got.toSeq}")
    // 2 → 1: only ~6 of doc 2's ~66 shingles land in doc 1 — below threshold
    assert(!got.exists(p => p._1 == 2L && p._2 == 1L), "superset direction stays quiet")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc untouched")

    // and Jaccard at its own 0.5 threshold does NOT see this pair
    val jac = LlmOps.ngramPairs(docs).collect()
    graft.ops.Housekeeping.releaseAll()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "the containment pair must be invisible to symmetric Jaccard")
  }

  /** Jaccard and containment are two rules over one overlap stage: every
    * Jaccard row equals inter / (na + nb − inter) from the containment rows
    * of the same pair in both orientations (containment at 0 % keeps every
    * overlapping ordered pair), and every such pair at J ≥ 0.5 is a
    * Jaccard row. */
  test("Jaccard rows equal inter / (na + nb - inter) from both containment orientations") {
    val corpora = Seq("subset" -> subsetFixture(), "near-dup" -> fixture(),
      "sf0.001" -> graft.tables.Tables.documents(spark, TestSpark.sf0001))
    for ((name, docs) <- corpora) {
      val cont = LlmOps.containmentPairs(docs, 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
      graft.ops.Housekeeping.releaseAll()
      val jac = LlmOps.ngramPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      graft.ops.Housekeeping.releaseAll()
      val fromCont = cont.collect { case ((a, b), (na, inter)) if a < b =>
        val (nb, interBack) = cont((b, a))
        assert(interBack == inter, s"$name: ($a, $b) shares $inter one way, $interBack back")
        (a, b) -> inter.toDouble / (na + nb - inter)
      }.filter(_._2 >= 0.5)
      assert(jac.nonEmpty || name == "subset", s"$name: no Jaccard rows to compare")
      assert(jac == fromCont, s"$name: Jaccard ${jac.toSeq.sorted} vs containment " +
        s"${fromCont.toSeq.sorted}")
    }
  }

  /** The InferFiltersFromGenerate guard: the one shingle explode reads the
    * cached per-doc arrays, so the not-null/size filter Catalyst injects
    * under the generator never re-derives the shingle tree from `split`.
    * Control: the same explode over the uncached arrays does. */
  test("shingleOccurrences explodes the cached shingle arrays") {
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.functions.{col, explode}
    val docs = graft.tables.Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    def generator(plan: LogicalPlan): Generate = {
      val gs = plan.collect { case g: Generate => g }
      assert(gs.size == 1, s"expected one Generate:\n$plan")
      gs.head
    }
    def input(p: LogicalPlan): LogicalPlan = p match {
      case Filter(_, c) => input(c)
      case Project(_, c) => input(c)
      case other => other
    }
    def splitsUnder(g: Generate): Int =
      g.child.collect { case f: Filter => f.condition.collect { case e: StringSplit => e }.size }.sum

    val occ = LlmOps.shingleOccurrences("spec_occurrences", docs)
    val g = generator(occ.queryExecution.optimizedPlan)
    assert(input(g.child).isInstanceOf[InMemoryRelation], s"Generate input:\n${g.child}")
    assert(splitsUnder(g) == 0, s"split re-derived under the generator:\n${g.child}")
    assert(occ.columns.toSeq == Seq("doc_id", "s"))
    graft.ops.Housekeeping.releaseAll()

    val uncached = LlmOps.shingleArrays(docs).select(col("doc_id"), explode(col("shingles")).as("s"))
    assert(splitsUnder(generator(uncached.queryExecution.optimizedPlan)) > 0,
      "control: the uncached explode no longer shows the trap")
  }

  test("near-dedup is idempotent on the real documents table") {
    val docs = graft.tables.Tables.documents(spark, TestSpark.sf0001)
    val once = LlmOps.nearDupPairs(docs).collect().map(_.toString).toSeq
    val twice = LlmOps.nearDupPairs(docs).collect().map(_.toString).toSeq
    assert(once == twice)
  }
}
