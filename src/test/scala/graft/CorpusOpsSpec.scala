package graft

import graft.ops.{JoinOps, LlmOps, PipelineOps, TextOps}
import org.scalatest.funsuite.AnyFunSuite

/** The round-9 corpus-curation batch: substring-span dedup, the overlapping
  * RAG chunker, blocked entity resolution, and PQ ANN. Semantics are proven
  * on planted fixtures (the sf tables only prove plumbing); PQ gets the same
  * recall-floor treatment as the LSH/IVF specs. */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ------------------------------------------------- dedup_substring_spans

  test("substring spans: planted 12-word span shared by two docs is found, " +
    "unique text is not") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"$shared delta epsilon zeta"),
      (3L, "an entirely different text with twelve plus unique words " +
        "one two three four five six")).toDF("doc_id", "text")
    assert(LlmOps.dedupSubstringSpans.fn(spark, TestSpark.sf0001).columns.toSeq ==
      Seq("span_hash", "n_docs", "n_occ", "keep_doc"))
    // fixture-level semantics via the same program shape, over planted docs
    import org.apache.spark.sql.functions._
    val spans = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 12)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("w")) - 11),
          i => md5(array_join(slice(col("w"), i, lit(12)), " ")))).as("span_hash"))
      .groupBy("span_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"), min("doc_id").as("keep_doc"))
      .where(col("n_docs") >= 2)
      .collect()
    // doc1 and doc2 share exactly the one planted 12-token window
    assert(spans.length == 1, s"expected exactly the planted span, got ${spans.length}")
    assert(spans.head.getAs[Long]("keep_doc") == 1L)
  }

  test("substring spans: sf run emits only multi-doc spans, keep_doc is the min") {
    val rows = LlmOps.dedupSubstringSpans.fn(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty, "sf0.01 has planted near/exact dups sharing 12-grams")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("n_docs"))
    }
  }

  // --------------------------------------------------- text_chunk_overlap

  test("chunker: stride/size invariants — every word covered, overlap = size-stride") {
    val out = TextOps.textChunkOverlap.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.nonEmpty)
    val byDoc = out.groupBy(_._1)
    val docWords = graft.tables.Tables.documents(spark, TestSpark.sf001)
      .selectExpr("doc_id", "size(split(text, ' ')) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (doc, chunks) =>
      val n = docWords(doc).toLong
      val idx = chunks.map(_._2).sorted.toSeq
      // chunk_idx is dense 0..k-1 with starts 1, 1+16, … ≤ n
      assert(idx == (0L until idx.length.toLong),
        s"doc $doc chunk indices not dense: ${idx.toList}")
      assert(idx.length == (n - 1) / 16 + 1, s"doc $doc wrong chunk count for n=$n")
      chunks.foreach { case (_, ci, nw, _) =>
        val start = ci * 16 + 1
        val expect = math.min(24L, n - start + 1)
        assert(nw == expect, s"doc $doc chunk $ci n_words=$nw expect=$expect")
      }
      // coverage: the furthest word any chunk reaches is exactly the last word
      assert(chunks.map(c => c._2 * 16 + c._3).max == n,
        s"doc $doc chunks do not cover through word $n")
    }
  }

  // ----------------------------------------------- join_entity_resolution

  test("entity resolution: identical names in a block match at distance 0, " +
    "blocking never pairs across first tokens") {
    val rows = JoinOps.joinEntityResolution.fn(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty, "sf0.01 part has duplicate (name, size) combos")
    val parts = graft.tables.Tables.part(spark, TestSpark.sf001)
      .selectExpr("p_partkey", "p_name", "p_size").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    rows.foreach { r =>
      val (a, bd, bm) =
        (r.getAs[Long]("p_partkey"), r.getAs[Int]("best_dist"), r.getAs[Long]("best_match"))
      val (na, sa) = parts(a); val (nb, sb) = parts(bm)
      assert(sa == sb, "match crossed a p_size block")
      assert(na.split(" ").head == nb.split(" ").head, "match crossed a name block")
      assert(bd >= 0 && bd <= 3)
      if (na == nb) assert(bd == 0)
    }
    // symmetry of the underlying pair relation: a's best match also has a row
    val keys = rows.map(_.getAs[Long]("p_partkey")).toSet
    rows.foreach(r => assert(keys.contains(r.getAs[Long]("best_match")),
      "levenshtein is symmetric, so every best_match must itself be matched"))
  }

  // ------------------------------------------------ dedup_substring_trim

  test("substring trim: every trimmed doc loses >= one span width, " +
    "kept = total - dup, and trims exist wherever multi-doc spans exist") {
    val spans = LlmOps.dedupSubstringSpans.fn(spark, TestSpark.sf001).collect()
    val trims = LlmOps.dedupSubstringTrim.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.nonEmpty && trims.nonEmpty,
      "sf0.01 plants duplicate content, so both detection and trim must fire")
    trims.foreach { case (doc, nWords, nDup, nKept) =>
      assert(nDup >= 12, s"doc $doc trims $nDup < one span width")
      assert(nDup <= nWords, s"doc $doc trims more words than it has")
      assert(nKept == nWords - nDup, s"doc $doc kept-count arithmetic broken")
    }
    // a span's canonical keeper is never trimmed below a NON-keeper of the
    // same span: every keep_doc with a 2-doc span must leave >= 1 other doc
    // trimmed, so trimmed docs exist outside the keeper set
    val keepers = spans.map(_.getAs[Long]("keep_doc")).toSet
    assert(trims.exists(t => !keepers.contains(t._1)),
      "at least one trimmed doc must be a pure non-keeper")
  }

  test("substring trim: interval sweep equals position-mark counting on " +
    "overlapping, adjacent, gapped and single spans") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Planted matched-span starts covering every interval-union shape the
    // sweep must get right: overlap (1,5), gap (40), exact adjacency chain
    // (3,15,27 — intervals touch end-to-start), and a lone span.
    val matched = Seq(
      (1L, 100, 1), (1L, 100, 5), (1L, 100, 40),
      (2L, 60, 3), (2L, 60, 15), (2L, 60, 27),
      (3L, 30, 7)).toDF("doc_id", "n_words", "i")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("i")
    val sweep = LlmOps.marksAsIntervals(matched, w)
      .groupBy("doc_id").agg(sum("cov").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the round-17 spelling: explode each span into its SpanW positions,
    // de-duplicate, count
    val marks = matched
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + 11)).as("pos"))
      .distinct().groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sweep == marks, s"sweep $sweep != position marks $marks")
    assert(sweep == Map(1L -> 28L, 2L -> 36L, 3L -> 12L), "hand-computed unions")
  }

  // --------------------------------------------- stats_countmin_estimate

  test("count-min: estimate >= exact always, collisions over-count within " +
    "2N/w on the fixed corpus") {
    val rows = graft.ops.StatsOps.statsCountminEstimate.fn(spark, TestSpark.sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val bigN = rows.map(_._2).sum
    val bound = 2L * bigN / 64L
    rows.foreach { case (u, exact, est) =>
      assert(est >= exact, s"user $u: CMS under-counted ($est < $exact)")
      assert(est - exact <= bound,
        s"user $u: overestimate ${est - exact} above 2N/w = $bound")
    }
    // at 150 keys over 64 columns collisions are structural, not incidental
    assert(rows.count { case (_, e, s0) => s0 > e } > 0,
      "expected at least one colliding key at sf0.01")
  }

  // ------------------------------------------------- text_lm_score_filter

  test("lm score filter: scores bounded in [0, 1e6], flag consistent, " +
    "identical texts score identically") {
    val rows = TextOps.textLmScoreFilter.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (doc, nBi, score, flag) =>
      assert(nBi >= 1, s"doc $doc has no bigrams but was scored")
      // mean of per-bigram ppm values, each ≤ 1e6 by construction
      assert(score >= 0 && score <= 1000000L, s"doc $doc score $score out of range")
      assert(flag == (if (score >= 1000) 1 else 0), s"doc $doc flag/score mismatch")
    }
    val texts = graft.tables.Tables.documents(spark, TestSpark.sf001)
      .selectExpr("doc_id", "md5(text) AS h").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.groupBy { case (doc, _, _, _) => texts(doc) }.foreach { case (_, grp) =>
      assert(grp.map(g => (g._2, g._3, g._4)).distinct.length == 1,
        "byte-identical documents must receive identical LM scores")
    }
  }

  // ------------------------------------------------- sample_mixture_quota

  test("mixture quota: every source lands exactly 3·min/4 docs, content-keyed") {
    val rows = PipelineOps.sampleMixtureQuota.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val bySource = rows.groupBy(_._2).view.mapValues(_.length).toMap
    val counts = graft.tables.Tables.documents(spark, TestSpark.sf001)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val quota = counts.values.min * 3 / 4
    assert(bySource.keySet == counts.keySet, "a source stratum vanished")
    bySource.foreach { case (src, n) =>
      assert(n.toLong == quota, s"source $src kept $n, quota is $quota")
    }
    // content-keyed: a rerun selects the identical doc set
    val again = PipelineOps.sampleMixtureQuota.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.sameElements(again), "quota selection must be deterministic")
  }

  // --------------------------------------------------- agg_bitmap_distinct

  test("bitmap distinct: popcount rollup equals count_distinct on every group") {
    val rows = graft.ops.AggOps.aggBitmapDistinct.fn(spark, TestSpark.sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bitmap") == r.getAs[Long]("n_exact"),
        s"bitmap distinct diverged on ${r.getString(0)}")
    }
  }

  // --------------------------------------------------- ts_sliding_distinct

  test("sliding distinct: equals the brute-force trailing-7-day model") {
    val got = graft.ops.TimeSeriesOps.tsSlidingDistinct.fn(spark, TestSpark.sf0001)
      .collect().map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val ev = graft.tables.Tables.events(spark, TestSpark.sf0001)
      .selectExpr("CAST(ts AS DATE) AS d0", "user_id").distinct().collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val days = ev.map(_._1).distinct
    val model = days.map { d =>
      d -> ev.filter { case (ed, _) =>
        !ed.isAfter(d) && !ed.isBefore(d.minusDays(6))
      }.map(_._2).distinct.length.toLong
    }.toMap
    assert(got == model, "sliding distinct diverged from the brute-force model")
  }

  // --------------------------------------------- sim_search_hybrid_rrf

  test("hybrid RRF: deterministic, positive fused scores, monotone in rank") {
    val r1 = LlmOps.simSearchHybridRrf.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    graft.ops.Housekeeping.releaseAll()
    val r2 = LlmOps.simSearchHybridRrf.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    graft.ops.Housekeeping.releaseAll()
    assert(r1.sameElements(r2), "hybrid ranking must be deterministic")
    r1.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length),
        s"query $q ranks not dense")
      assert(sorted.forall(_._4 > 0L), s"query $q has a zero fused score")
      // rrf non-increasing with rank (ties broken by doc id, score ties legal)
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 >= b._4, s"query $q fused score increased with rank")
      case _ => ()
      }
    }
  }

  // --------------------------------------------- pipeline_incremental_update

  test("incremental corpus update: standing+delta two-phase run equals the " +
    "one-shot full rebuild exactly") {
    val inc = graft.ops.PipelineOps.pipelineIncrementalUpdate.fn(spark, TestSpark.sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    graft.ops.Housekeeping.releaseAll()
    val full = graft.ops.PipelineOps.pipelineCorpusBuild.fn(spark, TestSpark.sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    graft.ops.Housekeeping.releaseAll()
    assert(inc.sameElements(full),
      "incremental algebra must reproduce the full rebuild bit-for-bit")
    assert(inc.map(_._1).toSeq == Seq("test", "train", "val"))
  }

  // ------------------------------------------------- sink_vacuum_retention

  test("vacuum: reclaims superseded files, kills the v1 snapshot, leaves " +
    "the live read byte-identical") {
    import graft.ops.TableManifest
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("vacuum_spec")
    try {
      val li = graft.tables.Tables.lineitem(spark, TestSpark.sf0001)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      li.repartitionByRange(8, col("l_orderkey"), col("l_linenumber"))
        .write.mode("overwrite").parquet(root.resolve("standing").toString)
      TableManifest.commit(root, 1, TableManifest.parquetFiles(root.resolve("standing")))
      // v2: drop half the files from the manifest (a pure-reference delete)
      val (v1, files) = TableManifest.read(root)
      assert(v1 == 1L && files.size == 8)
      TableManifest.commit(root, 2, files.take(4))
      val before = TableManifest.readTable(spark, root)
        .agg(count(lit(1)), sum(col("l_quantity"))).first()
      assert(TableManifest.readTableAsOf(spark, root, 1).count() > 0,
        "pre-vacuum, the v1 snapshot must still be readable")
      val removed = TableManifest.vacuum(root)
      assert(removed == 4, s"expected the 4 dropped files reclaimed, got $removed")
      val after = TableManifest.readTable(spark, root)
        .agg(count(lit(1)), sum(col("l_quantity"))).first()
      assert(before == after, "vacuum changed the live table")
      intercept[Exception] {
        TableManifest.readTableAsOf(spark, root, 1).count()
      }
    } finally graft.ops.Housekeeping.deleteRecursively(root)
  }

  // --------------------------------------------- stream_upsert_foreachbatch

  test("streaming upsert: multi-batch incremental merge equals the batch " +
    "latest-per-user model") {
    val got = graft.ops.StreamingOps.streamUpsertForeachbatch.fn(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(graft.ops.StreamingOps.lastRoot("upsert_versions", TestSpark.sf0001).toInt >= 2,
      "expected a genuinely multi-batch run (maxFilesPerTrigger=1, two deliveries)")
    val model = graft.tables.Tables.events(spark, TestSpark.sf0001)
      .selectExpr("user_id", "event_id", "value",
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn")
      .where("rn = 1").selectExpr("user_id", "event_id", "value")
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.sameElements(model), "incremental upsert diverged from batch merge")
  }

  // -------------------------------------------------------- sim_search_ann_pq

  test("ann_pq: deterministic, bounded shortlist work, recall@5 above floor") {
    val pq1 = LlmOps.simSearchAnnPq.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    graft.ops.Housekeeping.releaseAll()
    val pq2 = LlmOps.simSearchAnnPq.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    graft.ops.Housekeeping.releaseAll()
    assert(pq1.sameElements(pq2), "PQ output must be run-to-run deterministic")

    // work bound: the exact-cosine stage sees ≤ shortlist rows per query
    val cand = LlmOps.pqCandidates(spark, TestSpark.sf001)
      .groupBy("query_id").count().collect()
    graft.ops.Housekeeping.releaseAll()
    cand.foreach(r => assert(r.getLong(1) <= 48, "shortlist overflow"))

    val brute = LlmOps.simSearchKnnPerQuery.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = pq1.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(approx.keySet == brute.keySet, "every query must produce candidates")
    val recalls = brute.map { case (q, truth) =>
      (approx(q) & truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@5 = $mean%.2f")
    assert(mean >= 0.3, f"mean recall $mean%.2f below floor")
  }

  test("ann_pq: a code word lacking a sub fails the query instead of sinking the neighbor") {
    import spark.implicits._
    val lut = (0 until 4 * 16).map(_.toDouble)
    val whole = Seq((Seq(1, 2, 3, 4), lut)).toDF("cells", "lut")
    // 0.0 + lut(1) + lut(16 + 2) + lut(32 + 3) + lut(48 + 4)
    assert(whole.select(LlmOps.pqApproxDot).first().getDouble(0) == 1.0 + 18 + 35 + 52)
    val short = Seq((Seq(1, 2, 3, 4), lut), (Seq(1, 2, 3), lut)).toDF("cells", "lut")
    val e = intercept[Exception](short.select(LlmOps.pqApproxDot).collect())
    assert(e.getMessage.contains("lacks one of its 4 subs"), e.getMessage)
  }
}
