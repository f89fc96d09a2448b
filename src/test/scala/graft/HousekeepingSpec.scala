package graft

import graft.ops.{Housekeeping, LlmOps, SourceSinkOps, StreamingOps}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Soak: repeated invocations of the artifact-creating ops must hold a
  * bounded footprint (one live generation each). The registries are
  * per-JVM, and /tmp carries leftovers from earlier JVMs, so every bound is
  * asserted as *growth within this JVM*, not an absolute count. */
class HousekeepingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpCount(prefix: String): Int =
    Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator().asScala
      .count(_.getFileName.toString.startsWith(prefix))

  test("repeated bucketed-join runs keep one table generation") {
    SourceSinkOps.sinkBucketedJoin.fn(spark, TestSpark.sf0001).count() // gen 1
    val dirsAfterFirst = tmpCount("graft_bucketed")
    val tablesAfterFirst = spark.catalog.listTables().collect()
      .count(_.name.startsWith("li_bucketed_"))
    (1 to 2).foreach(_ => SourceSinkOps.sinkBucketedJoin.fn(spark, TestSpark.sf0001).count())
    val tablesAfter = spark.catalog.listTables().collect()
      .count(_.name.startsWith("li_bucketed_"))
    assert(tablesAfter == tablesAfterFirst,
      s"live bucketed tables grew $tablesAfterFirst -> $tablesAfter")
    assert(tmpCount("graft_bucketed") <= dirsAfterFirst,
      "bucketed table dirs must not accumulate across runs")
  }

  test("repeated dedup runs keep one cached signature generation") {
    LlmOps.dedupSimhash.fn(spark, TestSpark.sf0001).count()
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 2).foreach(_ => LlmOps.dedupSimhash.fn(spark, TestSpark.sf0001).count())
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before, s"cached RDD count grew $before -> $after")
  }

  test("repeated streaming runs keep one sink dir and one memory view per op") {
    StreamingOps.streamDedup.fn(spark, TestSpark.sf0001).count()
    val sinkAfterFirst = tmpCount("st_dedup_out")
    val ckptAfterFirst = tmpCount("st_dedup_ckpt")
    val srcAfterFirst = tmpCount("st_src")
    StreamingOps.streamDedup.fn(spark, TestSpark.sf0001).count()
    assert(tmpCount("st_dedup_out") <= sinkAfterFirst, "sink dirs must not accumulate")
    assert(tmpCount("st_dedup_ckpt") <= ckptAfterFirst, "checkpoints must be deleted after drain")
    assert(tmpCount("st_src") <= srcAfterFirst, "staged sources must be deleted after drain")

    StreamingOps.streamTumblingWatermark.fn(spark, TestSpark.sf0001).count()
    val viewsAfterFirst = spark.catalog.listTables().collect()
      .count(_.name.startsWith("st_tumble_"))
    StreamingOps.streamTumblingWatermark.fn(spark, TestSpark.sf0001).count()
    val viewsAfter = spark.catalog.listTables().collect()
      .count(_.name.startsWith("st_tumble_"))
    assert(viewsAfter == viewsAfterFirst,
      s"memory-sink views grew $viewsAfterFirst -> $viewsAfter")
  }

  test("materialization memo: one live generation, content-keyed, survives releaseAll") {
    import graft.ops.Housekeeping
    def put(ck: String, payload: String) =
      Housekeeping.memoPut("hk_spec_memo", ck,
        dir => java.nio.file.Files.writeString(dir.resolve("x"), payload))
    val g1 = put("inputs-A", "one")
    // same content key: a consumer resolves the live generation
    assert(Housekeeping.memoGet("hk_spec_memo", "inputs-A").contains(g1))
    // releaseAll (the between-queries reset) must NOT clear the memo — it is
    // the deliberate cross-query artifact (shared-stage materialization)
    Housekeeping.releaseAll()
    assert(Housekeeping.memoGet("hk_spec_memo", "inputs-A").contains(g1))
    // mismatched content key (different inputs) must miss, not serve stale data
    assert(Housekeeping.memoGet("hk_spec_memo", "inputs-B").isEmpty)
    // a new generation replaces the previous one, but deletion is DEFERRED
    // by one generation: a consumer DataFrame that lazily resolved g1 stays
    // readable across one producer re-run (r10 advisor finding)
    val g2 = put("inputs-B", "two")
    assert(Housekeeping.memoGet("hk_spec_memo", "inputs-B").contains(g2))
    assert(Housekeeping.memoGet("hk_spec_memo", "inputs-A").isEmpty)
    assert(java.nio.file.Files.exists(g1),
      "displaced generation must survive one producer re-run (lazy consumers)")
    // ...and the generation-before-last IS reclaimed: disk stays bounded at
    // two generations per key
    val g3 = put("inputs-C", "three")
    assert(!java.nio.file.Files.exists(g1),
      "generation-before-last must be deleted (bounded disk)")
    assert(java.nio.file.Files.exists(g2))
    Housekeeping.deleteRecursively(g2)
    Housekeeping.deleteRecursively(g3)
  }

  test("dedup_cluster_keep equals its memo-miss result when the pair memo is live") {
    import graft.ops.LlmOps
    // produce the memo (jaccard is the producer), then consume it
    LlmOps.dedupNgramJaccard.fn(spark, TestSpark.sf0001).count()
    val viaMemo = LlmOps.dedupClusterKeep.fn(spark, TestSpark.sf0001).collect().toSeq
    // wipe every artifact INCLUDING nothing-up-my-sleeve: memoGet misses on a
    // different content key only, so force the miss path via a fresh compute
    // by invalidating with a different-sf memo generation
    LlmOps.dedupNgramJaccard.fn(spark, TestSpark.sf001).count()
    val viaMiss = LlmOps.dedupClusterKeep.fn(spark, TestSpark.sf0001)
    // sf0.001's memo key no longer matches -> cluster_keep recomputes pairs
    assert(viaMiss.collect().toSeq == viaMemo,
      "memo-hit and memo-miss cluster_keep results diverged")
  }

  test("repeated jsonl/orc round-trips keep one temp dir each") {
    SourceSinkOps.sourceJsonlRoundtrip.fn(spark, TestSpark.sf0001).count()
    SourceSinkOps.sourceOrcRoundtrip.fn(spark, TestSpark.sf0001).count()
    val jsonlAfterFirst = tmpCount("graft_jsonl")
    val orcAfterFirst = tmpCount("graft_orc")
    (1 to 2).foreach { _ =>
      SourceSinkOps.sourceJsonlRoundtrip.fn(spark, TestSpark.sf0001).count()
      SourceSinkOps.sourceOrcRoundtrip.fn(spark, TestSpark.sf0001).count()
    }
    assert(tmpCount("graft_jsonl") <= jsonlAfterFirst, "jsonl dirs must not accumulate")
    assert(tmpCount("graft_orc") <= orcAfterFirst, "orc dirs must not accumulate")
  }

  test("observed metrics: returned once the action ran; an unrun observation fails in bound") {
    val ran = Observation()
    spark.range(10).observe(ran, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    assert(Housekeeping.observed(ran, "ran_op")("n") == 10L)
    // never executed: the plain Observation.get would wait forever
    val unrun = Observation()
    spark.range(10).observe(unrun, count(lit(1)).as("n"))
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](
      Housekeeping.observed(unrun, "unrun_op", 500.millis))
    val waited = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("unrun_op"))
    assert(waited >= 0.5 && waited < 10, s"waited $waited s for a 0.5 s bound")
  }
}
