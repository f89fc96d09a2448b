package graft

import graft.ops.{Housekeeping, LlmOps, SourceSinkOps, StatsOps, StreamingOps}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Soak: repeated invocations of the artifact-creating ops must hold a
  * bounded footprint (one live generation each). The registries are
  * per-JVM, and the scratch root carries leftovers from earlier JVMs, so
  * every bound is asserted as *growth within this JVM*, not an absolute
  * count; a count that is 0 after the first run would prove nothing, so
  * each sink/table prefix is also asserted present. */
class HousekeepingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Where [[Housekeeping.scratchDir]] creates its directories. */
  private lazy val scratchRoot = {
    val probe = Housekeeping.scratchDir("hk_probe")
    Housekeeping.deleteRecursively(probe)
    probe.getParent
  }

  private def scratchCount(prefix: String): Int = {
    val ls = Files.list(scratchRoot)
    try ls.iterator().asScala.count(_.getFileName.toString.startsWith(prefix))
    finally ls.close()
  }

  test("repeated bucketed-join runs keep one table generation") {
    SourceSinkOps.sinkBucketedJoin.fn(spark, TestSpark.sf0001).count() // gen 1
    val dirsAfterFirst = scratchCount("graft_bucketed")
    assert(dirsAfterFirst >= 1, s"no graft_bucketed dir under $scratchRoot")
    val tablesAfterFirst = spark.catalog.listTables().collect()
      .count(_.name.startsWith("li_bucketed_"))
    (1 to 2).foreach(_ => SourceSinkOps.sinkBucketedJoin.fn(spark, TestSpark.sf0001).count())
    val tablesAfter = spark.catalog.listTables().collect()
      .count(_.name.startsWith("li_bucketed_"))
    assert(tablesAfter == tablesAfterFirst,
      s"live bucketed tables grew $tablesAfterFirst -> $tablesAfter")
    assert(scratchCount("graft_bucketed") <= dirsAfterFirst,
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
    val sinkAfterFirst = scratchCount("st_dedup_out")
    assert(sinkAfterFirst >= 1, s"no st_dedup_out sink dir under $scratchRoot")
    val ckptAfterFirst = scratchCount("st_dedup_ckpt")
    val srcAfterFirst = scratchCount("st_dedup_src")
    StreamingOps.streamDedup.fn(spark, TestSpark.sf0001).count()
    assert(scratchCount("st_dedup_out") <= sinkAfterFirst, "sink dirs must not accumulate")
    assert(scratchCount("st_dedup_ckpt") <= ckptAfterFirst, "checkpoints must be deleted after drain")
    assert(scratchCount("st_dedup_src") <= srcAfterFirst, "staged sources must be deleted after drain")

    StreamingOps.streamTumblingWatermark.fn(spark, TestSpark.sf0001).count()
    val viewsAfterFirst = spark.catalog.listTables().collect()
      .count(_.name.startsWith("st_tumble_"))
    StreamingOps.streamTumblingWatermark.fn(spark, TestSpark.sf0001).count()
    val viewsAfter = spark.catalog.listTables().collect()
      .count(_.name.startsWith("st_tumble_"))
    assert(viewsAfter == viewsAfterFirst,
      s"memory-sink views grew $viewsAfterFirst -> $viewsAfter")
  }

  test("index store: built once per content key and kept by releaseAll") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    def store(ck: String) = Housekeeping.indexStore(ck) { dir =>
      builds.incrementAndGet()
      Files.writeString(dir.resolve("x"), ck)
    }
    // unique per run: the stores are process-wide
    val ckA = s"hk_spec_index|A|${System.nanoTime()}"
    val a = store(ckA)
    assert(store(ckA) == a && builds.get == 1, "a second call must not rebuild")
    // releaseAll (the between-queries reset) keeps the store: it is the
    // declared build-once artifact every probing key reads
    Housekeeping.releaseAll()
    assert(store(ckA) == a && builds.get == 1, "releaseAll must keep the store")
    // a second content key gets its own store and leaves the first readable
    val b = store(s"hk_spec_index|B|${System.nanoTime()}")
    assert(b != a && builds.get == 2)
    assert(Files.readString(a.resolve("x")) == ckA, "the first store must stay readable")
    assert(store(ckA) == a && builds.get == 2)
    // a store whose directory is gone is rebuilt
    Housekeeping.deleteRecursively(a)
    val a2 = store(ckA)
    assert(builds.get == 3 && Files.readString(a2.resolve("x")) == ckA)
    Housekeeping.deleteRecursively(a2)
    Housekeeping.deleteRecursively(b)
  }

  test("repeated jsonl/orc round-trips keep one temp dir each") {
    SourceSinkOps.sourceJsonlRoundtrip.fn(spark, TestSpark.sf0001).count()
    SourceSinkOps.sourceOrcRoundtrip.fn(spark, TestSpark.sf0001).count()
    val jsonlAfterFirst = scratchCount("graft_jsonl")
    val orcAfterFirst = scratchCount("graft_orc")
    assert(jsonlAfterFirst >= 1 && orcAfterFirst >= 1,
      s"no graft_jsonl/graft_orc dir under $scratchRoot")
    (1 to 2).foreach { _ =>
      SourceSinkOps.sourceJsonlRoundtrip.fn(spark, TestSpark.sf0001).count()
      SourceSinkOps.sourceOrcRoundtrip.fn(spark, TestSpark.sf0001).count()
    }
    assert(scratchCount("graft_jsonl") <= jsonlAfterFirst, "jsonl dirs must not accumulate")
    assert(scratchCount("graft_orc") <= orcAfterFirst, "orc dirs must not accumulate")
  }

  test("bounded sink dirs live under the scratch root (SPARK_GRAFT_SCRATCH covers them)") {
    val files = StatsOps.statsCollect.fn(spark, TestSpark.sf0001).inputFiles
    assert(files.nonEmpty, "stats_collect must read its persisted stats table back")
    files.foreach { f =>
      val p = Paths.get(new java.net.URI(f))
      assert(p.startsWith(scratchRoot), s"$p lies outside the scratch root $scratchRoot")
    }
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
