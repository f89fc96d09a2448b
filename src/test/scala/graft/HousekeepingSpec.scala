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
