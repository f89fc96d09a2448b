package graft

import graft.ops.GraftCatalog
import graft.tables.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** The declared table schemas in [[Tables.schemas]]: each equals what Spark
  * infers from the files, and opening a table through them costs no job. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  private val sfDirs = Seq(TestSpark.sf0001, TestSpark.sf001, TestSpark.sf01)
    .filter(d => new java.io.File(d).isDirectory)

  test("every loader's schema equals the schema Spark infers from the file") {
    assert(loaders.map(_._1).toSet == Tables.schemas.keySet)
    assert(sfDirs.contains(TestSpark.sf0001) && sfDirs.contains(TestSpark.sf001))
    for (d <- sfDirs; (t, load) <- loaders) {
      val inferred = spark.read.parquet(s"$d/$t.parquet").schema
      assert(Tables.schemas(t) == inferred, s"$t at $d")
      // events: the loader's one documented adaptation, ts NTZ -> LTZ
      val expected = if (t != "events") inferred else StructType(inferred.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampType) else f))
      assert(load(spark, d).schema == expected, s"$t at $d")
      assert(Tables.load(spark, d, t).schema == expected, s"$t at $d")
    }
    assert(Tables.rawEvents(spark, TestSpark.sf001).schema == Tables.rawEventsSchema)
  }

  test("opening every table and registering the SQL views starts no Spark job") {
    val s = spark.newSession()
    val sc = s.sparkContext
    // count only this thread's jobs: the tag is a thread-local property
    // every job started from here carries
    val tag = s"tables-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.tag") == tag)
          jobs.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try {
      loaders.foreach { case (_, load) => load(s, TestSpark.sf001) }
      GraftCatalog.registerAll(s, TestSpark.sf001)
      ListenerBus.drain(sc)
      assert(jobs.get == 0, s"${jobs.get} jobs started while opening tables")
      // the views are live and typed: a query through them runs
      assert(s.sql("SELECT COUNT(*) FROM events").first().getLong(0) > 0)
      ListenerBus.drain(sc)
      assert(jobs.get > 0, "the tag did not reach the query's jobs")
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }
}
