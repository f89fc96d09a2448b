package graft

import graft.ops.{Housekeeping, StreamingOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The recovery claims behind `stream_restart_exactly_once` (the oracle
  * proves final content):
  *
  *  1. Run 1 drains exactly delivery 1, then the query stops with its
  *     checkpoint committed.
  *  2. The restarted query RESUMES the batch sequence (checkpoint offsets
  *     advance 0 → 1; delivery 1 is not reprocessed) and the restored
  *     dedup state drops delivery 2's re-uploaded rows — every event id
  *     lands in the sink exactly once.
  *  3. Negative control: losing the checkpoint loses exactly-once — a
  *     rebuilt query over the same source re-emits delivery 1's rows as
  *     duplicates into a sink that lacks its own commit log (foreachBatch
  *     append). The parquet file sink is deliberately NOT used for the
  *     control: its `_spark_metadata` commit log makes re-commits of an
  *     already-committed batch id invisible to metadata-aware reads even
  *     without the checkpoint — the second, independent half of Spark's
  *     exactly-once story, verified here by the control needing to strip it.
  */
class StreamRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def drain(srcDir: String, out: String, ckpt: String): Unit = {
    val q = spark.readStream.schema(graft.tables.Tables.rawEventsSchema)
      .parquet(srcDir)
      .withColumn("ts", graft.tables.Tables.ntzColToTimestamp("ts"))
      .withWatermark("ts", "30 days")
      .dropDuplicates("event_id")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** The two-delivery keys split at `tsMidpoint`, read from the events
    * file's footer: it must be the exact integer midpoint the min/max
    * aggregate over `unix_micros(ts)` gives. */
  test("footer split point equals the aggregate midpoint at every sf") {
    for (d <- Seq(TestSpark.sf0001, TestSpark.sf001, TestSpark.sf01)) {
      val b = graft.tables.Tables.events(spark, d)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).first()
      val expected = b.getLong(0) / 2 + b.getLong(1) / 2
      val got = java.time.temporal.ChronoUnit.MICROS.between(
        java.time.LocalDateTime.of(1970, 1, 1, 0, 0), StreamingOps.tsMidpoint(d))
      assert(got == expected, s"$d: footer midpoint $got, aggregate midpoint $expected")
    }
  }

  test("restart resumes from the checkpoint and keeps exactly-once; checkpoint loss breaks it") {
    val root = Files.createTempDirectory("stream_restart_spec")
    try {
      val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
      val out = root.resolve("out").toString
      val ckpt = root.resolve("ckpt").toString
      val raw = graft.tables.Tables.rawEvents(spark, TestSpark.sf0001)
        .withColumn("ts_us", unix_micros(graft.tables.Tables.ntzColToTimestamp("ts")))
      val bounds = raw.agg(min(col("ts_us")), max(col("ts_us"))).first()
      val cut = bounds.getLong(0) / 2 + bounds.getLong(1) / 2
      val d1 = raw.where(col("ts_us") <= cut).drop("ts_us")
      val redelivered = d1.where(col("event_id") % 10 === 0)
      val d2 = raw.where(col("ts_us") > cut).drop("ts_us").unionAll(redelivered)
      val (n1, nRedelivered, nTotal) = (d1.count(), redelivered.count(), raw.count())
      assert(n1 > 0 && nRedelivered > 0 && nTotal > n1, "fixture split degenerate")

      Housekeeping.withShufflePartitions(spark, 8) {
        StreamingOps.stageDelivery(d1, srcDir, "delivery1.parquet")
        drain(srcDir.toString, out, ckpt)
        assert(spark.read.parquet(out).count() == n1, "run 1 should emit exactly delivery 1")

        StreamingOps.stageDelivery(d2, srcDir, "delivery2.parquet")
        drain(srcDir.toString, out, ckpt)
        val fin = spark.read.parquet(out)
        assert(fin.count() == nTotal, "restart must add exactly the new events")
        assert(fin.groupBy("event_id").count().where(col("count") > 1).count() == 0,
          "a re-uploaded row survived the restored dedup state")
        // the restart RESUMED: batch 1 follows batch 0 in the same checkpoint
        val offsets = new java.io.File(s"$ckpt/offsets").list().toSet
        assert(offsets.contains("0") && offsets.contains("1"),
          s"expected resumed batch sequence {0,1}, got $offsets")

        // negative control: rebuild WITHOUT the old checkpoint — the source
        // re-reads everything and delivery 1 duplicates in a log-less sink
        val out2 = root.resolve("out2").toString
        def drainLogless(ckptDir: String): Unit = {
          val q = spark.readStream.schema(graft.tables.Tables.rawEventsSchema)
            .parquet(srcDir.toString)
            .withColumn("ts", graft.tables.Tables.ntzColToTimestamp("ts"))
            .withWatermark("ts", "30 days")
            .dropDuplicates("event_id")
            .writeStream
            .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.write.mode("append").parquet(out2))
            .option("checkpointLocation", ckptDir)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        drainLogless(root.resolve("ckpt2").toString)
        assert(spark.read.parquet(out2).count() == nTotal)
        Housekeeping.deleteRecursively(root.resolve("ckpt2"))
        drainLogless(root.resolve("ckpt3").toString)
        val broken = spark.read.parquet(out2)
        assert(broken.count() > nTotal &&
          broken.groupBy("event_id").count().where(col("count") > 1).count() > 0,
          "without the checkpoint the rebuilt query should have duplicated delivery 1")
      }
    } finally Housekeeping.deleteRecursively(root)
  }

  test("stream_commit_manifest publishes each micro-batch as one CAS manifest commit") {
    val df = graft.ops.StreamingOps.streamCommitManifest.fn(spark, TestSpark.sf0001)
    assert(df.collect().nonEmpty)
    // No mutable hooks on the op: the rollup reads THROUGH the manifest, so
    // its own inputFiles are root/gen<batchId>/part-*.parquet — recover the
    // table root from the scan and read the manifest directly.
    val inputs = df.inputFiles
    assert(inputs.nonEmpty, "manifest rollup exposes no input files")
    val f = inputs.head
    val part = if (f.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(f))
      else java.nio.file.Paths.get(f)
    val root = part.getParent.getParent
    assert(graft.ops.TableManifest.read(root)._1 == 2,
      s"expected one manifest version per staged delivery (2), " +
        s"got ${graft.ops.TableManifest.read(root)._1}")

    // at-least-once replay: re-publishing an already-committed batchId must
    // be a no-op — same version, same live file set, no rewritten files
    val before = graft.ops.TableManifest.read(root)
    import spark.implicits._
    graft.ops.StreamingOps.publishBatch(root, 0,
      Seq((1L, "x")).toDF("k", "v"))
    val after = graft.ops.TableManifest.read(root)
    assert(after == before,
      s"replayed batch mutated the table: $before -> $after")
  }

  test("manifest sink resumes from the checkpoint: restart adds only the new delivery") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.ops.{StreamingOps, TableManifest}
    import graft.tables.Tables
    val root = Files.createTempDirectory("st_mrestart")
    val src = Files.createTempDirectory("st_mrestart_src")
    val ckpt = Files.createTempDirectory("st_mrestart_ckpt").toString
    try {
      val raw = Tables.rawEvents(spark, TestSpark.sf0001)
        .withColumn("ts_us", unix_micros(Tables.ntzColToTimestamp("ts")))
      val b = raw.agg(min(col("ts_us")), max(col("ts_us"))).first()
      val cut = b.getLong(0) / 2 + b.getLong(1) / 2
      def drain(): Unit = {
        val q = spark.readStream.schema(Tables.rawEventsSchema).parquet(src.toString)
          .select(col("ts"), col("user_id"), col("value"))
          .writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            StreamingOps.publishBatch(root, id, batch)
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      StreamingOps.stageDelivery(raw.where(col("ts_us") <= cut).drop("ts_us"), src, "d1.parquet")
      drain() // run 1: delivery 1 → version 1
      assert(TableManifest.read(root)._1 == 1)
      val afterFirst = TableManifest.readTable(spark, root).count()

      StreamingOps.stageDelivery(raw.where(col("ts_us") > cut).drop("ts_us"), src, "d2.parquet")
      drain() // RESTART from the checkpoint: only delivery 2 replays
      assert(TableManifest.read(root)._1 == 2,
        "restart must add exactly one version for the one new delivery")
      assert(TableManifest.readTable(spark, root).count() == raw.count(),
        "restarted sink lost or duplicated rows")
      assert(TableManifest.readTable(spark, root).count() > afterFirst)

      drain() // nothing new → no batch, no commit
      assert(TableManifest.read(root)._1 == 2,
        "an empty restart must not advance the table version")

      // contention: an EXTERNAL writer commits between sink batches — the
      // sink's publish loop must rebase on top of it, losing neither side
      val gext = root.resolve("external")
      raw.limit(3).select(col("ts"), col("user_id"), col("value"))
        .write.parquet(gext.toString)
      val (vNow, liveNow) = TableManifest.read(root)
      assert(TableManifest.commitIfVersion(root, vNow,
        liveNow ++ TableManifest.parquetFiles(gext)))
      val rowsBefore = TableManifest.readTable(spark, root).count()
      StreamingOps.publishBatch(root, 7,
        raw.limit(5).select(col("ts"), col("user_id"), col("value")))
      assert(TableManifest.read(root)._1 == vNow + 2,
        "sink publish after an external commit must land as the next version")
      assert(TableManifest.readTable(spark, root).count() == rowsBefore + 5,
        "rebase lost the external writer's rows or the sink batch")
    } finally {
      Seq(root, src, java.nio.file.Paths.get(ckpt))
        .foreach(graft.ops.Housekeeping.deleteRecursively)
    }
  }
}
