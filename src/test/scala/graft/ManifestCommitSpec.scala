package graft

import graft.ops.{SourceSinkOps, TableManifest}
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBus
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

/** The transactional claims of [[TableManifest]] — the rename-commit half
  * the round-8 layout ops were missing:
  *
  *  1. SNAPSHOT ISOLATION: a reader that captured the manifest before a
  *     delete commit still reads the full old content afterwards (old files
  *     stay on disk until vacuum).
  *  2. NO TORN READS: a reader loop running concurrently with a live commit
  *     only ever observes the old row count or the new row count — never a
  *     mix (the only reader-visible mutation is one atomic rename).
  *  3. VACUUM: removes exactly the orphaned generation, leaves the current
  *     snapshot untouched.
  */
class ManifestCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("manifest commit: snapshot isolation, atomic swap under a concurrent reader, vacuum") {
    val root = Files.createTempDirectory("manifest_commit_spec")
    try {
      val standing = root.resolve("standing")
      val li = Tables.lineitem(spark, TestSpark.sf0001)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
      li.repartitionByRange(16, col("l_orderkey"), col("l_linenumber"))
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .write.mode("overwrite").parquet(standing.toString)
      TableManifest.commit(root, 1, TableManifest.parquetFiles(standing))

      val mx = li.agg(max(col("l_orderkey")).cast("long")).first().getLong(0)
      val hi = mx / 20
      val oldCount = li.count()
      val newCount = li.where(col("l_orderkey") > hi).count()
      assert(newCount < oldCount, "fixture must actually delete something")

      // a reader pins the v1 snapshot (file list) before the commit
      val (v1, v1Files) = TableManifest.read(root)
      assert(v1 == 1)

      // concurrent reader: loop read-manifest → count rows while the commit
      // runs; every observation must be exactly the old or the new count
      val stop = new AtomicBoolean(false)
      val observed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val readerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val reader = new Thread(() => {
        try {
          while (!stop.get()) {
            val (_, files) = TableManifest.read(root)
            files.foreach(f => assert(Files.exists(f), s"manifest lists missing file $f"))
            observed.add(spark.read.parquet(files.map(_.toString): _*).count())
          }
        } catch { case t: Throwable => readerFailure.set(t) }
      })
      reader.start()
      try SourceSinkOps.targetedDeleteCommit(spark, root, 0L, hi)
      finally { stop.set(true); reader.join(60000) }
      if (readerFailure.get() != null) throw readerFailure.get()
      import scala.jdk.CollectionConverters._
      val counts = observed.asScala.toSet
      assert(counts.nonEmpty, "concurrent reader never completed a read")
      assert(counts.subsetOf(Set(oldCount, newCount)),
        s"torn read: observed $counts, legal = {$oldCount, $newCount}")
      info(s"concurrent reader made ${observed.size} reads, observed counts $counts")

      // snapshot isolation: the pinned v1 file list still reads in full
      assert(spark.read.parquet(v1Files.map(_.toString): _*).count() == oldCount,
        "pre-commit snapshot broken after the delete commit")

      // the committed table is the delete result
      assert(TableManifest.readTable(spark, root).count() == newCount)

      // vacuum drops only the superseded generation; current snapshot intact
      val (_, live) = TableManifest.read(root)
      val removed = TableManifest.vacuum(root)
      assert(removed == v1Files.map(_.toString).toSet.diff(live.map(_.toString).toSet).size)
      live.foreach(f => assert(Files.exists(f), s"vacuum removed a live file $f"))
      assert(TableManifest.readTable(spark, root).count() == newCount)
    } finally graft.ops.Housekeeping.deleteRecursively(root)
  }

  test("compaction commit swaps the fragmented generation atomically") {
    val root = Files.createTempDirectory("manifest_compact_spec")
    try {
      val frag = root.resolve("fragmented")
      Tables.lineitem(spark, TestSpark.sf0001)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_linestatus")
        .repartition(64)
        .write.mode("overwrite").parquet(frag.toString)
      TableManifest.commit(root, 1, TableManifest.parquetFiles(frag))
      val rows = TableManifest.readTable(spark, root).count()

      val (before, after) = SourceSinkOps.compactCommit(spark, root, 512 * 1024)
      assert(before >= 32 && after < before)
      // content preserved, version advanced, old fragments still on disk
      // (snapshot) until vacuum
      assert(TableManifest.readTable(spark, root).count() == rows)
      val (v2, live) = TableManifest.read(root)
      assert(v2 == 2)
      assert(TableManifest.parquetFiles(root).size == before + after)
      assert(TableManifest.vacuum(root) == before)
      assert(TableManifest.parquetFiles(root).map(_.toString).sorted ==
        live.map(_.toString).sorted)
    } finally graft.ops.Housekeeping.deleteRecursively(root)
  }

  test("optimistic concurrency: racing writers from one base — exactly one wins") {
    import spark.implicits._
    val root = Files.createTempDirectory("cas_spec")
    try {
      val gen1 = root.resolve("gen1")
      (1L to 50L).toDF("k").write.parquet(gen1.toString)
      TableManifest.commit(root, 1, TableManifest.parquetFiles(gen1))

      // both writers prepare their generation against base version 1,
      // then race the conditional commit from a start latch
      val genA = root.resolve("genA"); val genB = root.resolve("genB")
      (51L to 60L).toDF("k").write.parquet(genA.toString)
      (61L to 70L).toDF("k").write.parquet(genB.toString)
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
      val ts = Seq("A" -> genA, "B" -> genB).map { case (name, gen) =>
        new Thread(() => {
          start.await()
          results.put(name,
            TableManifest.commitIfVersion(root, 1,
              TableManifest.parquetFiles(gen1) ++ TableManifest.parquetFiles(gen)))
        })
      }
      ts.foreach(_.start()); start.countDown(); ts.foreach(_.join(60000))

      import scala.jdk.CollectionConverters._
      val wins = results.asScala.filter(_._2).keys.toSeq
      assert(wins.size == 1, s"expected exactly one winning writer, got $results")
      val (v, live) = TableManifest.read(root)
      assert(v == 2, "lost-race commit must not advance the version")
      val winnerGen = if (wins.head == "A") genA else genB
      val loserGen = if (wins.head == "A") genB else genA
      assert(TableManifest.parquetFiles(winnerGen)
        .forall(f => live.map(_.toString).contains(f.toString)))
      assert(TableManifest.parquetFiles(loserGen)
        .forall(f => !live.map(_.toString).contains(f.toString)),
        "loser's files leaked into the committed snapshot")

      // the loser follows the protocol: re-read the new base, rebase, retry
      val (base2, live2) = TableManifest.read(root)
      assert(TableManifest.commitIfVersion(root, base2,
        live2 ++ TableManifest.parquetFiles(loserGen)))
      assert(TableManifest.read(root)._1 == 3)
      assert(TableManifest.readTable(spark, root).as[Long].collect().toSet ==
        (1L to 70L).toSet, "rebased retry must see both writers' rows")
    } finally graft.ops.Housekeeping.deleteRecursively(root)
  }

  test("reading a manifest table starts no Spark job") {
    import spark.implicits._
    val root = Files.createTempDirectory("manifest_open_spec")
    try {
      val gen1 = root.resolve("gen1")
      (1L to 100L).map(i => (i, s"r$i")).toDF("k", "s").repartition(4)
        .write.parquet(gen1.toString)
      TableManifest.commit(root, 1, TableManifest.parquetFiles(gen1))
      val (table, opening) = ListenerBus.jobsStarted(spark.sparkContext)(
        TableManifest.readTable(spark, root))
      assert(opening == 0, s"$opening jobs started while opening the table")
      assert(table.count() == 100L)
    } finally graft.ops.Housekeeping.deleteRecursively(root)
  }

  test("time travel: a past version stays byte-reproducible until vacuum") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tt_spec")
    try {
      val v1 = (1L to 100L).map(i => (i, s"r$i")).toDF("k", "s")
      val gen1 = root.resolve("gen1")
      v1.repartition(4).write.parquet(gen1.toString)
      TableManifest.commit(root, 1, TableManifest.parquetFiles(gen1))
      // v2 drops half the rows into a fresh generation (v1 files retained)
      val gen2 = root.resolve("gen2")
      TableManifest.readTable(spark, root).where($"k" > 50)
        .write.parquet(gen2.toString)
      TableManifest.commit(root, 2, TableManifest.parquetFiles(gen2))
      // AFTER the v2 commit, v1 is still exactly the original content
      val asOf1 = TableManifest.readTableAsOf(spark, root, 1)
        .as[(Long, String)].collect().toSet
      assert(asOf1 == (1L to 100L).map(i => (i, s"r$i")).toSet)
      val asOf2 = TableManifest.readTableAsOf(spark, root, 2)
        .as[(Long, String)].collect().toSet
      assert(asOf2 == (51L to 100L).map(i => (i, s"r$i")).toSet)
      assert(TableManifest.read(root)._1 == 2L, "current version moved to 2")
      // vacuum reclaims v1's files; the CURRENT snapshot must survive intact
      assert(TableManifest.vacuum(root) > 0)
      assert(TableManifest.readTable(spark, root)
        .as[(Long, String)].collect().toSet == asOf2)
      assertThrows[Exception](
        TableManifest.readTableAsOf(spark, root, 1).collect())
    } finally graft.ops.Housekeeping.deleteRecursively(root)
  }
}
