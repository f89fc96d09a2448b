package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Housekeeping, StreamingOps, TableManifest}

/** Contract for `stream_index_compact` / [[StreamingOps.compactStandingTable]]
  * (round 17; the round-16 verdict's #3 — streaming standing-state needs the
  * same maintenance move the batch side ships as `sink_compact_small_files`):
  *
  *   1. READER SNAPSHOT ISOLATION — a reader pinned to a pre-compaction
  *      version keeps reading EXACTLY its snapshot while the compaction
  *      commits (vacuum deferred), and the compacted version's content is
  *      row-identical to the pinned snapshot's; vacuum then reclaims the
  *      superseded files without touching the live version.
  *   2. FILE-COUNT COLLAPSE + ZONE-MAP GEOMETRY — N overlapping per-batch
  *      generations make a point probe touch ~1 file PER generation; after
  *      compaction the table is one clustered generation and the same probe
  *      touches ≤ 2 files, at ≥ 8× fewer total files.
  *   3. WIRED TRIGGER — `stream_dedup_minhash`'s every-K-generations tick
  *      compacts the standing band AND shingle tables under the CAS once K
  *      generations accrue, with the fold's pair output unchanged.
  */
class StreamIndexCompactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  /** A standing table in the per-batch folds' exact layout: `gens`
    * generations of (doc_id, v) rows, each range-clustered on doc_id WITHIN
    * the generation, ranges overlapping ACROSS generations (mod-slices). */
  private def buildStanding(n: Long, gens: Int): java.nio.file.Path = {
    val root = Housekeeping.scratchDir("compact_spec")
    (0 until gens).foreach { g =>
      val (pv, pf, ps) =
        if (g == 0) (0L, Seq.empty[java.nio.file.Path],
          Map.empty[java.nio.file.Path, (Long, Long)])
        else {
          val (v, f) = TableManifest.read(root)
          (v, f, TableManifest.statsOf(root, v))
        }
      require(pv == g.toLong)
      val df = spark.range(n).select(col("id").as("doc_id"),
          (col("id") * 7 % 1000).as("v"))
        .where(pmod(col("doc_id"), lit(gens)) === g)
      StreamingOps.commitClusteredGen(df, s"$root/b$g", root, g + 1L, "doc_id",
        pf, ps, parts = 2)
    }
    root
  }

  test("an empty generation commits a version with no new file") {
    val root = buildStanding(200L, 2)
    try {
      val (v, files) = TableManifest.read(root)
      val empty = spark.range(0).select(col("id").as("doc_id"), col("id").as("v"))
      StreamingOps.commitClusteredGen(empty, s"$root/b$v", root, v + 1, "doc_id",
        files, TableManifest.statsOf(root, v), parts = 2)
      assert(TableManifest.read(root) == (v + 1, files),
        "the empty generation's zero-row part file reached the manifest")
      assert(TableManifest.statsOf(root, v + 1).keySet == files.toSet)
    } finally Housekeeping.deleteRecursively(root)
  }

  test("snapshot isolation: a pinned pre-compaction reader sees its exact " +
    "snapshot across the commit; vacuum reclaims only superseded files") {
    val root = buildStanding(2000L, 8)
    try {
      val (v0, files0) = TableManifest.read(root)
      assert(v0 == 8 && files0.size == 16, s"fixture: $v0 / ${files0.size}")
      val pinned = spark.read.parquet(files0.map(_.toString): _*)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      // compact WITHOUT vacuum — the mid-maintenance window a live reader
      // (or a replaying batch pinned via filesAsOf) can observe
      val (v1, before, after) = StreamingOps.compactStandingTable(
        spark, root, "doc_id", doVacuum = false)
      assert(v1 == 9 && before == 16 && after >= 1)
      // the pinned reader's files all still exist and read back identically
      assert(files0.forall(java.nio.file.Files.exists(_)),
        "compaction must not touch superseded files before vacuum")
      val pinnedAgain = spark.read.parquet(files0.map(_.toString): _*)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(pinnedAgain == pinned, "pinned snapshot changed across the commit")
      // the new version's content is row-identical to the old snapshot
      val compacted = TableManifest.readTable(spark, root)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(compacted == pinned, "compaction changed table content")
      // historical pin via the version log reads too (filesAsOf v0)
      assert(TableManifest.readTableAsOf(spark, root, v0)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq == pinned)
      // vacuum: superseded files gone, live version intact
      val removed = TableManifest.vacuum(root)
      assert(removed == before, s"vacuum must reclaim all $before superseded files: $removed")
      assert(TableManifest.readTable(spark, root)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq == pinned)
    } finally Housekeeping.deleteRecursively(root)
  }

  test("file-count collapse >= 8x and point probes touch <= 2 files after " +
    "compaction (vs ~1 per generation before)") {
    val root = buildStanding(4000L, 10)
    try {
      val (v0, files0) = TableManifest.read(root)
      val stats0 = TableManifest.statsOf(root, v0)
      // a micro-batch's bounded id footprint: 10 consecutive ids (one per
      // mod-10 residue) — every generation holds one of them
      val pt = (2000L to 2009L).toSeq
      val beforeProbe = TableManifest.pruneForPoints(files0, stats0, pt)
      // overlapping mod-slice generations: the probe touches ~1 file per
      // generation — linear bloat in batch count
      assert(beforeProbe.size >= 8,
        s"fixture must show per-generation probe bloat: ${beforeProbe.size}")
      val (v1, before, after) = StreamingOps.compactStandingTable(spark, root, "doc_id")
      assert(before >= after * 8, s"collapse must be >= 8x: $before/$after")
      val stats1 = TableManifest.statsOf(root, v1)
      val (_, files1) = TableManifest.read(root)
      assert(files1.forall(stats1.contains), "compacted files must carry stats")
      val afterProbe = TableManifest.pruneForPoints(files1, stats1, pt)
      assert(afterProbe.nonEmpty && afterProbe.size <= 2,
        s"a point must touch <= 2 clustered files after compaction: ${afterProbe.size}")
    } finally Housekeeping.deleteRecursively(root)
  }

  test("compaction is SELECTIVE: well-sized files are kept in place with " +
    "stats carried forward; only the small-file tail is rewritten") {
    val root = buildStanding(2000L, 8)
    try {
      // full fold first: 16 slivers -> one big clustered file
      val (_, _, a1) = StreamingOps.compactStandingTable(spark, root, "doc_id")
      val (v1, files1) = TableManifest.read(root)
      val big = files1.maxBy(java.nio.file.Files.size(_))
      // two more per-batch sliver generations land after the fold
      (0 until 2).foreach { k =>
        val (pv, pf) = TableManifest.read(root)
        val ps = TableManifest.statsOf(root, pv)
        val df = spark.range(2000L, 2200L).select(col("id").as("doc_id"),
          (col("id") * 7 % 1000).as("v"))
        StreamingOps.commitClusteredGen(df, s"$root/post$k", root, pv + 1, "doc_id",
          pf, ps, parts = 2)
      }
      // threshold = the big file's size: the big file is NOT under it and
      // must be kept; the four new slivers fold into one generation
      val target = java.nio.file.Files.size(big)
      val (v2, before, after) = StreamingOps.compactStandingTable(
        spark, root, "doc_id", targetFileBytes = target)
      assert(before == a1 + 4 && after < before,
        s"selective fold: $before -> $after")
      val (_, files2) = TableManifest.read(root)
      assert(files2.exists(_.toAbsolutePath == big.toAbsolutePath),
        "the well-sized file must be kept in place, not rewritten")
      val stats2 = TableManifest.statsOf(root, v2)
      assert(stats2.keys.exists(_.toAbsolutePath == big.toAbsolutePath),
        "the kept file's stats entry must be carried forward")
      assert(files2.forall(stats2.contains), "every live file must carry stats")
      // a target below every file size is a no-op: nothing to fold
      val (v3, b3, a3) = StreamingOps.compactStandingTable(
        spark, root, "doc_id", targetFileBytes = 1L)
      assert(v3 == v2 && b3 == a3, s"no-op expected: $v3 $b3 $a3")
      // content is the union of the base table and the two appended gens
      assert(TableManifest.readTable(spark, root).count() == 2000L + 400L)
    } finally Housekeeping.deleteRecursively(root)
  }

  test("stream_dedup_minhash's every-K tick compacts the standing band and " +
    "shingle tables under the CAS, fold output unchanged") {
    val s3 = spark.newSession()
    s3.conf.set("graft.stream.deliveries", "3")
    s3.conf.set("graft.stream.compact.every", "2")
    val streamed = StreamingOps.streamDedupMinhash.fn(s3, d)
      .collect().map(_.toSeq).toSeq
    val batch = graft.ops.LlmOps.dedupNearMinhash.fn(s3, d)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "pair output must be unchanged by the compaction tick")
    // the tick's own root record — written only by compacting runs, so a
    // concurrently-running non-compacting suite can't clobber it
    val idx = StreamingOps.lastRoot("minhash_compact_root", d)
    assert(idx != null, "the compaction tick must have fired")
    Seq(("bands", "bkey", 16L), ("shingles", "doc_id", 1L)).foreach {
      case (sub, statsCol, rowsPerDoc) =>
        val p = java.nio.file.Paths.get(idx, sub)
        val (v, files) = TableManifest.read(p)
        // 3 fold commits + 1 compaction commit
        assert(v == 4, s"$sub: 3 generations + compaction must be version 4: $v")
        assert(files.forall(_.toString.contains("/compact-v4-")),
          s"$sub: live files must all belong to the compacted generation")
        val rec = StreamingOps.lastRoot(s"minhash_compact_$statsCol", d)
        assert(rec != null, s"$sub: the tick must record its collapse")
        val Array(nb, na) = rec.split("/").map(_.toInt)
        assert(nb > na && na == files.size, s"$sub: collapse $rec vs ${files.size}")
        // content preserved: exactly rowsPerDoc rows per signed doc survive
        val signed = graft.tables.Tables.documents(s3, d)
          .where(size(split(col("text"), " ")) >= 3).count()
        assert(TableManifest.readTable(s3, p).count() == signed * rowsPerDoc,
          s"$sub: compacted row count must equal the standing state's")
    }
  }
}
