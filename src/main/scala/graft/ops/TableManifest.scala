package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Minimal rename-commit manifest — the transactional half of the layout
  * family (`sink_targeted_delete`, `sink_compact_small_files`). The table's
  * live file set is whatever `_manifest.json` lists; mutations follow the
  * table-format protocol every lakehouse implements:
  *
  *   1. write NEW data files (old files untouched — retained by reference),
  *   2. atomically rename a freshly-written manifest onto `_manifest.json`.
  *
  * A reader that listed the manifest before the rename keeps reading the old
  * file set (all files still exist — snapshot isolation); a reader after the
  * rename sees the new set. There is no instant at which a reader can observe
  * a torn mix, because the only mutation readers key off is one atomic
  * rename (ManifestCommitSpec interleaves a reader loop with a live commit to
  * prove exactly this). Orphaned files from superseded versions are removed
  * only by an explicit [[vacuum]] — the same split Delta/Iceberg make, and
  * why concurrent readers are safe without locks. At 100 TB the manifest
  * becomes a manifest *tree* plus a catalog swap, but the commit primitive —
  * write-new-then-rename — is exactly this one.
  */
object TableManifest {

  val fileName = "_manifest.json"

  /** Data-file listing for a directory tree (part files only). */
  def parquetFiles(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList.sortBy(_.toString)
    finally walk.close()
  }

  /** Rename-commit: serialize (version, files), write beside the live
    * manifest, then one atomic rename. The rename is the COMMIT — everything
    * before it is invisible to readers. Each commit also leaves an immutable
    * `_manifest-v{N}.json` snapshot behind (written BEFORE the rename, so
    * the version log is complete the instant the version is visible) — the
    * version log that makes [[readTableAsOf]] time travel possible, exactly
    * the Delta/Iceberg commit-log shape in miniature. */
  def commit(root: Path, version: Long, files: Seq[Path]): Unit = {
    Files.createDirectories(root)
    val body = files.map { f =>
      val abs = f.toAbsolutePath.toString
      // Only the quote character can corrupt this wire format (the matched
      // regex parsers below never unescape, so a backslash round-trips as
      // itself). Linux-path assumption documented: '/'-separated absolute
      // paths; Windows '\'-separated paths are out of scope for this engine.
      require(!abs.contains('"'),
        s"manifest file paths must not contain the quote character: $abs")
      "\"" + abs + "\""
    }.mkString(s"""{"version":$version,"files":[""", ",", "]}")
    Files.writeString(root.resolve(s"_manifest-v$version.json"), body)
    val tmp = root.resolve(s"$fileName.tmp-$version")
    Files.writeString(tmp, body)
    Files.move(tmp, root.resolve(fileName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Current snapshot: (version, live file paths). Parser is deliberately
    * matched to [[commit]]'s writer (absolute paths, no quotes/escapes in
    * file names — we generate every name). */
  def read(root: Path): (Long, Seq[Path]) = {
    val txt = Files.readString(root.resolve(fileName))
    val version = """"version":(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    val files = """"(/[^"]+)"""".r.findAllMatchIn(txt).map(m => Paths.get(m.group(1))).toList
    (version, files)
  }

  /** Read the table AS OF the current manifest — the only sanctioned read
    * path for a manifest-committed table. Reads exactly the live files the
    * manifest lists (never a directory listing) through [[readFiles]], so
    * the schema comes from the first file's footer and opening the table
    * starts no job. An empty live set is a legal table state
    * (fully-deleted table) but has no footer to take a schema from, so
    * reading one fails [[readFiles]]'s `require`. */
  def readTable(s: SparkSession, root: Path): DataFrame = readFiles(s, read(root)._2)

  /** The one reader of manifest-listed files: `files` read with the Spark
    * schema the writer stored in `files.head`'s footer (the
    * `org.apache.spark.sql.parquet.row.metadata` key, the same one Spark's
    * own inference reads), so no footer-inference job runs. Every file a
    * manifest lists is Spark-written by this engine, so a missing key is a
    * foreign file and fails loudly rather than falling back to inference.
    * Callers keep their own empty-list branch. */
  def readFiles(s: SparkSession, files: Seq[Path]): DataFrame = {
    require(files.nonEmpty, "readFiles: no files to take a schema from")
    val json = footer(files.head).getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    require(json != null, s"readFiles: no Spark schema in the footer of ${files.head}")
    s.read.schema(org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType])
      .parquet(files.map(_.toString): _*)
  }

  /** File list of the immutable `_manifest-v{N}` snapshot — the ONE parser
    * of the snapshot wire format (shared by [[readTableAsOf]] and
    * [[graft.sources.GraftLakeCatalog]]'s `VERSION AS OF` resolution, so a
    * serialization change cannot silently split the two read paths).
    * Throws if the version was never committed or was vacuumed away. */
  def filesAsOf(root: Path, version: Long): Seq[Path] = {
    val txt = Files.readString(root.resolve(s"_manifest-v$version.json"))
    """"(/[^"]+)"""".r.findAllMatchIn(txt).map(m => Paths.get(m.group(1))).toList
  }

  /** The pinned snapshot of `version`: its files and per-file [min, max]
    * zone maps ([[statsOf]]). Version 0 is the empty table — nothing
    * committed yet. A streaming fold's batch k reads version k (the state
    * after batches < k), so a retried batch never sees its own partial
    * commit of version k+1. */
  def snapshotAt(root: Path, version: Long): (Seq[Path], Map[Path, (Long, Long)]) =
    if (version == 0) (Nil, Map.empty) else (filesAsOf(root, version), statsOf(root, version))

  /** Snapshot AS OF a past version, from its immutable `_manifest-v{N}`
    * log entry. Valid until [[vacuum]] reclaims the version's files. */
  def readTableAsOf(s: SparkSession, root: Path, version: Long): DataFrame =
    readFiles(s, filesAsOf(root, version))

  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Optimistic-concurrency commit — the conditional-put every table format
    * builds on: the commit lands ONLY if the table is still at
    * `expectedVersion`; a writer that lost the race gets `false` back (its
    * data files become unreferenced orphans for [[vacuum]]) and must re-read
    * the new snapshot, re-resolve conflicts, and retry — never blind-write.
    * Single-writer-at-a-time is enforced per-JVM here (the testbed stand-in
    * for the catalog's atomic compare-and-swap at 100 TB — DynamoDB
    * conditional puts, Hive lock manager, REST catalog CAS — the check and
    * the rename must be one atomic step, which a filesystem alone cannot
    * express portably). ManifestCommitSpec races two writers from the same
    * base to prove exactly-one-wins and version linearity.
    *
    * Two layers serialize writers: the per-JVM monitor (threads — JVM file
    * locks are process-scoped, so two threads of one JVM would otherwise
    * both acquire the OS lock) and an exclusive `java.nio` FileChannel lock
    * on `_commit.lock` under the table root (processes — two drivers racing
    * the same table block on the OS lock, so the check-then-rename is
    * atomic across processes too, and a lost race surfaces as `false`
    * instead of a silently dropped commit). */
  def commitIfVersion(root: Path, expectedVersion: Long, files: Seq[Path]): Boolean = {
    val lock = commitLocks.computeIfAbsent(
      root.toAbsolutePath.normalize.toString, _ => new Object)
    lock.synchronized {
      Files.createDirectories(root)
      val ch = java.nio.channels.FileChannel.open(root.resolve("_commit.lock"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try {
        val osLock = ch.lock()
        try {
          val current =
            if (Files.exists(root.resolve(fileName))) read(root)._1 else 0L
          if (current != expectedVersion) false
          else { commit(root, expectedVersion + 1, files); true }
        } finally osLock.release()
      } finally ch.close()
    }
  }

  /** [[commitIfVersion]] with a zone-map sidecar — the conditional put a
    * MAINTENANCE writer (compaction, clustering rewrite) needs: the new
    * file set REPLACES the table's contents, so the commit must both win
    * the CAS against concurrent appenders and land its stats sidecar
    * before the rename (same ordering rule as [[commitWithStats]]). A
    * lost race returns false and the rewritten files become vacuumable
    * orphans — the maintenance job re-reads the new snapshot and retries,
    * exactly how Delta/Iceberg OPTIMIZE jobs coexist with live writers. */
  def commitIfVersionWithStats(root: Path, expectedVersion: Long, files: Seq[Path],
      statsCol: String, stats: Map[Path, (Long, Long)]): Boolean = {
    val lock = commitLocks.computeIfAbsent(
      root.toAbsolutePath.normalize.toString, _ => new Object)
    lock.synchronized {
      Files.createDirectories(root)
      val ch = java.nio.channels.FileChannel.open(root.resolve("_commit.lock"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try {
        val osLock = ch.lock()
        try {
          val current =
            if (Files.exists(root.resolve(fileName))) read(root)._1 else 0L
          if (current != expectedVersion) false
          else { commitWithStats(root, expectedVersion + 1, files, statsCol, stats); true }
        } finally osLock.release()
      } finally ch.close()
    }
  }

  /** The one serializer of a stats entry — [[statsOf]] is its one parser
    * (same documented contract as [[commit]]/[[read]]: absolute paths we
    * generate ourselves, no quotes/backslashes — enforced loudly below, so
    * a hostile path corrupts the commit visibly instead of the sidecar
    * silently). */
  private def statsEntry(f: Path, mn: Long, mx: Long): String = {
    val abs = f.toAbsolutePath.toString
    // Same scope as commit's check: only '"' can corrupt the format (the
    // parsers never unescape); Linux '/'-separated paths are assumed.
    require(!abs.contains('"'),
      s"manifest file paths must not contain the quote character: $abs")
    s"""{"f":"$abs","mn":$mn,"mx":$mx}"""
  }

  /** Per-file column-stats sidecar (`_stats-v{N}.json`) — the zone-map half
    * of the manifest that makes DATA SKIPPING possible: each live file
    * carries the [min, max] of one named column, so a range predicate can
    * prune the file LIST before any scan starts (Delta's per-file
    * `stats.minValues/maxValues`, Iceberg's manifest-entry bounds). The
    * sidecar is written BEFORE the manifest rename (same ordering rule as
    * the immutable `_manifest-v{N}` snapshot), so stats are complete the
    * instant the version becomes visible; readers of older versions keep
    * their own version's sidecar. Stats are stored per version, immutable,
    * keyed by absolute file path. A committed file MISSING from its own
    * version's stats map is almost always a caller bug (a path-key
    * mismatch would silently disable skipping for that file), so it is
    * logged loudly — but still committed, because stats are an
    * optimization, never a gate. */
  def commitWithStats(root: Path, version: Long, files: Seq[Path], statsCol: String,
      stats: Map[Path, (Long, Long)]): Unit = {
    Files.createDirectories(root)
    val missing = files.filterNot(stats.contains)
    if (missing.nonEmpty)
      System.err.println(s"[graft][manifest] WARNING: ${missing.size}/${files.size} " +
        s"committed files carry no '$statsCol' stats entry (skipping disabled for " +
        s"them); first: ${missing.head}")
    val entries = files.flatMap(f => stats.get(f).map { case (mn, mx) => statsEntry(f, mn, mx) })
    Files.writeString(root.resolve(s"_stats-v$version.json"),
      entries.mkString(s"""{"version":$version,"col":"$statsCol","files":[""", ",", "]}"))
    commit(root, version, files)
  }

  /** The stats sidecar of one committed version, parsed by the ONE parser
    * matched to [[statsEntry]]'s writer. Empty map if the version committed
    * without stats — callers degrade to keep-all, never throw. Exposed so
    * incremental writers ([[commitWithStats]] callers that append files
    * batch by batch) can carry the prior version's entries forward without
    * recomputing them. */
  def statsOf(root: Path, version: Long): Map[Path, (Long, Long)] = {
    val statsPath = root.resolve(s"_stats-v$version.json")
    if (!Files.exists(statsPath)) Map.empty
    else """\{"f":"(/[^"]+)","mn":(-?\d+),"mx":(-?\d+)\}""".r
      .findAllMatchIn(Files.readString(statsPath))
      .map(m => Paths.get(m.group(1)) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  /** Pruned file resolution for a range predicate `lo <= col <= hi` against
    * the CURRENT version: live files whose recorded [min, max] intersects
    * the queried range. A live file with no stats entry is KEPT — stats are
    * an optimization, never a correctness gate (exactly the conservative
    * rule real formats apply to files written before stats collection was
    * enabled). Files with stats prune on `mn <= hi && lo <= mx`; manifest
    * order is preserved. This is the planning step a 100 TB engine runs
    * driver-side against the catalog — file-list work, zero data I/O. */
  def filesForRange(root: Path, lo: Long, hi: Long): Seq[Path] = {
    val (version, live) = read(root)
    val bounds = statsOf(root, version).map { case (p, b) => p.toAbsolutePath.toString -> b }
    live.filter { f =>
      bounds.get(f.toAbsolutePath.toString) match {
        case Some((mn, mx)) => mn <= hi && lo <= mx
        case None           => true
      }
    }
  }

  /** Pruned file resolution for a POINT-SET probe (`col IN (pts)`) against
    * the CURRENT version — the equi-join twin of [[filesForRange]]: a file
    * survives iff its [min, max] contains at least one probe point. The
    * point set is sorted once and each file pays one binary search, so the
    * planning cost is |files| · log |pts| driver-side — this is how a
    * micro-batch's join keys prune a range-clustered standing index down
    * to the files that can possibly match before any scan task launches.
    * Files without stats are kept (same conservative rule as the range
    * prune). */
  def filesForPoints(root: Path, pts: Seq[Long]): Seq[Path] = {
    val (version, live) = read(root)
    pruneForPoints(live, statsOf(root, version), pts)
  }

  /** The pure planning step behind [[filesForPoints]], exposed for callers
    * that must prune AGAINST A PINNED VERSION's file list + stats instead
    * of the live manifest (a streaming batch retry must never see — or
    * prune against — its own partially-committed generation). */
  def pruneForPoints(files: Seq[Path], stats: Map[Path, (Long, Long)],
      pts: Seq[Long]): Seq[Path] = {
    val bounds = stats.map { case (p, b) => p.toAbsolutePath.toString -> b }
    val sorted = pts.distinct.sorted.toArray
    def hits(mn: Long, mx: Long): Boolean = {
      // first point >= mn; the file survives iff that point is <= mx
      var lo = 0; var hi = sorted.length
      while (lo < hi) { val mid = (lo + hi) >>> 1
        if (sorted(mid) < mn) lo = mid + 1 else hi = mid }
      lo < sorted.length && sorted(lo) <= mx
    }
    files.filter { f =>
      bounds.get(f.toAbsolutePath.toString) match {
        case Some((mn, mx)) => hits(mn, mx)
        case None           => true
      }
    }
  }

  /** One parquet file's footer (metadata only, no data pages). */
  private def footer(f: Path): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString), new org.apache.hadoop.conf.Configuration()))
    try r.getFooter finally r.close()
  }

  /** Per-file row count and [min, max] of one INT64 column, read from
    * parquet FOOTERS in one walk — metadata-only stats collection (no scan
    * tasks, no data pages): how a production writer populates manifest
    * zone maps without re-reading the data it just wrote (Delta and
    * Iceberg ingest exactly these footer statistics into their manifests).
    * A file whose footer carries no statistics for the column (e.g. zero
    * rows) gets `None` — [[pruneForPoints]]/[[filesForRange]] keep
    * uncovered files conservatively, so omission is always safe. */
  def footerLongStats(files: Seq[Path], statsCol: String): Seq[(Path, Long, Option[(Long, Long)])] =
    files.map { f =>
      val blocks = footer(f).getBlocks.asScala
      val sts = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == statsCol)
        .map(_.getStatistics)
        .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
      (f, blocks.map(_.getRowCount).sum, Option.when(sts.nonEmpty)((
        sts.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
        sts.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)))
    }

  /** Remove data files no longer referenced by the current manifest (the
    * explicit, reader-visible-state-preserving cleanup). Returns the number
    * of orphans removed. */
  def vacuum(root: Path): Int = {
    val (_, live) = read(root)
    val liveSet = live.map(_.toAbsolutePath.toString).toSet
    val orphans = parquetFiles(root).filterNot(f => liveSet.contains(f.toAbsolutePath.toString))
    orphans.foreach(Files.delete)
    orphans.size
  }
}
