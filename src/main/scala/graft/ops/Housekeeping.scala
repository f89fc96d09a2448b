package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.{ConcurrentHashMap, TimeoutException}
import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** Bounded lifecycles for the side artifacts some operators create (caches,
  * temp dirs, catalog tables, memory-sink views). Query functions return
  * lazy DataFrames, so an artifact can't be destroyed inside the same
  * invocation that produced it — instead each op keeps at most ONE live
  * generation: invoking the op again disposes the previous invocation's
  * artifacts. Verify/Bench/test loops therefore hold a constant footprint
  * instead of leaking per run.
  *
  * All disposal is best-effort: the previous generation may belong to a
  * session that has since been stopped, and a cleanup failure must never
  * fail the CURRENT invocation.
  */
object Housekeeping {

  private def bestEffort(body: => Unit): Unit =
    try body catch { case NonFatal(_) => () }

  private val caches = new ConcurrentHashMap[String, DataFrame]()

  /** THE set-run-restore helper — every scoped session-conf mutation in
    * `src/main` goes through here (or through a wrapper that does), so the
    * mutation discipline lives in ONE place. Single-threaded BY DESIGN and
    * asserted: Bench/Verify/tests run ops sequentially on one session, and
    * session confs are session-global — two ops racing set/restore on one
    * session would silently cross-contaminate. If concurrent op execution is
    * ever added, scope via `s.newSession()` clones instead of widening this.
    *
    * `readDefaults` supplies the fallback for INTERNAL confs, which
    * `RuntimeConfig.get` refuses to resolve without an explicit default. */
  def withSessionConf[A](s: SparkSession, kvs: (String, String)*)(body: => A): A =
    withSessionConfDefaulted(s, kvs, Map.empty)(body)

  def withSessionConfDefaulted[A](s: SparkSession, kvs: Seq[(String, String)],
                                  readDefaults: Map[String, String])(body: => A): A = {
    val self = Thread.currentThread()
    val owner = confOwner.getAndSet(self)
    if (owner != null && owner != self) {
      // We never owned the guard — put the real owner back before failing,
      // so the violation doesn't disarm the guard for everyone after us.
      confOwner.set(owner)
      throw new IllegalArgumentException(
        s"withSessionConf: concurrent session-conf mutation from $owner and " +
          s"$self — ops must not share a session across threads")
    }
    val prev = kvs.map { case (k, _) =>
      k -> readDefaults.get(k).map(d => s.conf.get(k, d)).getOrElse(s.conf.get(k)) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally {
      prev.foreach { case (k, v) => s.conf.set(k, v) }
      // Restore the PREVIOUS owner (self when nested, null at the outermost
      // scope) — resetting to null here used to disarm the guard for the
      // remainder of an outer scope whenever scopes nested.
      confOwner.set(owner)
    }
  }

  private val confOwner = new java.util.concurrent.atomic.AtomicReference[Thread]()

  /** The one sanctioned PERSISTENT conf write: registering a DSv2 catalog
    * plugin (`spark.sql.catalog.<name>[...]`). Deliberately not scoped —
    * catalog resolution can be re-consulted after the op returns its lazy
    * DataFrame, and registrations are idempotent + sf-scoped by name. */
  def registerCatalogConf(s: SparkSession, kvs: (String, String)*): Unit =
    kvs.foreach { case (k, v) =>
      require(k.startsWith("spark.sql.catalog."),
        s"registerCatalogConf is for catalog registration only, got $k")
      s.conf.set(k, v)
    }

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to `n`,
    * restoring the previous value afterwards. Used by the streaming ops
    * (state-store sizing) and the Bench warm-ups. */
  def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A =
    withSessionConf(s, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Conf key switching the iterative ops' per-round lineage barrier from
    * `localCheckpoint(true)` to a RELIABLE `checkpoint()` rooted at the
    * given directory. */
  val IterCheckpointDirConf = "graft.graph.checkpointDir"

  private var reliableCkptDir: String = null

  /** Per-iteration lineage-truncation barrier for the iterative families
    * (graph loops, cluster-keep union–find, hierarchy closure). Default:
    * `localCheckpoint(true)` — the right call at local[*] (blocks stay on
    * executors, no disk round trip) but NOT fault-tolerant: blocks have no
    * lineage, so on a real cluster one executor loss kills the job
    * mid-iteration. Set [[IterCheckpointDirConf]] to a durable (HDFS/S3)
    * directory to route every barrier through reliable eager `checkpoint()`
    * instead — each round's state survives executor loss and recomputation
    * restarts from the last round, the posture a 1000-executor run wants.
    * Both paths are value-identical (GraphSpec proves it on a graph key);
    * the data never changes, only where the truncated round lives. */
  def iterationBarrier(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.get(IterCheckpointDirConf, "") match {
      case "" => df.localCheckpoint(true)
      case dir =>
        synchronized {
          if (reliableCkptDir != dir) {
            s.sparkContext.setCheckpointDir(dir)
            reliableCkptDir = dir
          }
        }
        df.checkpoint(true)
    }
  }

  /** How long [[observed]] waits for an observation's metrics. They arrive
    * through the listener bus after the observed action finishes, normally
    * within milliseconds; the bound only turns a lost or never-run
    * observation into an error instead of a hang. */
  val ObserveTimeout: FiniteDuration = 2.minutes

  /** The metrics of `obs` once the action that ran its dataset has
    * finished — `Observation.get` with a bound. Throws, naming `op`, when
    * they do not arrive within `within` (e.g. the observed dataset never
    * ran, or an optimizer rewrite dropped the observe node). */
  def observed(obs: Observation, op: String,
      within: FiniteDuration = ObserveTimeout): Map[String, Any] = {
    val row = try Await.result(obs.future, within) catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"$op: observed metrics did not arrive within $within (did the observed dataset run?)")
    }
    row.getValuesMap[Any](row.schema.fieldNames.toSeq)
  }

  /** cache() with one live generation per key. */
  def cacheBounded(key: String, df: DataFrame): DataFrame = {
    val cached = df.cache()
    val prev = caches.put(key, cached)
    if (prev != null && (prev ne cached)) bestEffort {
      if (!prev.sparkSession.sparkContext.isStopped) prev.unpersist(blocking = false)
    }
    cached
  }

  private val dirs = new ConcurrentHashMap[String, Path]()

  /** Register a temp directory under a key; the key's previous directory is
    * deleted recursively. */
  def tempDirBounded(key: String, path: Path): Path = {
    val prev = dirs.put(key, path)
    if (prev != null && prev != path) deleteRecursively(prev)
    path
  }

  /** Root for DISPOSABLE scratch (staged stream sources, checkpoints, sink
    * dirs read back within this process): a memory-backed filesystem when one
    * is mounted, else java.io.tmpdir. Streaming checkpoints fsync every
    * micro-batch; on this box /tmp is ext4, so those fsyncs hit disk for
    * state that is deleted seconds later. None of this scratch has a
    * durability requirement — on a cluster, checkpoint dirs point at durable
    * shared storage via the normal `checkpointLocation` option and this
    * helper is simply not used for them. Override with SPARK_GRAFT_SCRATCH;
    * set it to a disk path to reproduce disk-backed timings. */
  private val scratchRoot: Option[Path] = {
    val candidate = sys.env.get("SPARK_GRAFT_SCRATCH")
      .orElse(Some("/dev/shm").filter(d => Files.isWritable(java.nio.file.Paths.get(d))))
    candidate.flatMap { d =>
      try {
        val root = java.nio.file.Paths.get(d, "graft-scratch")
        Files.createDirectories(root)
        Some(root)
      } catch { case NonFatal(_) => None }
    }
  }

  /** createTempDirectory on the memory-backed scratch root when available. */
  def scratchDir(prefix: String): Path = scratchRoot match {
    case Some(root) => Files.createTempDirectory(root, prefix)
    case None => Files.createTempDirectory(prefix)
  }

  /** Recursive file-tree copy — driver-side bytes, no Spark job. Used to
    * clone a build-once [[indexStore]] into a run-local mutable table root:
    * re-deriving identical bytes with a Spark job per invocation would pay
    * a full compute pass for content the staged store already holds. */
  def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) { Files.createDirectories(t); () }
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    } finally walk.close()
  }

  def deleteRecursively(p: Path): Unit = bestEffort {
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }

  private val tables = new AtomicReference[(SparkSession, Seq[String], Path)](null)

  /** Register this invocation's catalog tables + backing dir; the previous
    * invocation's tables are dropped and its dir deleted. */
  def tablesBounded(s: SparkSession, names: Seq[String], dir: Path): Unit = {
    val prev = tables.getAndSet((s, names, dir))
    if (prev != null) {
      val (ps, pNames, pDir) = prev
      bestEffort {
        if (!ps.sparkContext.isStopped)
          pNames.foreach(n => ps.sql(s"DROP TABLE IF EXISTS $n"))
      }
      deleteRecursively(pDir)
    }
  }

  /** Dispose EVERY live generation now: unpersist caches, delete temp dirs,
    * drop catalog tables and views. For harness loops (Bench/Verify) that
    * consume each query's result before moving on — calling this between
    * queries makes each measurement independent of what ran before it
    * (round 1's driver bench showed 3–8× inflation on the late n²-heavy
    * queries from accumulated artifacts + heap pressure). Safe because all
    * returned DataFrames have been fully consumed by then; the next
    * invocation of any op rebuilds what it needs. */
  def releaseAll(): Unit = {
    caches.forEach { (_, df) =>
      bestEffort { if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false) }
    }
    caches.clear()
    dirs.forEach((_, p) => deleteRecursively(p))
    dirs.clear()
    val t = tables.getAndSet(null)
    if (t != null) {
      val (ps, pNames, pDir) = t
      bestEffort {
        if (!ps.sparkContext.isStopped)
          pNames.foreach(n => ps.sql(s"DROP TABLE IF EXISTS $n"))
      }
      deleteRecursively(pDir)
    }
    views.forEach { (_, v) =>
      bestEffort { if (!v._1.sparkContext.isStopped) { v._1.catalog.dropTempView(v._2); () } }
    }
    views.clear()
  }

  private val stores = scala.collection.mutable.Map[String, Path]()

  /** The directory of the persisted index store for `contentKey` — the key
    * names the index and the inputs that determine its value (e.g.
    * `ivf_index_v1|<corpus dir>`). The first call builds it by running
    * `build` on a fresh directory; later calls return that directory while
    * it exists, and rebuild it if it was removed. Deliberately NOT cleared
    * by [[releaseAll]]: an index is built once and probed many times, and
    * every probing key reads the same store. A store is never replaced or
    * deleted within the process, so a lazily resolved reader never loses
    * its files; disk holds one directory per (index, corpus). */
  def indexStore(contentKey: String)(build: Path => Unit): Path = synchronized {
    stores.get(contentKey).filter(Files.exists(_)).getOrElse {
      val dir = Files.createTempDirectory("index_store")
      build(dir)
      stores(contentKey) = dir
      dir
    }
  }

  private val views = new ConcurrentHashMap[String, (SparkSession, String)]()

  /** Register this invocation's memory-sink view under a key; the previous
    * generation's temp view is dropped (its data stays reachable through any
    * DataFrame still holding the resolved plan — only the catalog entry and
    * the sink's root reference go). */
  def tempViewBounded(key: String, s: SparkSession, viewName: String): Unit = {
    val prev = views.put(key, (s, viewName))
    if (prev != null) {
      val (ps, pName) = prev
      bestEffort {
        if (!ps.sparkContext.isStopped) { ps.catalog.dropTempView(pName); () }
      }
    }
  }
}
