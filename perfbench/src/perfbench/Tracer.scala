package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span in epoch milliseconds (listener events carry wall-clock ms). */
final case class Span(name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Per-key layer record of one traced key execution. `num` holds the
  * additive per-layer metrics (seconds, counts, MB); spans and job spans are
  * kept for the per-key breakdown and self-time computation. */
final class KeyTrace(val key: String) {
  val num: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobs: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  def add(k: String, v: Double): Unit = num(k) = num.getOrElse(k, 0.0) + v
}

/** Listeners for the traced passes, attached only while a traced pass runs
  * (end-to-end passes run with none). Spark delivers listener events
  * asynchronously, so each key ends with a drain of the listener bus before
  * the next key starts; everything delivered meanwhile belongs to that key. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  @volatile private var cur: KeyTrace = null
  private val tasks = mutable.ArrayBuffer.empty[(Double, Double)]
  private val jobStarts = mutable.HashMap.empty[Int, Double]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts(e.jobId) = e.time.toDouble }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val k = cur
      jobStarts.remove(e.jobId).foreach { s => if (k != null) { k.jobs += Span(s"job ${e.jobId}", s, e.time.toDouble); k.add("exec.jobs", 1) } }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val k = cur
      if (k != null) {
        k.add("exec.stages", 1)
        if (e.stageInfo.numTasks == 1) k.add("exec.single_task_stages", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val k = cur
      val m = e.taskMetrics
      if (k != null && m != null) {
        k.add("exec.tasks", 1)
        k.add("exec.task_s", m.executorRunTime / 1e3)
        k.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        k.add("exec.gc_s", m.jvmGCTime / 1e3)
        k.add("exec.shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
        k.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        k.add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        k.add("exec.output_mb", m.outputMetrics.bytesWritten / 1e6)
        k.add("tables.input_mb", m.inputMetrics.bytesRead / 1e6)
        tasks += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val k = cur
      if (k != null) {
        val ph = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach(p =>
          ph.get(p).foreach(s => k.add(s"catalyst.${p}_s", s.durationMs / 1e3)))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val k = cur
      if (k != null) {
        val p = e.progress
        def ms(name: String): Double = Option(p.durationMs.get(name)).map(_.doubleValue / 1e3).getOrElse(0.0)
        k.add("streaming.batches", 1)
        k.add("streaming.trigger_s", ms("triggerExecution"))
        k.add("streaming.get_batch_s", ms("getBatch"))
        k.add("streaming.query_planning_s", ms("queryPlanning"))
        k.add("streaming.add_batch_s", ms("addBatch"))
        k.add("streaming.wal_commit_s", ms("walCommit"))
        k.add("streaming.commit_offsets_s", ms("commitOffsets"))
        p.stateOperators.foreach { s =>
          k.add("streaming.state_rows", s.numRowsTotal.toDouble)
          k.add("streaming.state_mb", s.memoryUsedBytes / 1e6)
        }
      }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    BusAccess.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private var counters0: Map[String, Double] = Map.empty
  private def counters(): Map[String, Double] = Map(
    "codegen.classes_compiled" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
    "tables.files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "tables.listing_jobs" -> HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount.toDouble)

  def begin(key: String): KeyTrace = {
    BusAccess.drain(sc)
    synchronized { tasks.clear() }
    counters0 = counters()
    val k = new KeyTrace(key)
    cur = k
    k
  }

  /** Closes the key: drains the bus, then derives the counter deltas,
    * per-span self time, jobs launched while the op built its frame, and the
    * wall time during which no task ran (driver-only time). */
  def end(k: KeyTrace, build: Span, materialize: Span, release: Span): Unit = {
    BusAccess.drain(sc)
    cur = null
    val c1 = counters()
    c1.foreach { case (n, v) => k.add(n, v - counters0(n)) }
    k.spans ++= Seq(build, materialize, release)
    k.add("ops.build_s", build.dur / 1e3)
    k.add("housekeeping.release_s", release.dur / 1e3)
    k.add("ops.build_jobs", k.jobs.count(j => j.start >= build.start && j.start < build.end).toDouble)
    val wall = Span("key", build.start, release.end)
    val busy = synchronized { Tracer.covered(tasks.toSeq, wall.start, wall.end) }
    k.add("exec.driver_only_s", (wall.dur - busy) / 1e3)
    k.add("exec.wall_s", wall.dur / 1e3)
    k.add("exec.slot_s", wall.dur / 1e3 * cores)
  }
}

object Tracer {
  /** Length of [lo, hi] covered by the union of the intervals. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** Self time of a span: its duration minus what its child spans cover. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.dur - covered(children.map(c => (c.start, c.end)), span.start, span.end)
}
