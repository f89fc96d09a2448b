package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Observation, SparkSession}

import graft.SparkEntry
import graft.ops.Housekeeping

/** The benchmark's JVM side. `run.py` launches it once per measured
  * instance (`run`); `gen` writes the input tables.
  *
  *   run --data D --keys k1,k2,.. --seed N --instance I --seconds S
  *       --trace 0|1 --out FILE [--expected FILE | --capture FILE]
  *
  * One closed-loop client: keys run one after another on one
  * `local[cores]` session. Pass p runs every key once, in the order a
  * `Random(seed, instance, p)` shuffle gives; passes repeat until
  * `--seconds` have elapsed, at least one. With `--trace 1` every pass is
  * traced and the native-layer probe runs after the last. A key's latency
  * is `Op.fn` plus full materialization of every row and column through the
  * `noop` sink, with the output fingerprint observed in the same job;
  * `releaseAll()` follows, inside the pass time but outside the key
  * latency. */
object Main {
  private def processStartMs: Double =
    ProcessHandle.current().info().startInstant().map[Double](_.toEpochMilli.toDouble)
      .orElse(ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)

  private def nowMs: Double = System.currentTimeMillis().toDouble

  private val cores = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") => GenData.main(args.tail)
    case Some("run") => run(parse(args.tail))
    case _ => sys.error("usage: Main gen|run ...")
  }

  private def parse(a: Array[String]): Map[String, String] =
    a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  /** Process start until the session is built and warmed. */
  private def setup(dataDir: String): (SparkSession, Double) = {
    val spark = Session.build(cores)
    Session.warm(spark, dataDir)
    (spark, (nowMs - processStartMs) / 1e3)
  }

  /** Heap in use once garbage collection has settled: Spark's ContextCleaner
    * frees broadcast and shuffle state only after a GC has found it
    * unreachable, so collect until the figure stops falling. */
  private def retainedHeapMb(): Double = {
    def used(): Double = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6 }
    var best = used()
    var rounds = 0
    var falling = true
    while (falling && rounds < 5) {
      Thread.sleep(100)
      val now = used()
      falling = now < best * 0.99
      best = math.min(best, now)
      rounds += 1
    }
    best
  }

  final case class Sample(key: String, pass: Int, traced: Boolean, latency: Double, ok: Boolean, err: String,
                          fp: String)

  private def run(o: Map[String, String]): Unit = {
    val dataDir = o("data")
    val keyList = o("keys").split(",").toSeq
    val seed = o("seed").toLong * 1000003L + o("instance").toLong * 1000L
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val all = SparkEntry.queries
    val missing = keyList.filterNot(all.contains)
    if (missing.nonEmpty) {
      System.err.println(s"perfbench: keys not in SparkEntry.queries: ${missing.mkString(", ")}")
      sys.exit(3)
    }
    // --capture records the fingerprints instead of checking them
    val capture = o.get("capture")
    val expected: Map[String, Fingerprint] = o.get("expected").map { p =>
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try src.getLines().map(_.split("\t")).collect { case Array(k, fp) => k -> Fingerprint.parse(fp) }.toMap
      finally src.close()
    }.getOrElse(Map.empty)
    val unpinned = if (capture.isDefined) Nil else keyList.filterNot(expected.contains)
    if (unpinned.nonEmpty) {
      System.err.println(s"perfbench: no expected fingerprint for: ${unpinned.mkString(", ")}")
      sys.exit(3)
    }

    val (spark, setupS) = setup(dataDir)
    val tracer = if (trace) Some(new Tracer(spark, cores)) else None
    val stageRoot = Paths.get(graft.ops.Stage.root(dataDir))
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val traces = mutable.ArrayBuffer.empty[(Int, KeyTrace)]
    val outside = mutable.LinkedHashSet.empty[String]

    def runKey(key: String, pass: Int, kt: Option[KeyTrace]): Unit = {
      val fn = all(key)
      val n0 = System.nanoTime()
      val t0 = nowMs
      var tb = t0
      var (ok, err, fp) = (false, "", "")
      try {
        val df = fn(spark, dataDir)
        tb = nowMs
        // the result frame is analyzed eagerly inside Op.fn, before any
        // action, so no QueryExecutionListener sees that phase
        kt.foreach(k => df.queryExecution.tracker.phases.get("analysis")
          .foreach(ph => k.add("catalyst.analysis_s", ph.durationMs / 1e3)))
        val obs = new Observation("perfbench_fp")
        Fingerprint.observed(df, obs).write.format("noop").mode("overwrite").save()
        val got = Fingerprint.read(obs)
        fp = got.toString
        expected.get(key) match {
          case Some(want) if want != got => err = s"fingerprint $got != expected $want"
          case _ => ok = true
        }
      } catch { case NonFatal(t) => err = t.toString.take(400) }
      val t1 = nowMs
      val latency = (System.nanoTime() - n0) / 1e9
      Housekeeping.releaseAll()
      val t2 = nowMs
      if (java.nio.file.Files.exists(stageRoot)) {
        outside += key
        Housekeeping.deleteRecursively(stageRoot)
      }
      samples += Sample(key, pass, kt.isDefined, latency, ok, err, fp)
      kt.foreach(k => tracer.get.end(k, Span("ops.build", t0, tb), Span("exec.materialize", tb, t1),
        Span("housekeeping.release", t1, t2)))
      if (!ok) System.err.println(s"perfbench: key $key failed: $err")
    }

    val loop0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - loop0) / 1e9
    tracer.foreach(_.attach())
    while (pass == 0 || elapsed < seconds) {
      val order = new scala.util.Random(seed + pass).shuffle(keyList)
      val p0 = System.nanoTime()
      order.foreach { key =>
        val kt = tracer.map(_.begin(key))
        runKey(key, pass, kt)
        kt.foreach(k => traces += ((pass, k)))
      }
      passWall += ((pass, trace, (System.nanoTime() - p0) / 1e9))
      pass += 1
    }
    tracer.foreach(_.detach())

    Housekeeping.releaseAll()
    val probe = if (trace) Probe.run(spark, dataDir) else Seq.empty
    val heapMb = retainedHeapMb()
    spark.stop()

    capture.foreach { path =>
      val byKey = samples.groupBy(_.key)
      val lines = keyList.sorted.map { k =>
        val fps = byKey(k).map(_.fp).distinct
        require(fps.size == 1 && byKey(k).forall(_.ok), s"$k: not capturable (${byKey(k).map(s => s.fp + s.err)})")
        s"$k\t${fps.head}"
      }
      java.nio.file.Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }

    val record = Map(
      "setup_s" -> setupS, "heap_retained_mb" -> heapMb, "cores" -> cores,
      "outside_checkout" -> outside.toSeq,
      "passes" -> passWall.map { case (p, t, w) => Map("pass" -> p, "traced" -> t, "wall_s" -> w) },
      "samples" -> samples.map(s => Map("key" -> s.key, "pass" -> s.pass, "traced" -> s.traced,
        "latency_s" -> s.latency, "ok" -> s.ok, "err" -> s.err)),
      "traces" -> traces.map { case (p, k) =>
        Map("pass" -> p, "key" -> k.key, "metrics" -> k.num, "spans" -> k.spans.map { sp =>
          val jobs = k.jobs.filter(j => j.start >= sp.start && j.start < sp.end).toSeq
          Map("name" -> sp.name, "start_ms" -> sp.start, "end_ms" -> sp.end,
            "self_s" -> Tracer.selfTime(sp, jobs) / 1e3,
            "jobs" -> jobs.map(j => Map("name" -> j.name, "start_ms" -> j.start, "end_ms" -> j.end)))
        })
      },
      "probe" -> probe.toMap)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(o("out")), record)
  }
}
