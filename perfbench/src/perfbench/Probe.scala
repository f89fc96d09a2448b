package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native-layer probe for the traced run: each `graft_*` expression or
  * aggregate that has a built-in spelling, and the native as-of and band
  * joins, timed against that spelling on the same cached input. Reports
  * `functions.<name>.ns_per_row` / `.vs_builtin` and
  * `plans.<asof|band>_join.s` / `.vs_builtin` (native time over built-in
  * time; below 1 means the native layer is faster). */
object Probe {
  private val Reps = 3

  /** Median wall seconds of materializing `df` through the noop sink, after
    * one untimed run that compiles the plan. */
  private def time(df: => DataFrame): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val ts = Seq.fill(Reps)(once()).sorted
    ts(ts.size / 2)
  }

  def run(spark: SparkSession, dataDir: String): Seq[(String, Double)] = {
    graft.functions.GraftFunctions.register(spark)
    val out = Seq.newBuilder[(String, Double)]

    // array<double> vectors: the embeddings as they are, and replicated 25x
    // for the cheap dot product. The built-in spellings of the MinHash and
    // hyperplane kernels cost 100-300 us a row, so they get the small inputs.
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v")).cache()
    val vecs = emb.crossJoin(spark.range(25).toDF("r"))
      .select(col("v"), reverse(col("v")).as("w")).cache()
    // array<long> word hashes per document
    val hashes = spark.read.parquet(s"$dataDir/documents.parquet")
      .select(transform(split(col("text"), " "), w => xxhash64(w)).as("hs")).cache()
    val events = spark.read.parquet(s"$dataDir/events.parquet")
      .select(col("user_id"), col("user_id").cast("string").as("user")).cache()

    def scalar(name: String, in: DataFrame, native: Column, builtin: Column): Unit = {
      val rows = in.count().toDouble
      val tn = time(in.select(native.as("x")))
      val tb = time(in.select(builtin.as("x")))
      out += s"functions.$name.ns_per_row" -> tn / rows * 1e9
      out += s"functions.$name.vs_builtin" -> tn / tb
    }
    def aggregate1(name: String, in: DataFrame, native: Column, builtin: => DataFrame): Unit = {
      val rows = in.count().toDouble
      val tn = time(in.agg(native.as("x")))
      val tb = time(builtin)
      out += s"functions.$name.ns_per_row" -> tn / rows * 1e9
      out += s"functions.$name.vs_builtin" -> tn / tb
    }
    def dotHof(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

    scalar("dot", vecs, expr("graft_dot(v, w)"), dotHof(col("v"), col("w")))
    scalar("minhash_sig", hashes, expr("graft_minhash_sig(hs, 64)"),
      transform(sequence(lit(0), lit(63)), i => array_min(transform(col("hs"), h => xxhash64(h, i)))))
    scalar("winnow_mins", hashes, expr("graft_winnow_mins(hs, 4)"),
      array_sort(array_distinct(transform(sequence(lit(1), size(col("hs")) - 3),
        i => array_min(slice(col("hs"), i, lit(4)))))))
    val planes = {
      val r = new java.util.SplittableRandom(7)
      typedLit(Seq.fill(4 * 6)(Seq.fill(64)(r.nextDouble() * 2 - 1)))
    }
    scalar("hyperplane_buckets", emb, expr("graft_hyperplane_buckets(v, 4, 6)"),
      transform(sequence(lit(0), lit(3)), t => aggregate(sequence(lit(0), lit(5)), lit(0),
        (acc, b) => acc * 2 + when(dotHof(col("v"), element_at(planes, t * 6 + b + 1)) >= 0, 1).otherwise(0))))
    aggregate1("heavy_hitters", events, expr("graft_heavy_hitters(user, 10)"),
      events.groupBy("user").count().orderBy(desc("count"), col("user")).limit(10))
    aggregate1("theta_sketch", events, expr("graft_theta_estimate(graft_theta_sketch(user_id, 12))"),
      events.agg(count_distinct(col("user_id"))))
    Seq(emb, vecs, hashes, events).foreach(_.unpersist(blocking = true))

    // as-of: the native exec vs the window spelling, both as engine keys
    val q = graft.SparkEntry.queries
    val asofNative = time(q("join_asof_native")(spark, dataDir))
    out += "plans.asof_join.s" -> asofNative
    out += "plans.asof_join.vs_builtin" -> asofNative / time(q("join_asof")(spark, dataDir))

    // band: the native exec vs the same predicate planned by Spark's own
    // joins (the band rewrite rule held out of the optimizer meanwhile)
    val bandNative = time(q("join_range_native")(spark, dataDir))
    val exp = spark.experimental
    val saved = exp.extraOptimizations
    exp.extraOptimizations = saved.filterNot(_ == graft.plans.BandRewriteRule)
    val bandBuiltin = try time {
      val e = graft.tables.Tables.events(spark, dataDir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("u1"), col("ts").as("t1"))
      val f = e.select(col("event_id").as("follow_id"), col("user_id").as("u2"),
        col("ts").as("t2"), col("event_type").as("follow_type"))
      p.join(f, col("u1") === col("u2") && col("t2") > col("t1") &&
          col("t2") <= col("t1") + expr("INTERVAL 10 MINUTES"))
        .select("purchase_id", "follow_id", "follow_type").orderBy("purchase_id", "follow_id")
    } finally exp.extraOptimizations = saved
    out += "plans.band_join.s" -> bandNative
    out += "plans.band_join.vs_builtin" -> bandNative / bandBuiltin
    graft.ops.Housekeeping.releaseAll()
    out.result()
  }
}
