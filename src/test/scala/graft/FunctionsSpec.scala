package graft

import graft.functions.GraftFunctions
import graft.functions.{GraftFunctions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Native expressions: SQL surface, correctness, and the extensions hook. */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("graft_dot evaluates correctly from SQL and matches the HOF fold") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d").collect()
    assert(r(0).getDouble(0) == 32.0)
    // matches the higher-order-function spelling bit-for-bit on real data
    val cmp = spark.sql(
      "SELECT sum(CASE WHEN graft_dot(v, v) = aggregate(zip_with(v, v, (x, y) -> x * y), 0d, (a, x) -> a + x) THEN 0 ELSE 1 END) AS bad " +
      s"FROM (SELECT transform(embedding, x -> cast(x AS double)) AS v FROM parquet.`${TestSpark.sf0001}/embeddings.parquet`)")
      .collect()(0).getLong(0)
    assert(cmp == 0L)
  }

  test("graft_minhash_sig and graft_simhash64 run from SQL, deterministic") {
    GraftFunctions.register(spark)
    val a = spark.sql("SELECT graft_minhash_sig(array(1L, 2L, 3L), 8) AS s, graft_simhash64(array(1L, 2L, 3L)) AS h")
      .collect()(0)
    val b = spark.sql("SELECT graft_minhash_sig(array(1L, 2L, 3L), 8) AS s, graft_simhash64(array(1L, 2L, 3L)) AS h")
      .collect()(0)
    assert(a.toString == b.toString)
    assert(a.getSeq[Long](0).length == 8)
  }

  test("graft_dot stays inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val df = spark.sql(
      s"SELECT graft_dot(transform(embedding, x -> cast(x AS double)), transform(embedding, x -> cast(x AS double))) AS n " +
      s"FROM parquet.`${TestSpark.sf0001}/embeddings.parquet`")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("space-saving sketch: overestimate + guaranteed-hitter invariants under eviction") {
    import graft.functions.SpaceSavingSketch
    // capacity 4 over 8 distinct items forces evictions; item 'hot' carries
    // 40 of N=75 occurrences (> N/capacity ≈ 18.75) so Space-Saving
    // GUARANTEES it stays tracked no matter the arrival order.
    val stream = Seq.fill(40)("hot") ++
      (1 to 7).flatMap(i => Seq.fill(5)(s"cold$i"))
    // adversarial order: all cold items first, hot last
    val sk = new SpaceSavingSketch(4)
    (stream.reverse).foreach(sk.add)
    assert(sk.items.contains("hot"), "guaranteed heavy hitter evicted")
    assert(sk.items.size <= 4)
    // overestimate invariant: tracked count >= true count
    assert(sk.counts("hot") >= 40L)

    // merge across "partitions" preserves both invariants
    val parts = stream.grouped(15).toSeq.map { chunk =>
      val p = new SpaceSavingSketch(4); chunk.foreach(p.add); p
    }
    val merged = parts.reduce { (a, b) => a.merge(b); a }
    assert(merged.items.contains("hot"), "hitter lost in merge")
    assert(merged.counts("hot") >= 40L, "merge broke the overestimate invariant")

    // serialization round trip is lossless
    val rt = SpaceSavingSketch.fromBytes(merged.toBytes)
    assert(rt.items == merged.items && rt.counts == merged.counts && rt.errs == merged.errs)
  }

  test("graft_heavy_hitters runs from SQL as an aggregate") {
    val spark = TestSpark.spark
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val out = (Seq.fill(30)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("x")
      .repartition(4)
      .createOrReplaceTempView("hh_in")
    val cands = spark.sql("SELECT graft_heavy_hitters(x, 2) AS c FROM hh_in")
      .collect().head.getSeq[String](0)
    assert(cands.contains("a"), s"dominant item missing from $cands")
    assert(cands.size <= 2)
  }

  test("Column helpers need no registration and equal their SQL spelling") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.functions.{array, col, lit}
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    (0L until 40L by 3).foreach(k => bloom.putLong(k))
    val bytes = { val o = new java.io.ByteArrayOutputStream; bloom.writeTo(o); o.toByteArray }
    val hex = bytes.map(b => f"$b%02X").mkString
    def input(s: org.apache.spark.sql.SparkSession) = s.range(0, 40).select(
      col("id").as("k"),
      array(col("id").cast("double"), lit(1.0), lit(-2.0)).as("v"),
      array(col("id"), col("id") + 1, col("id") % 5, col("id") * 7).as("hs"),
      (col("id") % 3).cast("string").as("s"))
    // (SQL spelling, Column helper) for the ten scalar functions; the two
    // aggregates and the theta set ops run over per-group sketches below
    val scalars: Seq[(String, Column)] = Seq(
      "graft_dot(v, v)" -> F.dot(col("v"), col("v")),
      "graft_minhash_sig(hs, 8)" -> F.minhashSig(col("hs"), 8),
      "graft_simhash64(hs)" -> F.simhash64(col("hs")),
      "graft_winnow_mins(hs, 2)" -> F.winnowMins(col("hs"), 2),
      "graft_hyperplane_buckets(v, 2, 4)" -> F.hyperplaneBuckets(col("v"), 2, 4),
      s"graft_bloom_might_contain(k, X'$hex')" -> F.bloomMightContain(col("k"), bytes))
    val aggs: Seq[(String, Column)] = Seq(
      "graft_heavy_hitters(s, 2)" -> F.heavyHitters(col("s"), 2),
      "graft_theta_sketch(k, 10)" -> F.thetaSketch(col("k"), 10),
      "graft_theta_sketch(k + 5, 10)" -> F.thetaSketch(col("k") + 5, 10))
    val setOps: Seq[(String, Column)] = Seq(
      "graft_theta_estimate(a)" -> F.thetaEstimate(col("a")),
      "graft_theta_estimate(graft_theta_union(a, b, 10))" ->
        F.thetaEstimate(F.thetaUnion(col("a"), col("b"), 10)),
      "graft_theta_estimate(graft_theta_intersect(a, b))" ->
        F.thetaEstimate(F.thetaIntersect(col("a"), col("b"))),
      "graft_theta_estimate(graft_theta_anotb(a, b))" ->
        F.thetaEstimate(F.thetaAnotB(col("a"), col("b"))))
    def run(s: org.apache.spark.sql.SparkSession, pick: ((String, Column)) => Column) = {
      val scalarRows = input(s).select(col("k") +: scalars.map(pick): _*).orderBy("k").collect()
      val sketches = input(s).groupBy((col("k") % 2).as("g"))
        .agg(pick(aggs(0)).as("hh"), pick(aggs(1)).as("a"), pick(aggs(2)).as("b"))
      val setRows = sketches.select(col("g") +: col("hh") +: setOps.map(pick): _*)
        .orderBy("g").collect()
      (scalarRows.map(_.toSeq).toSeq, setRows.map(_.toSeq).toSeq)
    }

    val fresh = spark.newSession()
    assert(!fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_dot")))
    val viaColumns = run(fresh, _._2)
    assert(!fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_dot")))

    GraftFunctions.register(spark)
    val viaSql = run(spark, p => org.apache.spark.sql.functions.expr(p._1))
    assert(viaColumns == viaSql)
    assert(viaColumns._1.size == 40 && viaColumns._2.size == 2)
  }

  test("register is idempotent: a second call keeps every registered entry") {
    GraftFunctions.register(spark)
    val registry = spark.sessionState.functionRegistry
    def infos = GraftFunctions.table.map { case (id, _, _) => registry.lookupFunction(id).get }
    val before = infos
    GraftFunctions.register(spark)
    before.zip(infos).foreach { case (a, b) => assert(a eq b, a.getName) }
  }

  test("GraftExtensions injects the functions into a fresh extensions set") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = org.apache.spark.sql.graft.InjectedFunctions.ids(ext)
    assert(GraftFunctions.table.size == 12)
    assert(injected.toSet == GraftFunctions.table.map(_._1).toSet)
    assert(injected.size == GraftFunctions.table.size)
  }
}
