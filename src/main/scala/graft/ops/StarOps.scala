package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Dets._

/** Multi-join analytical queries over the full star schema — the optimizer
  * workout (join ordering, broadcast selection across 5–6 relations) plus
  * the plain-SQL serving surface a warehouse user expects.
  *
  * Scale notes: region/nation (and part-scale dims) broadcast; the
  * lineitem⋈orders spine is the only big shuffle; Catalyst reorders the dim
  * joins below it. `sql_interface` proves the whole engine is reachable from
  * SQL text over [[GraftCatalog]]'s registered views — same plans, same
  * oracle, zero extra code per operator.
  */
object StarOps {

  /** TPC-H Q5 shape: revenue per nation for one year, customers and
    * suppliers co-located in an ASIA nation. */
  val starJoinQ5: Op = Op(
    "star_join_q5",
    (s, d) => {
      val one = lit(1).cast(D3_2)
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val c = Tables.customer(s, d)
      val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).where(col("r_name") === "ASIA")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey") &&
                  c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(d2(col("l_extendedprice")) * (one - frac(col("l_discount"))))
               .cast("double").as("revenue"),
             count(lit(1)).as("cnt"))
        .orderBy("n_name")
    },
    Some("SELECT n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue, COUNT(*) AS cnt " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN customer ON o_custkey = c_custkey " +
      "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
      "JOIN nation ON s_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey " +
      "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
      "AND o_orderdate < TIMESTAMP '1997-01-01' " +
      "GROUP BY n_name ORDER BY n_name"))

  /** TPC-H Q3 shape: top-10 open orders by discounted revenue for one
    * market segment — join + aggregate + top-k in one plan. */
  val starTopnQ3: Op = Op(
    "star_topn_q3",
    (s, d) => {
      val one = lit(1).cast(D3_2)
      val c = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).where(col("o_orderstatus") === "O")
      val li = Tables.lineitem(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(d2(col("l_extendedprice")) * (one - frac(col("l_discount"))))
               .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    },
    Some("SELECT o_orderkey, o_orderdate, o_orderpriority, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON o_orderkey = l_orderkey " +
      "WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O' " +
      "GROUP BY o_orderkey, o_orderdate, o_orderpriority " +
      "ORDER BY revenue DESC, o_orderkey LIMIT 10"))

  /** The SQL serving surface: the flagship pricing summary submitted as SQL
    * text against GraftCatalog's views — plan and results identical to the
    * DataFrame spelling (same oracle SQL modulo table resolution). */
  val sqlInterface: Op = Op(
    "sql_interface",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus")
    },
    Some("SELECT l_returnflag, l_linestatus, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price, " +
      "COUNT(*) AS count_order " +
      "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
      "ORDER BY l_returnflag, l_linestatus"))

  /** DYNAMIC PARTITION PRUNING — the star-schema scan optimization the
    * suite's static `PushedFilters` rows can't show: the fact table is
    * day-partitioned, the filter lives on the DIM side (a 5-day calendar
    * slice), and Catalyst injects the dim's qualifying day set into the
    * fact scan's PARTITION FILTERS at runtime (a `dynamicpruning` subquery
    * fed by the broadcast), so only ~5 of 30 day directories are read —
    * without DPP every partition scans and the filter applies post-join.
    * PlanShapeSpec-style assertion lives in DppSpec: the fact scan carries
    * a `dynamicpruning` expression. Oracle: the plain filtered join.
    *
    * Scale notes (100 TB): THE mechanism that makes dim-predicated fact
    * queries cheap on a partitioned lake — I/O ∝ qualifying partitions, not
    * table size; works through the same broadcast the dim join already
    * does, so it is free when the dim broadcasts. */
  val joinDppPartitionPruning: Op = Op(
    "join_dpp_partition_pruning",
    (s, d) => {
      val out = Stage.root(d) + "/dpp_facts"
      val e = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      e.repartition(col("day"))
        .write.partitionBy("day").mode("overwrite").parquet(out)
      // dim: the calendar — qualifying rows are a 5-day slice chosen by a
      // dim-side predicate (the fact side never sees a literal day filter)
      val dim = e.select(col("day")).distinct()
        .withColumn("rk", dense_rank().over(
          org.apache.spark.sql.expressions.Window.orderBy("day")))
        .where(col("rk") >= 11 && col("rk") <= 15)
        .select("day")
      s.read.parquet(out).join(broadcast(dim), "day")
        .groupBy("day")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy("day")
    },
    Some("WITH days AS (SELECT day, dense_rank() OVER (ORDER BY day) AS rk " +
      "FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)), " +
      "dim AS (SELECT day FROM days WHERE rk BETWEEN 11 AND 15) " +
      "SELECT e.day, COUNT(*) AS cnt, " + oSum("value") + " AS sum_value " +
      "FROM (SELECT CAST(ts AS DATE) AS day, value FROM events) e " +
      "JOIN dim USING (day) GROUP BY e.day ORDER BY day"))

  val all: Seq[Op] = Seq(starJoinQ5, starTopnQ3, sqlInterface, joinDppPartitionPruning)
}

/** Temp-view registration for the SQL surface: a user of the reference who
  * writes SQL points their queries at these view names. The `graft_*` SQL
  * functions come from [[graft.GraftExtensions]] or
  * `graft.functions.GraftFunctions.register`, not from here. */
object GraftCatalog {
  // Registration is skipped only when the session's views already point at
  // THIS dir (a set-based memo would serve stale views after alternating
  // warehouse roots in one session — the views are session-global). The memo
  // is recorded AFTER successful registration (a failure must not poison it)
  // and the whole check-register-record runs under a lock (a concurrent
  // caller must not observe the memo before the views exist).
  private val current =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  def registerAll(spark: SparkSession, dir: String): Unit = current.synchronized {
    if (current.get(spark) != dir) {
      // through the schema-pinned loaders: registering starts no Spark job
      Tables.schemas.keys.foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
      current.put(spark, dir)
    }
  }
}
