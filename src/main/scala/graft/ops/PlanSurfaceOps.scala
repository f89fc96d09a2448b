package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.tables.Tables

/** Optimizer/physical-plan surfaces the rest of the suite relies on
  * implicitly but never drives head-on: DSv2 aggregate pushdown (answer
  * MIN/MAX/COUNT from parquet footer statistics — zero data pages read),
  * explicit join-strategy hints (shuffled-hash where sort-merge would sort
  * two fact-sized sides pointlessly), and exchange reuse (one shuffle
  * feeding N consumers of the same subplan). Each is oracle-backed like any
  * relational key AND plan-asserted in PlanShapeSpec — the result being
  * right is half the contract, the plan being the 100 TB-shaped one is the
  * other half.
  */
object PlanSurfaceOps {

  /** The aggregate subplan of [[scanAggPushdown]], built against whatever
    * source implementation the session confs select — shared with
    * PlanShapeSpec, which pins the V2 confs and asserts `PushedAggregation`
    * in the scan. BIGINT columns only: parquet footer min/max for INT64 is
    * exact and type-stable (the INT96 timestamp columns would veto pushdown
    * for the whole query). */
  private[graft] def aggScan(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("min_orderkey"),
        max(col("l_orderkey")).as("max_orderkey"),
        min(col("l_partkey")).as("min_partkey"),
        max(col("l_partkey")).as("max_partkey"))

  /** The enabling conf window for parquet DSv2 aggregate pushdown (V2
    * source selection + `parquet.aggregatePushdown`), set-run-restore.
    * THE one definition — the op below and PlanShapeSpec's plan assertion
    * both run inside it, so the pinned plan is always the configuration
    * the op actually executes. */
  private[graft] def withParquetAggPushdown[A](s: SparkSession)(body: => A): A = {
    val v1Key = "spark.sql.sources.useV1SourceList"
    val pdKey = "spark.sql.parquet.aggregatePushdown"
    val v1Without = s.conf.get(v1Key).split(",").map(_.trim)
      .filterNot(_.equalsIgnoreCase("parquet")).mkString(",")
    Housekeeping.withSessionConf(s, v1Key -> v1Without, pdKey -> "true")(body)
  }

  /** Footer-statistics aggregation: COUNT/MIN/MAX answered by the parquet
    * DSv2 reader from row-group metadata — the "table stats in O(#row
    * groups)" fast path ([[StatsOps.statsCollect]]'s cheap prefix; at 100 TB
    * this is the difference between a stats refresh scanning footers and
    * scanning 100 TB). The session's default V1 parquet path has no
    * aggregate pushdown, so the op materializes the one-row answer INSIDE
    * the [[withParquetAggPushdown]] conf window and returns the staged
    * result — the conf flip can never leak into another op's planning.
    */
  val scanAggPushdown: Op = Op(
    "scan_agg_pushdown",
    (s, d) => {
      val out = Housekeeping.boundedScratch("agg_pd").toString
      withParquetAggPushdown(s)(Stage.put(aggScan(s, d).coalesce(1), out))
    },
    Some("SELECT COUNT(*) AS n_rows, MIN(l_orderkey) AS min_orderkey, " +
      "MAX(l_orderkey) AS max_orderkey, MIN(l_partkey) AS min_partkey, " +
      "MAX(l_partkey) AS max_partkey FROM lineitem"))

  /** Orders⋈customer with the customer side pinned to SHUFFLED HASH — the
    * strategy for the "too big to broadcast, too silly to sort" middle
    * ground: sort-merge pays two sorts it never needs when one side hashes
    * into per-partition memory; a strategy hint is how a user states that
    * knowledge (the hint travels with the query, the planner still picks
    * the build side). PlanShapeSpec asserts ShuffledHashJoin lands (with
    * broadcast demotion pinned off — at testdata scale AQE would otherwise
    * upgrade the join to broadcast, which is the right call at 15 K rows
    * and the wrong rehearsal for the 100 TB shape this key exists to pin).
    *
    * Scale notes (100 TB): one shuffle per side on the join key (same
    * envelope as sort-merge), NO sort on either side; build-side hash map
    * is per-partition customer rows — bounded by the shuffle partition
    * count the user controls, the knob sort-merge doesn't have. */
  val joinShuffleHashHint: Op = Op(
    "join_shuffle_hash_hint",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).hint("shuffle_hash")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), Dets.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("c_mktsegment")
    },
    Some("SELECT c_mktsegment, COUNT(*) AS n_orders, " + Dets.oSum("o_totalprice") +
      " AS sum_price FROM orders JOIN customer ON o_custkey = c_custkey " +
      "GROUP BY 1 ORDER BY 1"))

  /** Day-over-day event deltas via a SELF-JOIN of one aggregated subquery —
    * written so the daily aggregate appears twice in the logical plan and
    * Spark's exchange-reuse dedups it physically: the expensive shuffle+
    * aggregate materializes ONCE and the second consumer reads the same
    * exchange (PlanShapeSpec asserts it — `ReusedExchange`, or the same
    * query-stage id under both branches with AQE). This is the plan
    * property that makes multi-consumer pipelines affordable at 100 TB — N
    * readers of a conformed aggregate cost one materialization, no manual
    * cache needed.
    *
    * Reuse only fires when the two subplans stay CANONICALLY IDENTICAL
    * through optimization, which dictates two design choices here: the
    * aggregate carries exactly the columns both consumers read (column
    * pruning would otherwise specialize one side), and the self-join is
    * FULL OUTER (an inner/left join would infer an `IsNotNull(day+1)`
    * filter into one branch only — semantically equal for a never-null
    * key, but canonically different, silently forfeiting reuse). The full
    * outer form also keeps the boundary days honest: the first day appears
    * with no prior, the day after the last appears as a phantom row with
    * nulls — both engines state it identically. */
  val planReuseExchange: Op = Op(
    "plan_reuse_exchange",
    (s, d) => {
      def daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      daily.as("a")
        .join(daily.as("b"), col("a.day") === date_add(col("b.day"), 1), "full_outer")
        .select(coalesce(col("a.day"), date_add(col("b.day"), 1)).as("day"),
          col("a.n").as("n_events"), col("b.n").as("prev_n_events"),
          (col("a.n") - coalesce(col("b.n"), lit(0L))).as("delta_events"))
        .orderBy("day")
    },
    Some("WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n " +
      "FROM events GROUP BY 1) " +
      "SELECT COALESCE(a.day, b.day + 1) AS day, a.n AS n_events, " +
      "b.n AS prev_n_events, a.n - COALESCE(b.n, 0) AS delta_events " +
      "FROM daily a FULL OUTER JOIN daily b ON a.day = b.day + 1 ORDER BY day"))

  /** EXPLAIN-ANALYZE-style runtime profile — the observability surface
    * beside [[StatsOps.statsCollect]] (table stats) and `dq_observe_metrics`
    * (pipeline audit): execute a fixed 3-table join-aggregate once, then
    * read the PER-OPERATOR row counts off the executed plan's `SQLMetric`s
    * (`numOutputRows` on each scan-filter, join and the final aggregate) and
    * emit them as a relational profile. This is what "why is this query
    * slow" looks like as a query: the per-stage cardinalities that expose a
    * filter that didn't select, a join that exploded, or an aggregate with
    * more groups than planned. The oracle recomputes every stage count
    * independently in SQL, so the driver hash PROVES the metrics plumbing
    * reports true cardinalities (ProfileMetricsSpec re-proves it in-JVM).
    *
    * Runtime row-level filters (bloom / semi-join reduction) are pinned off
    * for the profiled run (set-run-restore): they would make operator input
    * counts probabilistic, and a profile that can't be reproduced is noise.
    *
    * Scale notes (100 TB): the profile costs NOTHING beyond the query it
    * observes — SQLMetrics accumulate on the driver during normal execution
    * (the same counters the Spark UI shows); the profile relation itself is
    * O(#operators) rows. This is the cheap first look before a re-run under
    * a sampling profiler. */
  val planProfileMetrics: Op = Op(
    "plan_profile_metrics",
    (s, d) => {
      import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      val q = Tables.lineitem(s, d).where(col("l_quantity") < 10)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"))
      val bfKey = "spark.sql.optimizer.runtime.bloomFilter.enabled"
      val sjKey = "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled"
      // defaulted reads: semiJoinReduction is an INTERNAL conf, which
      // RuntimeConfig.get refuses to resolve without an explicit default
      Housekeeping.withSessionConfDefaulted(s,
        Seq(bfKey -> "false", sjKey -> "false"),
        Map(bfKey -> "true", sjKey -> "false")) { q.collect() }
      // preorder walk that descends through AQE wrappers and query stages
      def expand(p: SparkPlan): Seq[SparkPlan] = {
        val inner = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case qs: QueryStageExec => Seq(qs.plan)
          case r: ReusedExchangeExec => Seq(r.child)
          case _ => p.children
        }
        p +: inner.flatMap(expand)
      }
      val nodes = expand(q.queryExecution.executedPlan)
      def tableOf(f: FileSourceScanExec): String = {
        val path = f.relation.location.rootPaths.mkString(",")
        Seq("lineitem", "orders", "customer").find(path.contains).getOrElse("other")
      }
      def scansUnder(p: SparkPlan): Seq[String] =
        expand(p).collect { case f: FileSourceScanExec => tableOf(f) }
      def outRows(p: SparkPlan): Long = p.metrics("numOutputRows").value
      // rows ENTERING the join from each table = the topmost Filter whose
      // only scan is that table (Catalyst's inferred IsNotNull filters give
      // every side one), falling back to the raw scan when no filter exists
      def inputRows(t: String): Long = {
        val filt: Option[SparkPlan] = nodes.collectFirst {
          case f: FilterExec if scansUnder(f) == Seq(t) => f }
        outRows(filt.getOrElse(nodes.collectFirst {
          case f: FileSourceScanExec if tableOf(f) == t => f }.get))
      }
      val joins = nodes.collect { case j: BaseJoinExec => j }
      val jCust = joins.find(j => scansUnder(j).contains("customer")).get
      val jOrd = joins.find(j => !scansUnder(j).contains("customer")).get
      val agg = nodes.collectFirst { case a: BaseAggregateExec => a }.get
      s.createDataFrame(Seq(
        ("agg_groups", outRows(agg)),
        ("input_customer", inputRows("customer")),
        ("input_lineitem", inputRows("lineitem")),
        ("input_orders", inputRows("orders")),
        ("join_customer", outRows(jCust)),
        ("join_orders", outRows(jOrd))))
        .toDF("stage", "n_rows").orderBy("stage")
    },
    Some("WITH li AS (SELECT l_orderkey FROM lineitem WHERE l_quantity < 10), " +
      "j1 AS (SELECT o_custkey FROM li JOIN orders ON l_orderkey = o_orderkey), " +
      "j2 AS (SELECT c_mktsegment FROM j1 JOIN customer ON o_custkey = c_custkey) " +
      "SELECT stage, n_rows FROM (" +
      "SELECT 'agg_groups' AS stage, CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_rows FROM j2 " +
      "UNION ALL SELECT 'input_customer', (SELECT COUNT(*) FROM customer) " +
      "UNION ALL SELECT 'input_lineitem', (SELECT COUNT(*) FROM li) " +
      "UNION ALL SELECT 'input_orders', (SELECT COUNT(*) FROM orders) " +
      "UNION ALL SELECT 'join_customer', (SELECT COUNT(*) FROM j2) " +
      "UNION ALL SELECT 'join_orders', (SELECT COUNT(*) FROM j1)" +
      ") ORDER BY stage"))

  /** SLICE-SKEW PROFILE of an executed native sliced band join (round 16;
    * the round-15 verdict's #5) — the skew observability the native-join
    * SIZE metrics bought, surfaced as a RELATIONAL profile on the driver's
    * hash surface instead of only in specs: run `join_range_sliced`'s exact
    * join through [[graft.plans.RangeJoinExec]], read the executed exec's
    * SQLMetrics (total left input rows; total output rows), and emit them
    * beside the per-(key, slice) GROUP input-count distribution — the unit
    * of parallelism at fixed slicing, so min/med/max over groups IS the
    * bounded-spread claim `join_range_sliced` makes, stated as data.
    *
    * Every emitted number is SEMANTIC (partition-count-invariant): the exec
    * totals are accumulator SUMS, the group distribution is determined by
    * data + the slicing rule alone — so DuckDB recomputes all ten from the
    * events table and the driver hash PROVES the executed native plan saw
    * exactly the relationally-predicted cardinalities. numRightRows is
    * deliberately NOT emitted: the merge iterator early-outs on right rows
    * beyond the last left key, so its value is consumption-dependent
    * (RangeJoinSpec pins its bounds instead). The median is the LOWER
    * median computed off a per-count HISTOGRAM (groups collapse to ≤
    * max-group-size rows before the single-partition window), never a
    * global sort of the groups — the 100 TB spelling. The profiled run
    * itself is drained WITHOUT a global orderBy: a sort's range-partitioner
    * sampling would re-execute the join and double every accumulator. */
  val planSliceSkewProfile: Op = Op(
    "plan_slice_skew_profile",
    (s, d) => {
      val S = 600000000L // slice = band width = 10 min, join_range_sliced's setting
      val e = Tables.events(s, d)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("u1"), col("ts").as("t1"))
      val f = e.select(col("event_id").as("follow_id"), col("user_id").as("u2"),
        col("ts").as("t2"))
      val joined = graft.plans.Band.joinSliced(p, f, Seq("u1" -> "u2"), "t1", "t2",
          loMicros = 0L, hiMicros = S, sliceMicros = S)
        .select("purchase_id", "follow_id")
      joined.queryExecution.toRdd.count() // drain fully, no orderBy above the exec
      def expand(pl: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val inner = pl match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(qs.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
          case _ => pl.children
        }
        pl +: inner.flatMap(expand)
      }
      val exec = expand(joined.queryExecution.executedPlan)
        .collectFirst { case r: graft.plans.RangeJoinExec => r }.get
      val execLeft = exec.metrics("numLeftRows").value
      val execOut = exec.metrics("numOutputRows").value
      // the relational replay of the exec's staging rule (Band.joinSliced):
      // a left row lands in exactly floor(t/S); a right row is staged into
      // floor((t-hi)/S) .. floor((t-lo)/S)
      def fdiv(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        ((c - pmod(c, lit(S))) / lit(S)).cast("long")
      val lg = p.groupBy(col("u1"), fdiv(unix_micros(col("t1"))).as("sl"))
        .agg(count(lit(1)).as("n"))
      val rg = f.select(col("u2"), explode(sequence(
          fdiv(unix_micros(col("t2")) - S), fdiv(unix_micros(col("t2"))))).as("sl"))
        .groupBy("u2", "sl").agg(count(lit(1)).as("n"))
      def stats(g: DataFrame): (Long, Long, Long, Long) = {
        val hist = g.groupBy(col("n")).agg(count(lit(1)).as("c"))
        val bounds = g.agg(count(lit(1)).as("ng"), min(col("n")).as("mn"),
          max(col("n")).as("mx")).first()
        val med = hist
          .withColumn("cum", sum(col("c")).over(
            org.apache.spark.sql.expressions.Window.orderBy("n")))
          .crossJoin(broadcast(hist.agg(sum(col("c")).as("tot"))))
          .where(col("cum") * 2 >= col("tot") + 1)
          .agg(min(col("n")).as("med")).first().getLong(0)
        (bounds.getLong(0), bounds.getLong(1), med, bounds.getLong(2))
      }
      val (lgN, lMin, lMed, lMax) = stats(lg)
      val (rgN, rMin, rMed, rMax) = stats(rg)
      s.createDataFrame(Seq(
        ("exec_left_rows", execLeft), ("exec_out_rows", execOut),
        ("left_groups", lgN), ("left_max", lMax), ("left_med", lMed),
        ("left_min", lMin),
        ("right_groups", rgN), ("right_max", rMax), ("right_med", rMed),
        ("right_min", rMin)))
        .toDF("stat", "n_rows").orderBy("stat")
    },
    Some("WITH p AS (SELECT epoch_us(ts) AS t, user_id AS u FROM events " +
      "WHERE event_type = 'purchase'), " +
      "f AS (SELECT epoch_us(ts) AS t, user_id AS u FROM events), " +
      "lg AS (SELECT u, t // 600000000 AS sl, COUNT(*) AS n FROM p GROUP BY 1, 2), " +
      "rs AS (SELECT u, unnest(generate_series((t - 600000000) // 600000000, " +
      "t // 600000000)) AS sl FROM f), " +
      "rg AS (SELECT u, sl, COUNT(*) AS n FROM rs GROUP BY 1, 2), " +
      "lh AS (SELECT n, COUNT(*) AS c FROM lg GROUP BY 1), " +
      "rh AS (SELECT n, COUNT(*) AS c FROM rg GROUP BY 1), " +
      "lmed AS (SELECT MIN(n) AS v FROM (SELECT n, SUM(c) OVER (ORDER BY n) AS cum " +
      "FROM lh) a, (SELECT SUM(c) AS tot FROM lh) b WHERE a.cum * 2 >= b.tot + 1), " +
      "rmed AS (SELECT MIN(n) AS v FROM (SELECT n, SUM(c) OVER (ORDER BY n) AS cum " +
      "FROM rh) a, (SELECT SUM(c) AS tot FROM rh) b WHERE a.cum * 2 >= b.tot + 1) " +
      "SELECT stat, n_rows FROM (" +
      "SELECT 'exec_left_rows' AS stat, (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_rows " +
      "UNION ALL SELECT 'exec_out_rows', (SELECT CAST(COUNT(*) AS BIGINT) FROM p " +
      "JOIN f ON f.u = p.u AND f.t > p.t AND f.t <= p.t + 600000000) " +
      "UNION ALL SELECT 'left_groups', (SELECT CAST(COUNT(*) AS BIGINT) FROM lg) " +
      "UNION ALL SELECT 'left_max', (SELECT CAST(MAX(n) AS BIGINT) FROM lg) " +
      "UNION ALL SELECT 'left_med', (SELECT CAST(v AS BIGINT) FROM lmed) " +
      "UNION ALL SELECT 'left_min', (SELECT CAST(MIN(n) AS BIGINT) FROM lg) " +
      "UNION ALL SELECT 'right_groups', (SELECT CAST(COUNT(*) AS BIGINT) FROM rg) " +
      "UNION ALL SELECT 'right_max', (SELECT CAST(MAX(n) AS BIGINT) FROM rg) " +
      "UNION ALL SELECT 'right_med', (SELECT CAST(v AS BIGINT) FROM rmed) " +
      "UNION ALL SELECT 'right_min', (SELECT CAST(MIN(n) AS BIGINT) FROM rg)" +
      ") ORDER BY stat"))

  val all: Seq[Op] = Seq(scanAggPushdown, joinShuffleHashHint, planReuseExchange,
    planProfileMetrics, planSliceSkewProfile)
}
