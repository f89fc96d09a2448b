package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.functions._
import Dets._

/** SURVEY.md §2 category D — aggregations.
  *
  * Scale notes (100 TB): every groupBy here is a two-phase HashAggregate
  * (partial map-side combine before the exchange), so shuffle volume is the
  * group cardinality, not the input. Decimal pins make the partial/final
  * split order-insensitive. `countDistinct` expands — at true scale the
  * `agg_approx_hll` (HLL++) row is the intended substitute.
  */
object AggOps {

  /** Flagship — TPC-H Q1 shape (the reference's daily-summary shape).
    * Sums/averages follow the exact-decimal policy in [[Dets]]; the product
    * chains (12,2)*(3,2)*(3,2) stay exact on both engines (no intermediate
    * rounding anywhere). */
  val aggPricingSummary: Op = Op(
    "agg_pricing_summary",
    (s, d) => {
      val one = lit(1).cast(D3_2)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(d2(col("l_extendedprice")) * (one - frac(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum(d2(col("l_extendedprice")) * (one - frac(col("l_discount"))) * (one + frac(col("l_tax"))))
            .cast("double").as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          (sum(frac(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("SELECT l_returnflag, l_linestatus, " +
      oSum("l_quantity") + " AS sum_qty, " +
      oSum("l_extendedprice") + " AS sum_base_price, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge, " +
      oAvg("l_quantity") + " AS avg_qty, " +
      oAvg("l_extendedprice") + " AS avg_price, " +
      "CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / COUNT(*) AS avg_disc, " +
      "COUNT(*) AS count_order " +
      "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"))

  val aggCountDistinct: Op = Op(
    "agg_count_distinct",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
             countDistinct(to_date(col("o_orderdate"))).as("n_days"))
        .orderBy("c_mktsegment")
    },
    Some("SELECT c_mktsegment, COUNT(DISTINCT o_custkey) AS n_cust, " +
      "COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days " +
      "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment"))

  /** HLL++ sketch — the 100 TB substitute for exact distinct. The estimate
    * is engine-specific (DuckDB's approx_distinct is a different sketch), so
    * the hash oracle is an ACCURACY-ENVELOPE check via the staged-
    * intermediate playbook: the engine's estimates are staged to parquet,
    * and the oracle reads them back while independently recomputing the
    * EXACT distinct counts in DuckDB — its WHERE keeps only estimates
    * within ±5 % of ITS exact, so an out-of-tolerance sketch (or an exact
    * count the engines disagree on) drops rows and fails the compare loudly.
    * rsd = 0.02, so the 5 % envelope is 2.5σ — deterministic per dataset and
    * green across the whole sf/parallelism matrix (BASELINE.md). */
  val aggApproxHll: Op = Op(
    "agg_approx_hll",
    (s, d) => {
      val est = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      val staged = Stage.put(est.coalesce(1), Stage.root(d) + "/hll_est")
      val exact = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      staged.join(exact, "event_type")
        .select(col("event_type"), col("approx_users"), col("exact_users"))
        .orderBy("event_type")
    },
    Some("SELECT s.event_type, s.approx_users, e.exact_users " +
      "FROM read_parquet('" + Stage.token + "/hll_est/*.parquet') s " +
      "JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users " +
      "FROM events GROUP BY 1) e USING (event_type) " +
      "WHERE abs(s.approx_users - e.exact_users) <= 0.05 * e.exact_users " +
      "ORDER BY event_type"))

  /** MERGEABLE distinct-count sketches — the pre-aggregation pattern that
    * makes distinct counts affordable at 100 TB: build one HLL sketch
    * (Apache DataSketches binary) per day, then answer any date range by
    * UNIONING the stored sketches instead of rescanning the facts. Emits the
    * per-day estimates plus a 'total' row whose value is
    * estimate(union(daily sketches)) — and because HLL union takes register
    * maxima, the union of per-day sketches is STATE-IDENTICAL to one sketch
    * over all days (HllMergeSpec asserts estimate equality with the
    * estimator path pinned through hll_union_agg on both sides, alongside
    * the ±5 % accuracy bar vs exact distinct). Determinism caveat: sketch
    * STATE is a pure function of the input value set, but the ESTIMATE
    * depends on which DataSketches estimator runs (HIP for a never-merged
    * sketch, composite after a union) — this op's total row always goes
    * through the union path, so its estimates are layout-independent. At width the daily sketch
    * table is what you persist; each increment touches one day. Oracle =
    * the accuracy-envelope pattern (see [[aggApproxHll]]): the staged per-day
    * + union-total estimates must each sit within ±5 % of DuckDB's own exact
    * distinct counts (per day, and across all days for the union row —
    * which also independently verifies the MERGE: a union bug that loses a
    * day's registers overshoots the envelope), or the oracle drops the row
    * and the compare fails. lgK=12 → ~1.6 % relative error, well inside. */
  val aggHllMergeable: Op = Op(
    "agg_hll_mergeable",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      val perDay = daily.select(col("day").cast("string").as("day"),
        hll_sketch_estimate(col("sk")).as("approx_users"))
      val total = daily.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_users"))
        .select(lit("total").as("day"), col("approx_users"))
      val est = perDay.unionAll(total)
      val staged = Stage.put(est.coalesce(1), Stage.root(d) + "/hll_daily_est")
      val exactDay = Tables.events(s, d)
        .groupBy(to_date(col("ts")).cast("string").as("day"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      val exactTotal = Tables.events(s, d)
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .select(lit("total").as("day"), col("exact_users"))
      staged.join(exactDay.unionAll(exactTotal), "day")
        .select(col("day"), col("approx_users"), col("exact_users"))
        .orderBy("day")
    },
    Some("WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, " +
      "COUNT(DISTINCT user_id) AS exact_users FROM events GROUP BY 1 " +
      "UNION ALL SELECT 'total', COUNT(DISTINCT user_id) FROM events) " +
      "SELECT s.day, s.approx_users, e.exact_users " +
      "FROM read_parquet('" + Stage.token + "/hll_daily_est/*.parquet') s " +
      "JOIN e USING (day) " +
      "WHERE abs(s.approx_users - e.exact_users) <= 0.05 * e.exact_users " +
      "ORDER BY day"))

  /** GROUPING SETS is SQL-only surface in Spark — exercised via spark.sql on a
    * temp view. grouping() flags emitted per column (cast int on both engines;
    * grouping_id bit-packing conventions are avoided). */
  val aggGroupingSets: Op = Op(
    "agg_grouping_sets",
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("gs_lineitem")
      s.sql("SELECT l_returnflag, l_linestatus, " +
        "CAST(grouping(l_returnflag) AS INT) AS g_rf, CAST(grouping(l_linestatus) AS INT) AS g_ls, " +
        "COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty " +
        "FROM gs_lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
        "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")
    },
    Some("SELECT l_returnflag, l_linestatus, " +
      "CAST(grouping(l_returnflag) AS INT) AS g_rf, CAST(grouping(l_linestatus) AS INT) AS g_ls, " +
      "COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty " +
      "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
      "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"))

  /** ROLLUP (year, month) — the reference's site→month→day hierarchy shape. */
  val aggRollupTime: Op = Op(
    "agg_rollup_time",
    (s, d) =>
      Tables.orders(s, d)
        .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"), col("o_totalprice"))
        .rollup(col("y"), col("m"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("cnt"))
        .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first),
    Some("SELECT y, m, " + oSum("o_totalprice") + " AS revenue, COUNT(*) AS cnt FROM " +
      "(SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m, o_totalprice FROM orders) " +
      "GROUP BY ROLLUP (y, m) ORDER BY y NULLS FIRST, m NULLS FIRST"))

  val aggCube: Op = Op(
    "agg_cube",
    (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, " + oSum("l_quantity") + " AS sum_qty " +
      "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) " +
      "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"))

  /** collect_list is unordered under shuffle → always sort_array (§7.2 rule 6).
    * Emitted as a comma-joined STRING, not array<bigint>: the driver's pandas
    * hasher cannot factorize array cells (round-1 red row), and a joined
    * string carries identical information. Sort happens on the numeric array
    * BEFORE stringification so ordering stays numeric on both engines. */
  val aggCollectSorted: Op = Op(
    "agg_collect_sorted",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(array_join(transform(sort_array(collect_list(col("o_orderkey"))),
          _.cast("string")), ",").as("orderkeys"))
        .orderBy("o_custkey"),
    Some("SELECT o_custkey, array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys " +
      "FROM orders GROUP BY o_custkey ORDER BY o_custkey"))

  /** arg-max with explicit tie-break: priciest order per customer, ties → the
    * larger orderkey (struct ordering on (price, key); oracle via the
    * equivalent row_number window — deterministic on both engines). */
  val aggArgMax: Op = Op(
    "agg_arg_max",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("best_order"))
        .orderBy("o_custkey"),
    Some("SELECT o_custkey, best_order FROM (SELECT o_custkey, o_orderkey AS best_order, " +
      "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn " +
      "FROM orders) WHERE rn = 1 ORDER BY o_custkey"))

  val aggPivot: Op = Op(
    "agg_pivot",
    (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val piv = Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .count()
      piv.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy("user_id")
    },
    Some("SELECT user_id, " +
      Seq("click", "error", "purchase", "signup", "view")
        .map(t => s"COUNT(*) FILTER (WHERE event_type = '$t') AS n_$t").mkString(", ") +
      " FROM events GROUP BY user_id ORDER BY user_id"))

  /** distinct(), not dropDuplicates(cols) — the latter keeps an arbitrary row. */
  val distinctRows: Op = Op(
    "distinct_rows",
    (s, d) =>
      Tables.events(s, d)
        .select("user_id", "event_type")
        .distinct()
        .orderBy("user_id", "event_type"),
    Some("SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"))

  /** The standing daily rollup (day, cnt, decimal sum) over events STRICTLY
    * BEFORE `splitDay`, and the same partial over the rest — the two halves
    * of the incremental maintenance job, exposed for IncrementalRollupSpec's
    * split-invariance property. Partial sums stay DECIMAL (never cast to
    * double before the merge) so re-aggregation is exact and associative. */
  def rollupPartial(df: org.apache.spark.sql.DataFrame,
      cond: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    df.where(cond).groupBy("day")
      .agg(count(lit(1)).as("cnt"), sum(d2(col("value"))).as("sv"))

  /** Incremental materialized-rollup maintenance — how a 100 TB pipeline
    * keeps a daily aggregate table current: the standing rollup (all days
    * before the newest) is PERSISTED; when the new day's delta arrives, only
    * the delta is scanned and its partial aggregate is MERGED with the
    * standing table by re-aggregation (decimal sums and counts are
    * associative, so merged ≡ full recompute EXACTLY — and the oracle is the
    * full recompute, so the hash compare proves it). Cost per increment =
    * delta scan + standing-table-sized merge, never a full-history rescan.
    * The same pattern as agg_hll_mergeable, for exact aggregates. */
  val aggIncrementalRollup: Op = Op(
    "agg_incremental_rollup",
    (s, d) => {
      val e = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      // the newest day is "today", arriving as the delta (one collected
      // scalar — the boundary the job scheduler knows anyway)
      val split = e.agg(max(col("day"))).first().getDate(0)
      val standingDir = Housekeeping.boundedScratch("graft_rollup").toString
      Stage.put(rollupPartial(e, col("day") < lit(split)), standingDir)
        .unionAll(rollupPartial(e, col("day") >= lit(split)))
        .groupBy("day")
        .agg(sum(col("cnt")).as("cnt"), sum(col("sv")).cast("double").as("sum_value"))
        .orderBy("day")
    },
    Some("SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt, " + oSum("value") +
      " AS sum_value FROM events GROUP BY 1 ORDER BY day"))

  /** Exact grouped percentiles by NEAREST-RANK (value at rank ⌈p·n⌉) — the
    * monitoring staple (p50/p95/p99 per sensor class) with ZERO
    * interpolation: the answer is a value that exists in the data, picked by
    * an integer rank, so nothing engine-specific (percentile interpolation
    * formulas, float accumulation) can reach the result. Rank order is
    * (value, event_id) so duplicate readings break ties identically on both
    * engines; `agg_approx_percentile` is the sketch substitute when a single
    * group outgrows a sort.
    *
    * Scale notes (100 TB): one shuffle on the group key for the rank window
    * (a per-group sort — the price of EXACT order statistics), then the
    * rank-pick collapses in the same partitioning; output is |groups| rows. */
  val aggPercentileExact: Op = Op(
    "agg_percentile_exact",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value"), col("event_id"))
      val cw = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(cw))
        .groupBy(col("event_type"))
        .agg(
          max(when(col("rn") === ceil(lit(0.50) * col("cnt")), col("value"))).as("p50"),
          max(when(col("rn") === ceil(lit(0.95) * col("cnt")), col("value"))).as("p95"),
          max(when(col("rn") === ceil(lit(0.99) * col("cnt")), col("value"))).as("p99"))
        .orderBy("event_type")
    },
    Some("WITH r AS (SELECT event_type, value, " +
      "row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn, " +
      "COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM events) " +
      "SELECT event_type, " +
      "MAX(CASE WHEN rn = ceil(0.50*cnt) THEN value END) AS p50, " +
      "MAX(CASE WHEN rn = ceil(0.95*cnt) THEN value END) AS p95, " +
      "MAX(CASE WHEN rn = ceil(0.99*cnt) THEN value END) AS p99 " +
      "FROM r GROUP BY 1 ORDER BY event_type"))

  /** Exact per-group mode — the order statistic `agg_percentile_exact`
    * doesn't cover: each user's most frequent event_type, tie-broken
    * lexicographically so the pick is total (every (cnt DESC, event_type)
    * pair is unique within a user — no engine-dependent row wins).
    *
    * Scale notes (100 TB): the candidate table after the first groupBy is
    * |users| × |event types| — tiny relative to events — so the rank window
    * sorts per-user groups of ≤ |event types| rows; both shuffles key on
    * user_id and AQE coalesces. The same shape swapped onto a
    * high-cardinality value column is where `text_heavy_hitters`' sketch
    * takes over. */
  val aggModeExact: Op = Op(
    "agg_mode_exact",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("cnt").desc, col("event_type"))
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_event"), col("cnt").as("n_mode"))
        .orderBy("user_id")
    },
    Some("SELECT user_id, event_type AS mode_event, cnt AS n_mode FROM (" +
      "SELECT user_id, event_type, COUNT(*) AS cnt, " +
      "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type) AS rn " +
      "FROM events GROUP BY user_id, event_type) WHERE rn = 1 ORDER BY user_id"))

  /** EXACT distinct counting via bitmap rollup — the mergeable-but-exact
    * alternative to HLL (`agg_hll_mergeable` trades exactness for fixed
    * size; a bitmap index trades size for exactness): integer keys are
    * bucketed into 32-bit words (`word = user_id div 32`), each word
    * aggregated with BIT_OR — associative and order-free, so partials merge
    * map-side and across any partitioning/day-split — and the distinct
    * count is the sum of popcounts. Emitted beside `count_distinct` so the
    * bitmap path is hash-proven equal to the built-in on every group.
    *
    * Scale notes (100 TB): the shuffle carries one word-row per POPULATED
    * (group, word) — for dense key spaces that is keys/32 longs, far under
    * the distinct-aggregate's per-key rows; daily bitmap partials OR
    * together for any window (the same reuse story as the HLL sketches,
    * without the error bar). Sparse/huge key spaces are where you flip back
    * to HLL — the scaladoc'd tradeoff, not a silent one. */
  val aggBitmapDistinct: Op = Op(
    "agg_bitmap_distinct",
    (s, d) => {
      val words = Tables.events(s, d)
        .select(col("event_type"), (col("user_id") / 32).cast("long").as("word"),
          expr("shiftleft(1L, cast(pmod(user_id, 32) as int))").as("bit"))
        .groupBy("event_type", "word")
        .agg(bit_or(col("bit")).as("w"))
      val viaBitmap = words.groupBy("event_type")
        .agg(sum(bit_count(col("w"))).cast("long").as("n_bitmap"))
      val exact = Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      viaBitmap.join(exact, "event_type")
        .select(col("event_type"), col("n_bitmap"), col("n_exact"))
        .orderBy("event_type")
    },
    Some("WITH wd AS (SELECT event_type, user_id // 32 AS word, " +
      "BIT_OR(1::BIGINT << CAST(user_id % 32 AS INT)) AS w FROM events GROUP BY 1, 2), " +
      "b AS (SELECT event_type, CAST(SUM(bit_count(w)) AS BIGINT) AS n_bitmap " +
      "FROM wd GROUP BY 1), " +
      "e AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY 1) " +
      "SELECT b.event_type, b.n_bitmap, e.n_exact FROM b JOIN e USING (event_type) " +
      "ORDER BY event_type"))

  /** Distinct-set ALGEBRA via theta sketches (graft's native
    * `ThetaSketchAgg` + set-op expressions, functions/ThetaSketch.scala) —
    * the capability HLL lacks: audience overlap (first active day ∩ last
    * active day), churn (first \ last), and union, all answered from
    * per-day sketches without ever re-touching the event stream. The
    * estimates are staged to parquet and the oracle joins them to the EXACT
    * set-op counts with a ±5 % envelope (at these sfs the sketches run in
    * exact mode — lgK=14 ≫ 1 500 users — so the estimates are exactly the
    * true counts; the envelope is the honest contract for the estimation
    * regime beyond).
    *
    * Determinism: theta state is a pure function of the input set (KMV — k
    * smallest fixed-seed hashes; ordered compact serialization), so unlike
    * KLL/t-digest the result is bit-identical under any partitioning/merge
    * order — safe for the hash oracle and the determinism matrix.
    *
    * Scale notes (100 TB): the event stream is touched ONCE by the
    * map-side-combining sketch aggregate (same shape as agg_hll_mergeable);
    * every set operation thereafter is sketch-local over per-day rows of
    * ≤ 2^14 hashes. A year of audience-overlap queries against daily
    * sketches never rescans a day. */
  val aggThetaSetops: Op = Op(
    "agg_theta_setops",
    (s, d) => {
      import graft.functions.{GraftFunctions => F}
      val e = Tables.events(s, d).select(to_date(col("ts")).as("day"), col("user_id"))
      // two bounded scalars — the range boundary the scheduler knows anyway
      val bnd = e.agg(min(col("day")), max(col("day"))).first()
      val (da, db) = (bnd.getDate(0), bnd.getDate(1))
      val sks = e.where(col("day") === da || col("day") === db)
        .groupBy("day").agg(F.thetaSketch(col("user_id"), 14).as("sk"))
      val row = sks.agg(
        first(when(col("day") === lit(da), col("sk")), ignoreNulls = true).as("ska"),
        first(when(col("day") === lit(db), col("sk")), ignoreNulls = true).as("skb"))
      val est = row.select(
          F.thetaEstimate(col("ska")).as("a"),
          F.thetaEstimate(col("skb")).as("b"),
          F.thetaEstimate(F.thetaUnion(col("ska"), col("skb"), 14)).as("u"),
          F.thetaEstimate(F.thetaIntersect(col("ska"), col("skb"))).as("i"),
          F.thetaEstimate(F.thetaAnotB(col("ska"), col("skb"))).as("anb"))
        .select(expr("stack(5, 'first_day', a, 'last_day', b, 'union', u, " +
          "'intersect', i, 'first_not_last', anb) AS (metric, approx)"))
      val staged = Stage.put(est.coalesce(1), Stage.root(d) + "/theta_est")
      val ua = e.where(col("day") === lit(da)).select("user_id").distinct()
      val ub = e.where(col("day") === lit(db)).select("user_id").distinct()
      def cnt(df: org.apache.spark.sql.DataFrame, m: String) =
        df.agg(count(lit(1)).as("exact")).select(lit(m).as("metric"), col("exact"))
      val exact = cnt(ua, "first_day")
        .unionAll(cnt(ub, "last_day"))
        .unionAll(cnt(ua.union(ub).distinct(), "union"))
        .unionAll(cnt(ua.intersect(ub), "intersect"))
        .unionAll(cnt(ua.except(ub), "first_not_last"))
      staged.join(exact, "metric")
        .select(col("metric"), col("approx"), col("exact"))
        .orderBy("metric")
    },
    Some("WITH dd AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events), " +
      "bnd AS (SELECT min(day) AS da, max(day) AS db FROM dd), " +
      "ua AS (SELECT DISTINCT user_id FROM dd, bnd WHERE day = da), " +
      "ub AS (SELECT DISTINCT user_id FROM dd, bnd WHERE day = db), " +
      "ex AS (SELECT 'first_day' AS metric, (SELECT COUNT(*) FROM ua) AS exact " +
      "UNION ALL SELECT 'last_day', (SELECT COUNT(*) FROM ub) " +
      "UNION ALL SELECT 'union', (SELECT COUNT(*) FROM (SELECT user_id FROM ua UNION SELECT user_id FROM ub)) " +
      "UNION ALL SELECT 'intersect', (SELECT COUNT(*) FROM (SELECT user_id FROM ua INTERSECT SELECT user_id FROM ub)) " +
      "UNION ALL SELECT 'first_not_last', (SELECT COUNT(*) FROM (SELECT user_id FROM ua EXCEPT SELECT user_id FROM ub))) " +
      "SELECT s.metric, s.approx, ex.exact " +
      "FROM read_parquet('" + Stage.token + "/theta_est/*.parquet') s JOIN ex USING (metric) " +
      "WHERE abs(s.approx - ex.exact) <= 0.05 * greatest(ex.exact, 20) " +
      "ORDER BY metric"))

  /** MATERIALIZED-VIEW aggregate navigation (graft.plans.MvRewrite): the op
    * refreshes the daily-rollup MV, registers it, and then runs the plain
    * full-scan rollup over the BASE table — the injected optimizer rule
    * rewrites that query to read the MV (MvRewriteSpec asserts the final
    * plan scans mv_daily_rollup and never events.parquet; a filtered
    * variant is asserted NOT to rewrite). The oracle recomputes the rollup
    * from the base table in DuckDB, so hash equality proves MV-read ≡
    * recompute exactly — both sides are the same exact-decimal arithmetic.
    *
    * Scale notes (100 TB): the MV costs one maintained rollup (here
    * refreshed in-op; in production, `agg_incremental_rollup`'s
    * delta-merge IS the maintenance job — the two compose); every
    * navigated query then reads |days| rows instead of the corpus. This is
    * the second Catalyst extension surface (optimizer rule) after the
    * as-of family's planner strategy. */
  val aggMvRewriteRollup: Op = Op(
    "agg_mv_rewrite_rollup",
    (s, d) => {
      val mvPath = Stage.root(d) + "/mv_daily_rollup"
      // deregister while refreshing: the MV-build query is ITSELF the
      // navigable rollup shape — left registered, a second refresh would be
      // rewritten to read the very files its overwrite is deleting
      graft.plans.MvCatalog.clear()
      Tables.events(s, d).groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .coalesce(1).write.mode("overwrite").parquet(mvPath)
      graft.plans.MvRewrite.register(s, s"$d/events.parquet", mvPath)
      // the USER query: a plain rollup over the base table — navigation to
      // the MV happens in the optimizer, invisibly to this code
      Tables.events(s, d).groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy("day")
    },
    Some("SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt, " + oSum("value") +
      " AS sum_value FROM events GROUP BY 1 ORDER BY day"))

  /** INCREMENTAL MAINTENANCE OF A JOIN VIEW — the other half of view
    * maintenance beside [[aggIncrementalRollup]]'s aggregate case: a
    * denormalized orders⋈customer view kept current under deltas on BOTH
    * sides by the join-IVM identity
    *
    *   (A₀∪ΔA)⋈(B₀∪ΔB) = A₀⋈B₀ ∪ ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB
    *
    * — the standing view V₀ = A₀⋈B₀ is PERSISTED (the MV artifact, never
    * recomputed), and the refresh touches only the three delta terms. The
    * oracle is the FULL recompute over current A and B: hash equality IS
    * the maintenance-correctness proof. Insert-only deltas here; deletes
    * ride the same algebra with negative multiplicity (counting IVM),
    * noted not built.
    *
    * Scale notes (100 TB): the delta terms cost |Δ|-proportional joins
    * (ΔA⋈B₀ probes the standing side; with both sides bucketed on the join
    * key every term is exchange-free) — refresh cost tracks churn, not
    * view size, which is the entire point of IVM at warehouse scale. */
  val mvJoinDeltaMaintain: Op = Op(
    "mv_join_delta_maintain",
    (s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), d2(col("o_totalprice")).as("price"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      // snapshot split: rows present at view build time vs arrived since
      val o0 = o.where(col("o_orderkey") % 10 =!= 0)
      val dO = o.where(col("o_orderkey") % 10 === 0)
      val c0 = c.where(col("c_custkey") % 7 =!= 0)
      val dC = c.where(col("c_custkey") % 7 === 0)
      // the standing MV: persisted once, read back — never recomputed
      val mvDir = Housekeeping.boundedScratch("mv_join_v0").toString
      val v0 = Stage.put(o0.join(c0, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("price"), col("seg")), mvDir)
      // refresh = the three delta terms of the IVM identity
      val dv = dO.join(c0, col("o_custkey") === col("c_custkey"))
        .unionByName(o0.join(dC, col("o_custkey") === col("c_custkey")))
        .unionByName(dO.join(dC, col("o_custkey") === col("c_custkey")))
        .select(col("o_orderkey"), col("price"), col("seg"))
      v0.unionByName(dv)
        .groupBy("seg")
        .agg(count(lit(1)).as("n_orders"), sum(col("price")).cast("double").as("total"))
        .orderBy("seg")
    },
    Some("SELECT c_mktsegment AS seg, COUNT(*) AS n_orders, " + oSum("o_totalprice") +
      " AS total FROM orders JOIN customer ON o_custkey = c_custkey " +
      "GROUP BY 1 ORDER BY seg"))

  /** Exact WEIGHTED median — the price statistic that answers "the median
    * sold unit cost X" instead of "the median line item cost X": each
    * price weighted by its quantity. Same relational order-statistic
    * machinery as [[aggPercentileExact]] extended to weights: per group,
    * prices sort ascending, quantities (exact decimal-cents integers)
    * accumulate, and the answer is the smallest price whose doubled
    * cumulative weight reaches the group total — the lower weighted
    * median, an integer comparison (2·cumW ≥ totW) with no division.
    *
    * Scale notes (100 TB): one shuffle on the group key + per-group window
    * sort; the emitted relation is |groups| rows. For hot single groups
    * the estimator alternative is a weighted t-digest — same swap story as
    * exact-median → approx-percentile. */
  val aggWeightedMedian: Op = Op(
    "agg_weighted_median",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.lineitem(s, d).select(col("l_returnflag"),
        (col("l_extendedprice").cast(D12_2) * 100).cast("bigint").as("p"),
        (col("l_quantity").cast(D12_2) * 100).cast("bigint").as("w"))
      val wCum = Window.partitionBy("l_returnflag")
        .orderBy(col("p"), col("w")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy("l_returnflag")
      base
        .withColumn("cw", sum(col("w")).over(wCum))
        .withColumn("tw", sum(col("w")).over(wTot))
        .where(col("cw") * 2 >= col("tw"))
        .groupBy("l_returnflag")
        .agg(min(col("p")).as("wmedian_cents"), max(col("tw")).as("total_weight_e2"))
        .orderBy("l_returnflag")
    },
    Some("WITH b AS (SELECT l_returnflag, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p, " +
      "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS w FROM lineitem), " +
      "c AS (SELECT l_returnflag, p, " +
      "CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY p, w " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw, " +
      "CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw FROM b) " +
      "SELECT l_returnflag, MIN(p) AS wmedian_cents, MAX(tw) AS total_weight_e2 " +
      "FROM c WHERE cw * 2 >= tw GROUP BY l_returnflag ORDER BY l_returnflag"))

  val all: Seq[Op] = Seq(aggPricingSummary, aggCountDistinct, aggApproxHll, aggHllMergeable,
    aggGroupingSets, aggRollupTime, aggCube, aggCollectSorted, aggArgMax, aggPivot, distinctRows,
    aggIncrementalRollup, aggPercentileExact, aggModeExact, aggBitmapDistinct, aggThetaSetops,
    aggMvRewriteRollup, mvJoinDeltaMaintain, aggWeightedMedian)
}
