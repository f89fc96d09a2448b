package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Table/column statistics collection — the ANALYZE-equivalent that feeds
  * cost-based planning. SURVEY §4.2's `CostBasedJoinReorder` (and Spark's
  * stats-informed broadcast decision) only fire when per-table rowCount and
  * per-column NDV/min/max exist; this op IS that collection pass, persisted
  * as a stats table the way a catalog would store it.
  */
object StatsOps {

  /** (table, stat columns) inventory the collector walks: the join keys the
    * relational core actually joins on, plus one categorical per table so
    * string min/max is exercised (ASCII values — binary collation agrees
    * across engines). */
  val statCols: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_custkey", "c_mktsegment", "c_nationkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_custkey", "o_orderkey", "o_orderpriority"))

  private def load(s: SparkSession, d: String, table: String): DataFrame = table match {
    case "customer" => Tables.customer(s, d)
    case "lineitem" => Tables.lineitem(s, d)
    case "orders" => Tables.orders(s, d)
  }

  /** ONE aggregation job per table computes rowCount + per-column
    * (ndv, min, max); stack() melts the single wide row into the long
    * (table, column) stats shape a catalog stores. NDV here is exact
    * `count_distinct` — right at these scan sizes, and exactly oracle-able;
    * at 100 TB the same pass swaps in the mergeable HLL sketches of
    * `agg_hll_mergeable` (StatsCboSpec pins the sketch estimate within 5 %
    * of this exact NDV on the same columns, so the swap is a plug-in).
    * min/max emit as strings so one schema carries every column type;
    * integer/ASCII renderings are engine-identical. */
  def tableStats(s: SparkSession, d: String, table: String, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("row_cnt") +: cols.flatMap(c => Seq(
      count_distinct(col(c)).as(s"ndv_$c"),
      min(col(c)).cast("string").as(s"min_$c"),
      max(col(c)).cast("string").as(s"max_$c")))
    val stackArgs = cols.map(c => s"'$c', ndv_$c, min_$c, max_$c").mkString(", ")
    load(s, d, table).agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"'$table' AS table_name", "row_cnt",
        s"stack(${cols.size}, $stackArgs) AS (column_name, ndv, min_v, max_v)")
      .select("table_name", "column_name", "row_cnt", "ndv", "min_v", "max_v")
  }

  /** The collection pass end to end: per-table single-job stats, persisted
    * as one stats table (the catalog artifact), read back. Each table's scan
    * reads ONLY its stat columns (column pruning reaches the parquet scan);
    * the exact-distinct Expand is per table and map-side partial. Oracle:
    * DuckDB recomputes every row from the source tables. */
  val statsCollect: Op = Op(
    "stats_collect",
    (s, d) => {
      val out = Housekeeping.boundedScratch("graft_stats").toString
      Stage.put(statCols.map { case (t, cols) => tableStats(s, d, t, cols) }
        .reduce(_.unionAll(_)).coalesce(1), out)
        .orderBy("table_name", "column_name")
    },
    Some(statCols.flatMap { case (t, cols) =>
      cols.map(c =>
        s"SELECT '$t' AS table_name, '$c' AS column_name, " +
          s"(SELECT COUNT(*) FROM $t) AS row_cnt, COUNT(DISTINCT $c) AS ndv, " +
          s"CAST(MIN($c) AS VARCHAR) AS min_v, CAST(MAX($c) AS VARCHAR) AS max_v FROM $t")
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY table_name, column_name")))

  /** (table, money/measure column) inventory for the histogram pass. These
    * columns are exact at 2 dp by construction (the Dets money policy), so
    * integer CENTS carry every value exactly. */
  val histCols: Seq[(String, String)] = Seq(
    "lineitem" -> "l_extendedprice",
    "lineitem" -> "l_quantity",
    "orders" -> "o_totalprice")

  /** Equi-width histograms — the distribution half of the catalog stats
    * ([[statsCollect]] covers row counts/NDV/min-max): 10 equal-width bins
    * per column, the artifact a skew-aware planner reads to pick salting or
    * a broadcast cutoff. Hash-exact across engines because binning runs on
    * integer CENTS (`cast(decimal(12,2)·100 as bigint)` — exact for 2 dp
    * money) and the bin index is pure integer arithmetic
    * `((c−min)·10) div (max−min+1)`; no float boundary ever decides a bin.
    * One aggregate for min/max (broadcast back), one map-side-combinable
    * groupBy per column; scans read only the histogrammed column. */
  val statsHistogram: Op = Op(
    "stats_histogram",
    (s, d) => {
      histCols.map { case (t, c) =>
        val cents = load(s, d, t)
          .select((col(c).cast(Dets.D12_2) * 100).cast("bigint").as("c"))
        val mm = cents.agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
        cents.crossJoin(broadcast(mm))
          .select(expr("((c - mn) * 10) div (mx - mn + 1)").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("n_rows"))
          .selectExpr(s"'$t' AS table_name", s"'$c' AS column_name", "bin", "n_rows")
      }.reduce(_.unionAll(_))
        .orderBy("table_name", "column_name", "bin")
    },
    Some(histCols.map { case (t, c) =>
      val cents = s"CAST(CAST($c AS DECIMAL(12,2)) * 100 AS BIGINT)"
      s"SELECT '$t' AS table_name, '$c' AS column_name, " +
        "((a.c - m.mn) * 10) // (m.mx - m.mn + 1) AS bin, COUNT(*) AS n_rows " +
        s"FROM (SELECT $cents AS c FROM $t) a, " +
        s"(SELECT MIN($cents) AS mn, MAX($cents) AS mx FROM $t) m " +
        "GROUP BY 1, 2, 3"
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY table_name, column_name, bin")))

  /** (x, y) measure pairs the correlation pass covers — both 2-dp-exact by
    * the Dets money policy, so integer cents carry every value. */
  val corrPairs: Seq[(String, String)] = Seq(
    "l_quantity" -> "l_extendedprice",
    "l_discount" -> "l_tax")

  /** Exact correlation components per group — the third leg of the catalog
    * stats (NDV/min-max, distribution, now dependence): for each measure
    * pair, per l_returnflag, the integer-exact moment sums a planner (or a
    * feature-selection pass over training data) combines into covariance
    * and Pearson r. Everything through the moment sums is pure integer
    * arithmetic on cents — n·Σxy − Σx·Σy and the two variance numerators
    * are computed as DECIMAL(38,0) (Σx² alone reaches ~6·10¹⁹ at sf1, past
    * BIGINT) and EMITTED as VARCHAR on both engines: DECIMAL wider than 18
    * digits is outside the driver hasher's safe envelope, while the
    * integer-string rendering is deterministic and identical (no decimal
    * point at scale 0, same sign handling), so the hash compare stays
    * exact; the final r = cov/√(varx·vary)
    * is deliberately left to the consumer — it is the ONLY step that needs
    * a float, and these components are mergeable across shards/days exactly
    * like the HLL sketches (sum the sums), which is what a 100 TB stats
    * refresh actually ships. One map-side-combinable groupBy per pair;
    * scans read only the three columns involved. */
  val statsCorrExact: Op = Op(
    "stats_corr_exact",
    (s, d) => {
      val dec = "decimal(38,0)"
      corrPairs.map { case (xc, yc) =>
        Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            (col(xc).cast(Dets.D12_2) * 100).cast("bigint").cast(dec).as("x"),
            (col(yc).cast(Dets.D12_2) * 100).cast("bigint").cast(dec).as("y"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("l_returnflag"), lit(s"$xc:$yc").as("pair"), col("n"),
            (col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
              .cast(dec).cast("string").as("cov_num"),
            (col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
              .cast(dec).cast("string").as("var_x_num"),
            (col("n").cast(dec) * col("syy") - col("sy") * col("sy"))
              .cast(dec).cast("string").as("var_y_num"))
      }.reduce(_.unionAll(_))
        .orderBy("pair", "l_returnflag")
    },
    Some(corrPairs.map { case (xc, yc) =>
      def cents(c: String) = s"CAST(CAST($c AS DECIMAL(12,2)) * 100 AS BIGINT)"
      s"SELECT l_returnflag, '$xc:$yc' AS pair, COUNT(*) AS n, " +
        "CAST(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DECIMAL(38,0)) AS VARCHAR) AS cov_num, " +
        "CAST(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DECIMAL(38,0)) AS VARCHAR) AS var_x_num, " +
        "CAST(CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS DECIMAL(38,0)) AS VARCHAR) AS var_y_num " +
        s"FROM (SELECT l_returnflag, ${cents(xc)} AS x, ${cents(yc)} AS y FROM lineitem) " +
        "GROUP BY l_returnflag"
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY pair, l_returnflag")))

  /** Count-Min sketch frequency estimation — the fixed-memory streaming
    * counter behind heavy-key monitoring and frequency capping: [[CmsD]]
    * independent hash rows × [[CmsW]] counter columns; every event
    * increments one cell per row, and a key's estimate is the MIN over its
    * [[CmsD]] cells — always ≥ the true count (cells only ever
    * over-count), within ε·N with high probability. Emitted per key:
    * (exact count, CMS estimate), so the over-estimate structure is fully
    * visible and hash-verifiable.
    *
    * Oracle playbook (persisted claims): the only engine-specific piece is
    * WHICH cell each key hashes to (xxhash64 — no DuckDB parity), so the op
    * stages the (user_id, r, c) hash-claims table and DuckDB independently
    * rebuilds the entire counter matrix from claims ⋈ raw events,
    * recomputes every min-estimate, and hash-compares — the sketch MATH is
    * verified end to end; only the labeling is taken from the stage.
    * Counters built per-key×count are identical to per-event increments
    * (every event of a key lands in the same cells) — that algebraic
    * collapse is also what makes the counter build map-side partial.
    *
    * Scale notes (100 TB): the sketch is d·w = 256 cells — at corpus scale
    * this drops into a `TypedImperativeAggregate` accumulating a long[]
    * per partition (the `text_heavy_hitters` pattern) with ONE tiny merged
    * artifact at the driver, no per-key state anywhere; the relational
    * spelling here keeps every stage (counter build, estimate probe)
    * oracle-able. Claims rows = distinct keys × d, broadcastable. */
  private val CmsD = 4
  private val CmsW = 64

  val statsCountminEstimate: Op = Op(
    "stats_countmin_estimate",
    (s, d) => {
      val events = Tables.events(s, d)
      val claims = events.select("user_id").distinct()
        .select(col("user_id"), explode(sequence(lit(0), lit(CmsD - 1))).as("r"))
        .withColumn("c", pmod(xxhash64(col("user_id"), col("r")), lit(CmsW)).cast("int"))
      val cl = Stage.put(claims.coalesce(1), Stage.root(d) + "/cms_claims")
      val exact = events.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      val ctr = cl.join(exact, "user_id").groupBy("r", "c").agg(sum("n_exact").as("cnt"))
      val est = cl.join(ctr, Seq("r", "c")).groupBy("user_id").agg(min("cnt").as("n_est"))
      exact.join(est, "user_id")
        .select(col("user_id"), col("n_exact"), col("n_est"))
        .orderBy("user_id")
    },
    Some("WITH cl AS (SELECT user_id, r, c FROM " +
      s"read_parquet('${Stage.token}/cms_claims/*.parquet')), " +
      "ex AS (SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY 1), " +
      "ctr AS (SELECT cl.r, cl.c, CAST(SUM(ex.n_exact) AS BIGINT) AS cnt " +
      "FROM cl JOIN ex USING (user_id) GROUP BY 1, 2), " +
      "est AS (SELECT cl.user_id, MIN(ctr.cnt) AS n_est FROM cl " +
      "JOIN ctr ON cl.r = ctr.r AND cl.c = ctr.c GROUP BY 1) " +
      "SELECT ex.user_id, ex.n_exact, est.n_est FROM ex JOIN est USING (user_id) " +
      "ORDER BY user_id"))

  /** Sample size of the per-day bottom-k sketch. 64 rows/day keeps the
    * standing artifact tiny while a merged range sample still pins every
    * quartile within ±1/√64 ≈ 12 % rank error (spec-measured much tighter). */
  private val BkK = 64

  /** Mergeable range quantiles from per-day BOTTOM-K HASH SAMPLES — the
    * deterministic alternative to KLL/t-digest (whose randomized, merge-order-
    * sensitive compaction can't back a hash oracle; see [[graft.functions.ThetaSketchAgg]]'s
    * determinism note). A bottom-k sample keeps the k rows with the SMALLEST
    * md5(event_id) — a pure set function of the day's rows, so it is
    * deterministic under any partitioning AND mergeable by construction:
    * bottom-k(range) ⊆ ∪ per-day bottom-k, so merging daily samples and
    * re-taking the k smallest reproduces EXACTLY the sample a direct pass
    * over the range would draw (BottomkMergeSpec asserts this identity).
    * Since md5 is uniform, the merged sample is a uniform row-sample of the
    * range and its order statistics estimate the range's value quantiles.
    *
    * The op maintains the per-day samples as the standing artifact (the
    * incremental piece — each new day appends k rows), then answers
    * p25/p50/p75/p90 for the trailing range day ≥ min+3 purely from the
    * merged samples. Estimates are SELECTED values, never arithmetic, so the
    * doubles pass the hash compare bit-exactly; the oracle replays the
    * identical recurrence in DuckDB (md5 hex strings compare identically on
    * both engines — the splitTrainValTest idiom).
    *
    * Scale notes (100 TB): the per-day bottom-k is a rank-k window on the
    * day key — Spark's WindowGroupLimit keeps a k-row heap per task instead
    * of sorting the day (the [[PipelineOps.sampleReservoirGroup]] shape), one
    * shuffle total; the range answer touches ONLY k×days sample rows (KB,
    * not TB — the single-partition final window is over ≤ k×days rows by
    * construction, never raw data). */
  val statsBottomkQuantiles: Op = Op(
    "stats_bottomk_quantiles",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d).select(
        to_date(col("ts")).as("day"), col("value"),
        md5(col("event_id").cast("string")).as("rk"), col("event_id"))
      val daily = e
        .withColumn("rn", row_number().over(
          Window.partitionBy("day").orderBy("rk", "event_id")))
        .where(col("rn") <= BkK)
      val staged = Stage.put(daily.coalesce(1), Stage.root(d) + "/bottomk_daily")
      // the range query: trailing window (all days after the first three),
      // answered from the standing daily samples alone
      val lo = java.sql.Date.valueOf(
        staged.agg(min(col("day"))).first().getDate(0)
          .toLocalDate.plusDays(3))
      val merged = staged
        .where(col("day") >= lit(lo))
        .withColumn("rn2", row_number().over(Window.orderBy("rk", "event_id")))
        .where(col("rn2") <= BkK)
      val ord = merged.select(col("value"), col("rk"), col("event_id"))
        .withColumn("pos", row_number().over(Window.orderBy("value", "rk", "event_id")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      val ps = s.range(1).select(explode(array(lit(25), lit(50), lit(75), lit(90))).as("p"))
      ps.join(ord, col("pos") === greatest(lit(1L),
          ceil(col("p") * col("n") / lit(100.0))))
        .select(col("p"), col("value").as("est_value"))
        .orderBy("p")
    },
    Some("WITH e AS (SELECT CAST(ts AS DATE) AS day, value, " +
      "md5(CAST(event_id AS VARCHAR)) AS rk, event_id FROM events), " +
      s"daily AS (SELECT * FROM (SELECT day, value, rk, event_id, " +
      "row_number() OVER (PARTITION BY day ORDER BY rk, event_id) AS rn FROM e) " +
      s"WHERE rn <= $BkK), " +
      "rng AS (SELECT * FROM daily WHERE day >= (SELECT MIN(day) FROM daily) + 3), " +
      "merged AS (SELECT * FROM (SELECT value, rk, event_id, " +
      s"row_number() OVER (ORDER BY rk, event_id) AS rn2 FROM rng) WHERE rn2 <= $BkK), " +
      "ord AS (SELECT value, row_number() OVER (ORDER BY value, rk, event_id) AS pos, " +
      "COUNT(*) OVER () AS n FROM merged) " +
      "SELECT p, value AS est_value FROM (VALUES (25), (50), (75), (90)) q(p) " +
      "JOIN ord ON pos = GREATEST(1, CEIL(p * n / 100.0)) ORDER BY p"))

  /** Per-group OLS regression (extendedprice ~ quantity): slope, intercept
    * and R² from EXACT integer moments — the closed-form fit every pricing /
    * capacity model starts from, distributed as one aggregation.
    *
    * Determinism (SURVEY.md §7.2 applied to regression): the five moments
    * (Σx, Σy, Σxy, Σx², Σy²) accumulate over CENTS-scaled BIGINTs inside
    * DECIMAL(38,0) — associative, so partial-aggregation order is
    * irrelevant — and only the FINAL closed-form step runs in doubles:
    * slope = cov/varx (one IEEE division of two exactly-represented
    * numerators — the cents scaling cancels), intercept and R² are three
    * more IEEE ops spelled with identical association on both engines. No
    * sqrt, no engine-default decimal division, no accumulation in floats
    * anywhere ([[statsCorrExact]]'s moment playbook, taken to the fitted
    * coefficients).
    *
    * Scale notes (100 TB): one map-side-combinable groupBy — moments are a
    * single HashAggregate whose shuffle volume is |groups|, not rows;
    * adding regressors grows the moment vector (X'X entries), never the
    * shuffle. */
  val statsLinregCoeffs: Op = Op(
    "stats_linreg_coeffs",
    (s, d) => {
      val dec = "decimal(38,0)"
      val m = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          (col("l_quantity").cast(Dets.D12_2) * 100).cast("bigint").cast(dec).as("x"),
          (col("l_extendedprice").cast(Dets.D12_2) * 100).cast("bigint").cast(dec).as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          (col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
            .cast(dec).cast(DoubleType).as("cov"),
          (col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
            .cast(dec).cast(DoubleType).as("vx"),
          (col("n").cast(dec) * col("syy") - col("sy") * col("sy"))
            .cast(dec).cast(DoubleType).as("vy"),
          col("sx").cast(DoubleType).as("sxd"), col("sy").cast(DoubleType).as("syd"))
      m.select(col("l_returnflag"), col("n"),
          (col("cov") / col("vx")).as("slope"),
          ((col("syd") - (col("cov") / col("vx")) * col("sxd")) /
            col("n").cast(DoubleType) / lit(100.0)).as("intercept"),
          ((col("cov") * col("cov")) / (col("vx") * col("vy"))).as("r2"))
        .orderBy("l_returnflag")
    },
    Some("WITH m AS (SELECT l_returnflag, COUNT(*) AS n, " +
      "CAST(CAST(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS cov, " +
      "CAST(CAST(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS vx, " +
      "CAST(CAST(CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS vy, " +
      "CAST(SUM(x) AS DOUBLE) AS sxd, CAST(SUM(y) AS DOUBLE) AS syd " +
      "FROM (SELECT l_returnflag, " +
      "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y FROM lineitem) " +
      "GROUP BY l_returnflag) " +
      "SELECT l_returnflag, n, (cov / vx) AS slope, " +
      "(((syd - (cov / vx) * sxd) / CAST(n AS DOUBLE)) / 100.0) AS intercept, " +
      "((cov * cov) / (vx * vy)) AS r2 FROM m ORDER BY l_returnflag"))

  /** Chi-squared independence test between two categorical columns
    * (lang × source) — the drift/association check a data platform runs on
    * every pair of segmentation dimensions. Per cell: observed count o,
    * contribution (o·N − r·c)² / (r·c·N) computed in ONE fixed double
    * expression from exact integer counts, then floor-scaled to an e9
    * BIGINT — so the GRAND TOTAL row (the statistic itself) is an exact
    * integer sum, free of float-accumulation order. The total row carries
    * NULL lang/source (nullable VARCHAR, inside the driver's proven-safe
    * hash envelope — see HashEnvelopeSpec).
    *
    * Scale notes (100 TB): three two-phase count aggregates (cells, row
    * marginals, column marginals) + one scalar count, joined with the
    * marginals BROADCAST (their cardinality is the dimension cardinality,
    * not the data) — the data is scanned once and shuffles only cell keys. */
  val statsChi2Independence: Op = Op(
    "stats_chi2_independence",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rowM = docs.groupBy("lang").agg(count(lit(1)).as("r"))
      val colM = docs.groupBy("source").agg(count(lit(1)).as("c"))
      val tot = docs.agg(count(lit(1)).as("n"))
      val num = (col("o") * col("n") - col("r") * col("c")).cast(DoubleType)
      val contrib = num * num / (col("r") * col("c")).cast(DoubleType) / col("n").cast(DoubleType)
      val perCell = cells.join(broadcast(rowM), "lang").join(broadcast(colM), "source")
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("o"),
          floor(contrib * lit(1.0e9)).cast("long").as("contrib_e9"))
      val total = perCell.agg(sum(col("o")).as("o"), sum(col("contrib_e9")).as("contrib_e9"))
        .select(lit(null).cast("string").as("lang"), lit(null).cast("string").as("source"),
          col("o"), col("contrib_e9"))
      perCell.unionAll(total)
        .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)
    },
    Some("WITH cells AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o " +
      "FROM documents GROUP BY 1, 2), " +
      "rm AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS r FROM documents GROUP BY 1), " +
      "cm AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY 1), " +
      "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents), " +
      "k AS (SELECT cells.lang, cells.source, o, CAST(floor(" +
      "CAST(o * n - rm.r * cm.c AS DOUBLE) * CAST(o * n - rm.r * cm.c AS DOUBLE) " +
      "/ CAST(rm.r * cm.c AS DOUBLE) / CAST(n AS DOUBLE) * 1.0e9) AS BIGINT) AS contrib_e9 " +
      "FROM cells JOIN rm USING (lang) JOIN cm USING (source), t) " +
      "SELECT lang, source, o, contrib_e9 FROM k " +
      "UNION ALL SELECT NULL, NULL, CAST(SUM(o) AS BIGINT), CAST(SUM(contrib_e9) AS BIGINT) " +
      "FROM k ORDER BY lang NULLS LAST, source NULLS LAST"))

  /** Welch's two-sample t — the unequal-variance A/B test a feed owner
    * runs when two segments' means look different: order totals of the
    * URGENT vs LOW priority classes, one row per pairing. Same mergeable-
    * moments contract as [[statsCorrExact]]: per group n, Σx, Σx² are
    * exact integer sums on cents (emitted as VARCHAR DECIMAL(38,0) — wide
    * decimals stay out of the hash surface), and mean/variance/t are one
    * FIXED IEEE spelling over those exact integers:
    * t = (m1 − m2) / √(s1²/n1 + s2²/n2), sᵢ² the (n−1)-denominator sample
    * variance. The moments are what a 100 TB run ships between shards;
    * the float appears exactly once, at the end.
    *
    * Scale notes (100 TB): one map-side-combinable groupBy over a
    * two-column scan; the pairing join is on a one-row-per-group aggregate
    * (broadcast-trivial). */
  val statsTtestWelch: Op = Op(
    "stats_ttest_welch",
    (s, d) => {
      val dec = "decimal(38,0)"
      val g = Tables.orders(s, d)
        .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_orderpriority").as("grp"),
          (col("o_totalprice").cast(Dets.D12_2) * 100).cast("bigint").cast(dec).as("x"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      val a = g.where(col("grp") === "1-URGENT").as("a")
      val b = g.where(col("grp") === "5-LOW").as("b")
      def mean(p: String) = col(s"$p.sx").cast(DoubleType) / col(s"$p.n")
      def svar(p: String) =
        (col(s"$p.sxx").cast(DoubleType) -
          col(s"$p.sx").cast(DoubleType) * col(s"$p.sx") / col(s"$p.n")) / (col(s"$p.n") - 1)
      a.crossJoin(b).select(
        col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        col("a.sx").cast("string").as("sum_a"), col("b.sx").cast("string").as("sum_b"),
        col("a.sxx").cast("string").as("sumsq_a"), col("b.sxx").cast("string").as("sumsq_b"),
        ((mean("a") - mean("b")) /
          sqrt(svar("a") / col("a.n") + svar("b") / col("b.n"))).as("t_stat"))
    },
    Some("WITH g AS (SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(x) AS DECIMAL(38,0)) AS sx, CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx " +
      "FROM (SELECT o_orderpriority, CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 " +
      "AS BIGINT) AS DECIMAL(38,0)) AS x FROM orders " +
      "WHERE o_orderpriority IN ('1-URGENT', '5-LOW')) GROUP BY 1) " +
      // every DECIMAL(38,0)->DOUBLE goes through VARCHAR: strtod is
      // correctly rounded, DuckDB's decimal128->double is 1 ulp off past
      // 2^53 (caught by the round-11 sf0.1 matrix axis — sxx exceeds 2^53
      // there), while Spark's BigDecimal.doubleValue matches the string
      // parse
      "SELECT a.grp AS grp_a, b.grp AS grp_b, a.n AS n_a, b.n AS n_b, " +
      "CAST(a.sx AS VARCHAR) AS sum_a, CAST(b.sx AS VARCHAR) AS sum_b, " +
      "CAST(a.sxx AS VARCHAR) AS sumsq_a, CAST(b.sxx AS VARCHAR) AS sumsq_b, " +
      "(CAST(CAST(a.sx AS VARCHAR) AS DOUBLE) / a.n - " +
      "CAST(CAST(b.sx AS VARCHAR) AS DOUBLE) / b.n) / " +
      "sqrt((CAST(CAST(a.sxx AS VARCHAR) AS DOUBLE) - " +
      "CAST(CAST(a.sx AS VARCHAR) AS DOUBLE) * a.sx / a.n) / (a.n - 1) / a.n + " +
      "(CAST(CAST(b.sxx AS VARCHAR) AS DOUBLE) - " +
      "CAST(CAST(b.sx AS VARCHAR) AS DOUBLE) * b.sx / b.n) / (b.n - 1) / b.n) AS t_stat " +
      "FROM (SELECT * FROM g WHERE grp = '1-URGENT') a, " +
      "(SELECT * FROM g WHERE grp = '5-LOW') b"))

  val all: Seq[Op] = Seq(statsCollect, statsHistogram, statsCorrExact,
    statsCountminEstimate, statsBottomkQuantiles, statsLinregCoeffs,
    statsChi2Independence, statsTtestWelch)
}
