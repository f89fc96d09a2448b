package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Dets._

/** Data-quality validation — the Deequ-shaped gate every production load
  * runs before publishing a table. Two surfaces: a per-rule violation
  * SUMMARY (the circuit-breaker a scheduler reads) and a row-level
  * QUARANTINE split (the offending rows routed aside with machine-readable
  * reasons). Both are declarative single-pass Spark plans — no collect, no
  * UDFs — so the same code is the 100 TB gate.
  */
object DqOps {

  /** Rule engine over lineitem: five expectation classes — not-null, value
    * range, set membership, referential integrity (every l_orderkey resolves
    * in orders), and key uniqueness ((l_orderkey, l_linenumber), which this
    * testdata deliberately violates — the rule MUST fire). Output is the
    * scheduler-facing contract: rule → rows checked → violations.
    *
    * Scale notes (100 TB): the three row-local rules share ONE scan
    * (conditional sums, map-side partial agg → 1-row result); referential
    * integrity is a left-anti join against the (broadcastable or
    * shuffle-equi) orders key set — never a NOT IN subquery re-scan per row;
    * uniqueness is one hash groupBy on the candidate key counting groups
    * with multiplicity > 1. Nothing here is quadratic and every rule's
    * reduction is associative, so the gate costs ~2 scans of the fact at
    * any scale. */
  val dqExpectations: Op = Op(
    "dq_expectations",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val rowLocal = li.agg(
        count(lit(1)).as("checked"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(!col("l_quantity").between(1.0, 50.0), 1L).otherwise(0L)).as("v_range"),
        sum(when(!col("l_returnflag").isin("R", "A", "N"), 1L).otherwise(0L)).as("v_set"))
      val notNull = rowLocal.select(lit("r1_not_null_shipdate").as("rule"),
        col("checked"), col("v_null").as("violations"))
      val range = rowLocal.select(lit("r2_range_quantity").as("rule"),
        col("checked"), col("v_range").as("violations"))
      val members = rowLocal.select(lit("r3_set_returnflag").as("rule"),
        col("checked"), col("v_set").as("violations"))
      val referential = li.join(Tables.orders(s, d),
          li("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .crossJoin(li.agg(count(lit(1)).as("checked")))
        .select(lit("r4_ref_orderkey").as("rule"), col("checked"), col("violations"))
      val unique = li.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("checked"),
          sum(when(col("n") > 1, col("n") - 1).otherwise(0L)).as("violations"))
        .select(lit("r5_unique_line_id").as("rule"), col("checked"), col("violations"))
      notNull.unionAll(range).unionAll(members).unionAll(referential).unionAll(unique)
        .orderBy("rule")
    },
    Some("WITH rl AS (SELECT COUNT(*) AS checked, " +
      "CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null, " +
      "CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1.0 AND 50.0) THEN 1 ELSE 0 END) AS BIGINT) AS v_range, " +
      "CAST(SUM(CASE WHEN l_returnflag NOT IN ('R','A','N') THEN 1 ELSE 0 END) AS BIGINT) AS v_set " +
      "FROM lineitem) " +
      "SELECT 'r1_not_null_shipdate' AS rule, checked, v_null AS violations FROM rl " +
      "UNION ALL SELECT 'r2_range_quantity', checked, v_range FROM rl " +
      "UNION ALL SELECT 'r3_set_returnflag', checked, v_set FROM rl " +
      "UNION ALL SELECT 'r4_ref_orderkey', (SELECT COUNT(*) FROM lineitem), " +
      "(SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS " +
      "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) " +
      "UNION ALL SELECT 'r5_unique_line_id', CAST(SUM(n) AS BIGINT), " +
      "CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) FROM " +
      "(SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber) " +
      "ORDER BY rule"))

  /** Row-level quarantine: rows tripping any of three business-band rules
    * (quantity > 45, discount > 0.08, tax > 0.07) are routed aside with a
    * comma-joined reason code string — the shape a repair/triage job
    * consumes. Clean rows pass through untouched (not re-emitted here; the
    * gate's pass-through is the identity projection). Ordered by every
    * emitted column because (l_orderkey, l_linenumber) is not unique in
    * this testdata.
    *
    * Scale notes (100 TB): scan-local — each row decides its own fate, the
    * reason string is built from codegen'd CASEs, and the quarantine output
    * is only the violating minority; zero shuffles before the final
    * presentation sort. */
  val dqQuarantineSplit: Op = Op(
    "dq_quarantine_split",
    (s, d) => {
      val qQty = when(col("l_quantity") > 45.0, "suspect_qty")
      val qDisc = when(col("l_discount") > 0.08, "high_discount")
      val qTax = when(col("l_tax") > 0.07, "high_tax")
      Tables.lineitem(s, d)
        .withColumn("reasons", concat_ws(",", qQty, qDisc, qTax))
        .where(col("reasons") =!= "")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_tax"), col("reasons"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax", "reasons")
    },
    Some("SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax, " +
      "concat_ws(',', CASE WHEN l_quantity > 45.0 THEN 'suspect_qty' END, " +
      "CASE WHEN l_discount > 0.08 THEN 'high_discount' END, " +
      "CASE WHEN l_tax > 0.07 THEN 'high_tax' END) AS reasons " +
      "FROM lineitem WHERE l_quantity > 45.0 OR l_discount > 0.08 OR l_tax > 0.07 " +
      "ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_tax, reasons"))

  /** CDC change-set GENERATION by snapshot diff — the inverse of
    * [[SourceSinkOps.cdcApplyChanges]] (which consumes a change log): given
    * two snapshots of a keyed table, emit the minimal insert/update/delete
    * set that turns A into B. This is how CDC is bootstrapped for sources
    * with no change log (nightly full dumps), and the audit that validates
    * an incremental pipeline against a full rebuild. Snapshot B is derived
    * deterministically from the customer table (every 17th key deleted,
    * every 5th rebalanced +10.00, every 23rd re-keyed as an insert), so both
    * engines diff identical inputs. Balances are DECIMAL(12,2) through the
    * change-detection compare; the FINAL projection emits them as VARCHAR
    * because I/D rows leave one side NULL, and NULL cells inside a DECIMAL
    * column are outside the driver hasher's safe envelope (NULL VARCHAR is
    * proven safe; decimal→string is deterministic and identical on both
    * engines, scale preserved: "10.00").
    *
    * Scale notes (100 TB): ONE full-outer sort-merge equi-join on the key —
    * the only shuffle; with both snapshots bucketed on the key (the layout
    * [[SourceSinkOps.sinkBucketedJoin]] demonstrates) even that exchange
    * disappears. Output is proportional to the churn, not the table. The
    * unchanged majority is dropped before the presentation sort. */
  val cdcSnapshotDiff: Op = Op(
    "cdc_snapshot_diff",
    (s, d) => {
      val a = Tables.customer(s, d).select(col("c_custkey").cast("bigint").as("k"),
        d2(col("c_acctbal")).as("bal"), col("c_mktsegment").as("seg"))
      val b = a.where(col("k") % 17 =!= 0)
        .select(col("k"),
          when(col("k") % 5 === 0, (col("bal") + lit("10.00").cast(D12_2)).cast(D12_2))
            .otherwise(col("bal")).as("bal"),
          col("seg"))
        .unionAll(a.where(col("k") % 23 === 0)
          .select((col("k") + lit(10000000L)).as("k"), col("bal"), col("seg")))
      a.as("a").join(b.as("b"), col("a.k") === col("b.k"), "full_outer")
        .select(coalesce(col("a.k"), col("b.k")).as("cust_key"),
          when(col("a.k").isNull, "I")
            .when(col("b.k").isNull, "D")
            .when(col("a.bal") =!= col("b.bal") || col("a.seg") =!= col("b.seg"), "U")
            .as("op"),
          col("a.bal").cast("string").as("old_bal"),
          col("b.bal").cast("string").as("new_bal"))
        .where(col("op").isNotNull)
        .orderBy("cust_key")
    },
    Some("WITH a AS (SELECT CAST(c_custkey AS BIGINT) AS k, " +
      "CAST(c_acctbal AS DECIMAL(12,2)) AS bal, c_mktsegment AS seg FROM customer), " +
      "b AS (SELECT k, CAST(CASE WHEN k % 5 = 0 THEN bal + 10.00 ELSE bal END " +
      "AS DECIMAL(12,2)) AS bal, seg FROM a WHERE k % 17 <> 0 " +
      "UNION ALL SELECT k + 10000000, bal, seg FROM a WHERE k % 23 = 0), " +
      "df AS (SELECT COALESCE(a.k, b.k) AS cust_key, " +
      "CASE WHEN a.k IS NULL THEN 'I' WHEN b.k IS NULL THEN 'D' " +
      "WHEN a.bal <> b.bal OR a.seg <> b.seg THEN 'U' END AS op, " +
      "CAST(a.bal AS VARCHAR) AS old_bal, CAST(b.bal AS VARCHAR) AS new_bal " +
      "FROM a FULL OUTER JOIN b ON a.k = b.k) " +
      "SELECT cust_key, op, old_bal, new_bal FROM df " +
      "WHERE op IS NOT NULL ORDER BY cust_key"))

  /** ZERO-EXTRA-PASS pipeline metrics via `Dataset.observe` (CollectMetrics):
    * the quality-gated fact stream is written out as the load job, and the
    * audit metrics (row count, exact cents total, key high-water mark,
    * discount-anomaly count) are accumulated ON the very rows that passed
    * through the writer — no second scan, no separate audit query that could
    * silently diverge from what was actually published. At 100 TB the audit
    * scan is the part teams skip because it doubles the bill; observe makes
    * it free (per-task accumulators merged on the driver) and write-consistent
    * by construction. The op materializes the gated table, then emits the
    * observed metrics as the result; the oracle recomputes each metric
    * relationally from the same gate — hash equality proves the accumulator
    * path (partial per-task metrics + driver merge) is exact, which it is
    * because every metric is an associative integer aggregate
    * (SURVEY.md §7.2 applied to observers). */
  val dqObserveMetrics: Op = Op(
    "dq_observe_metrics",
    (s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val gated = Tables.lineitem(s, d)
        .where(col("l_quantity") >= 1 && col("l_quantity") <= 50)
        .observe(obs,
          count(lit(1)).as("a_n_rows"),
          sum((col("l_extendedprice").cast(D12_2) * 100).cast("bigint")).as("b_price_cents"),
          max(col("l_orderkey")).as("c_max_orderkey"),
          count(when(col("l_discount") > lit(0.05), 1)).as("d_n_high_discount"))
      val out = Housekeeping.boundedScratch("dq_obs").toString
      gated.write.mode("overwrite").parquet(out)
      val m = Housekeeping.observed(obs, "dq_observe_metrics")
      import s.implicits._
      Seq("a_n_rows", "b_price_cents", "c_max_orderkey", "d_n_high_discount")
        .map(k => (k, m(k).asInstanceOf[Number].longValue()))
        .toDF("metric", "value")
        .orderBy("metric")
    },
    Some("WITH g AS (SELECT * FROM lineitem WHERE l_quantity >= 1 AND l_quantity <= 50) " +
      "SELECT * FROM (" +
      "SELECT 'a_n_rows' AS metric, COUNT(*) AS value FROM g " +
      "UNION ALL SELECT 'b_price_cents', CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) " +
      "* 100 AS BIGINT)) AS BIGINT) FROM g " +
      "UNION ALL SELECT 'c_max_orderkey', MAX(l_orderkey) FROM g " +
      "UNION ALL SELECT 'd_n_high_discount', " +
      "CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT) FROM g) " +
      "ORDER BY metric"))

  /** Ingest-volume anomaly monitor — the day-over-day row-count check every
    * warehouse runs on every feed: each (event_type, day)'s count against
    * the trailing 7-CALENDAR-day window (previous days only — the current
    * day never contaminates its own baseline), flagged at |z| > 2. The
    * frame is a RANGE frame over an integer day number, so a gap in the
    * feed SHRINKS the baseline (status `short_history`) instead of
    * silently stretching it over older observed days — the r10 advisor
    * caught the rows-frame spelling contradicting exactly this. All window
    * aggregates are exact integer sums (Σn, Σn², count); mean/variance/z
    * are then ONE fixed IEEE spelling per row on both engines, with the
    * undefined cases (short history, zero variance) pinned to explicit
    * status strings instead of NULL/∞.
    *
    * Scale notes (100 TB): the daily rollup is a two-phase count onto
    * (feed, day) — tiny; the trailing window partitions by feed. The
    * monitor reads the rollup, never the raw events, so its cost is
    * days × feeds regardless of raw volume. */
  val dqVolumeAnomaly: Op = Op(
    "dq_volume_anomaly",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        // integer day number → a portable RANGE frame (true calendar window)
        .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
      val w = Window.partitionBy("event_type").orderBy("day_num").rangeBetween(-7, -1)
      val stats = daily
        .withColumn("s1", sum(col("n")).over(w))
        .withColumn("s2", sum(col("n") * col("n")).over(w))
        .withColumn("c", count(lit(1)).over(w))
      val mean = col("s1").cast("double") / col("c")
      val varp = (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("c")) / col("c")
      stats.select(col("event_type"), col("day"), col("n"),
          when(col("c") < 7, "short_history")
            .when(varp === 0.0 && col("n").cast("double") === mean, "flat")
            .when(varp === 0.0, "flat_jump")
            .otherwise("scored").as("status"),
          when(col("c") === 7 && varp > 0.0,
            (col("n").cast("double") - mean) / sqrt(varp)).otherwise(lit(0.0)).as("z"),
          (col("c") === 7 && varp > 0.0 &&
            abs((col("n").cast("double") - mean) / sqrt(varp)) > 2.0).as("flagged"))
        .orderBy("event_type", "day")
    },
    Some("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
      "CAST(COUNT(*) AS BIGINT) AS n, CAST(ts AS DATE) - DATE '1970-01-01' AS day_num " +
      "FROM events GROUP BY 1, 2, 4), " +
      "st AS (SELECT event_type, day, n, " +
      "CAST(SUM(n) OVER w AS BIGINT) AS s1, CAST(SUM(n * n) OVER w AS BIGINT) AS s2, " +
      "CAST(COUNT(*) OVER w AS BIGINT) AS c FROM daily WINDOW w AS " +
      "(PARTITION BY event_type ORDER BY day_num RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)), " +
      "k AS (SELECT event_type, day, n, c, " +
      "CAST(s1 AS DOUBLE) / c AS mean, " +
      "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / c) / c AS varp FROM st) " +
      "SELECT event_type, day, n, " +
      "CASE WHEN c < 7 THEN 'short_history' " +
      "WHEN varp = 0.0 AND CAST(n AS DOUBLE) = mean THEN 'flat' " +
      "WHEN varp = 0.0 THEN 'flat_jump' ELSE 'scored' END AS status, " +
      "CASE WHEN c = 7 AND varp > 0.0 THEN (CAST(n AS DOUBLE) - mean) / sqrt(varp) " +
      "ELSE 0.0 END AS z, " +
      "(c = 7 AND varp > 0.0 AND " +
      "abs((CAST(n AS DOUBLE) - mean) / sqrt(varp)) > 2.0) AS flagged " +
      "FROM k ORDER BY event_type, day"))

  /** Distribution-drift monitor: the exact two-sample Kolmogorov–Smirnov
    * statistic between the first and second half of the order history
    * (split at the midpoint of the o_orderdate span — epoch-microsecond
    * integer arithmetic, identical on both engines). D = max over the
    * pooled value domain of |F1(v) − F2(v)| is computed as an exact
    * RATIONAL: per distinct cents value, cumulative counts c1, c2 give
    * numerator |c1·n2 − c2·n1| over denominator n1·n2 — no float touches
    * the comparison, so the argmax row (ties broken to the smallest value)
    * is deterministic; d_stat is then ONE IEEE division for the human.
    * This is the data-contract check a feed owner runs when a model's
    * input distribution may have shifted between training and serving.
    *
    * Scale notes (100 TB): the rows collapse to per-distinct-value counts
    * first (2-dp cents → a bounded domain; an unbounded measure would be
    * quantized to a fixed grid the same way), so the unpartitioned
    * cumulative window runs over the REDUCED value domain, not raw rows —
    * the same ECDF-on-aggregates shape as a t-digest build. n1·n2 and
    * c·n products stay inside BIGINT to ~3·10⁹ rows per side; past that
    * the numerator moves to DECIMAL(38,0) like the stats moments. */
  val dqDriftKs: Op = Op(
    "dq_drift_ks",
    (s, d) => {
      // o_orderdate reads as TIMESTAMP_NTZ; the UTC-pinned NTZ->LTZ cast
      // (Tables.ntzColToTimestamp) makes unix_micros == DuckDB's epoch_us
      // of the same naive values.
      val odUs = unix_micros(Tables.ntzColToTimestamp("o_orderdate"))
      val b = Tables.orders(s, d)
        .agg(min(odUs).as("mn"), max(odUs).as("mx"))
      val tagged = Tables.orders(s, d).crossJoin(broadcast(b))
        .select((col("o_totalprice").cast(D12_2) * 100).cast("bigint").as("v"),
          when(odUs < col("mn") + expr("(mx - mn) div 2"), 1L)
            .otherwise(2L).as("grp"))
      val n = tagged.agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"))
      val perValue = tagged.groupBy("v").agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("c2"))
      val wCum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = perValue
        .withColumn("f1", sum(col("c1")).over(wCum))
        .withColumn("f2", sum(col("c2")).over(wCum))
      val best = cum.crossJoin(broadcast(n))
        .select(abs(col("f1") * col("n2") - col("f2") * col("n1")).as("d_num"),
          col("v").as("at_cents"))
        .orderBy(col("d_num").desc, col("at_cents").asc)
        .limit(1)
      n.crossJoin(best)
        .select(col("n1"), col("n2"), col("d_num"), (col("n1") * col("n2")).as("d_den"),
          (col("d_num").cast("double") / (col("n1") * col("n2"))).as("d_stat"),
          col("at_cents"))
    },
    Some("WITH b AS (SELECT MIN(epoch_us(o_orderdate)) AS mn, " +
      "MAX(epoch_us(o_orderdate)) AS mx FROM orders), " +
      "s AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v, " +
      "CASE WHEN epoch_us(o_orderdate) < b.mn + (b.mx - b.mn) // 2 THEN 1 ELSE 2 END AS grp " +
      "FROM orders, b), " +
      "n AS (SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
      "CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2 FROM s), " +
      "cv AS (SELECT v, CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1, " +
      "CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2 FROM s GROUP BY v), " +
      "cum AS (SELECT v, CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS f1, " +
      "CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS f2 FROM cv), " +
      "best AS (SELECT abs(f1 * n2 - f2 * n1) AS d_num, v AS at_cents FROM cum, n " +
      "ORDER BY abs(f1 * n2 - f2 * n1) DESC, v ASC LIMIT 1) " +
      "SELECT n1, n2, d_num, n1 * n2 AS d_den, " +
      "CAST(d_num AS DOUBLE) / (n1 * n2) AS d_stat, at_cents FROM n, best"))

  /** The second standard drift monitor beside [[dqDriftKs]]: a chi-squared
    * HOMOGENEITY test over pooled-decile bins — the binned test a feature
    * store runs when the measure is bucketed anyway (and the one that
    * generalizes to categorical features, where KS does not apply). Decile
    * edges are exact order statistics of the POOLED distribution (edge_k =
    * the smallest value whose pooled cumulative count reaches ⌈k·n/10⌉ —
    * pure integer arithmetic on the reduced value domain); bin membership
    * is an integer comparison against the 9 edges; each (bin, group)
    * cell's χ² contribution follows [[StatsOps.statsChi2Independence]]'s
    * floor-scaled-e9 contract ((o·n − r·c)²/(r·c·n), one fixed IEEE
    * spelling floored to an exact BIGINT), with the grand-total row
    * carrying the statistic. No logarithm anywhere (libm parity is not
    * portable); χ² needs only +,−,×,÷.
    *
    * Scale notes (100 TB): same ECDF-on-aggregates shape as the KS op —
    * rows collapse to per-distinct-value counts before any window; the
    * 9-row edge table broadcasts back for binning; everything downstream
    * operates on ≤ 10×2 cells. */
  val dqDriftChi2: Op = Op(
    "dq_drift_chi2",
    (s, d) => {
      val odUs = unix_micros(Tables.ntzColToTimestamp("o_orderdate"))
      val b = Tables.orders(s, d).agg(min(odUs).as("mn"), max(odUs).as("mx"))
      val tagged = Tables.orders(s, d).crossJoin(broadcast(b))
        .select((col("o_totalprice").cast(D12_2) * 100).cast("bigint").as("v"),
          when(odUs < col("mn") + expr("(mx - mn) div 2"), 1L).otherwise(2L).as("grp"))
      val n = tagged.agg(count(lit(1)).as("n"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"))
      val perValue = tagged.groupBy("v").agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("c2"))
      val wCum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = perValue.withColumn("f", sum(col("c1") + col("c2")).over(wCum))
      val edges = cum.crossJoin(broadcast(n))
        .select(col("v"), col("f"), explode(expr("sequence(1, 9)")).as("k"), col("n"))
        .where(col("f") >= expr("(k * n + 9) div 10"))
        .groupBy("k").agg(min(col("v")).as("edge"))
      val binned = cum.crossJoin(broadcast(edges))
        .groupBy("v", "c1", "c2")
        .agg(sum(when(col("v") > col("edge"), 1L).otherwise(0L)).as("bin"))
      val cells = binned.groupBy("bin").agg(sum(col("c1")).as("o1"), sum(col("c2")).as("o2"))
        .select(col("bin"), explode(expr(
          "array(named_struct('grp', 1L, 'o', o1), named_struct('grp', 2L, 'o', o2))")).as("c"))
        .select(col("bin"), col("c.grp").as("grp"), col("c.o").as("o"))
      val wBin = Window.partitionBy("bin")
      val scored = cells.crossJoin(broadcast(n))
        .withColumn("r", sum(col("o")).over(wBin))
        .withColumn("cg", when(col("grp") === 1, col("n1")).otherwise(col("n2")))
        .select(col("bin"), col("grp"), col("o"),
          floor((col("o") * col("n") - col("r") * col("cg")).cast("double") *
            (col("o") * col("n") - col("r") * col("cg")).cast("double") /
            (col("r") * col("cg")).cast("double") / col("n").cast("double") * 1.0e9)
            .cast("long").as("contrib_e9"))
      scored.unionAll(scored.agg(sum(col("o")).as("o"), sum(col("contrib_e9")).as("contrib_e9"))
          .select(lit(null).cast("bigint").as("bin"), lit(null).cast("bigint").as("grp"),
            col("o"), col("contrib_e9")))
        .orderBy(col("bin").asc_nulls_last, col("grp").asc_nulls_last)
    },
    Some("WITH b AS (SELECT MIN(epoch_us(o_orderdate)) AS mn, " +
      "MAX(epoch_us(o_orderdate)) AS mx FROM orders), " +
      "s AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v, " +
      "CASE WHEN epoch_us(o_orderdate) < b.mn + (b.mx - b.mn) // 2 THEN 1 ELSE 2 END AS grp " +
      "FROM orders, b), " +
      "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
      "CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2 FROM s), " +
      "cv AS (SELECT v, CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1, " +
      "CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2 FROM s GROUP BY v), " +
      "cum AS (SELECT v, c1, c2, CAST(SUM(c1 + c2) OVER (ORDER BY v) AS BIGINT) AS f FROM cv), " +
      "ks AS (SELECT unnest(generate_series(1, 9)) AS k), " +
      "edges AS (SELECT k, MIN(v) AS edge FROM cum, ks, n " +
      "WHERE f >= (k * n + 9) // 10 GROUP BY k), " +
      "binned AS (SELECT cum.v, cum.c1, cum.c2, " +
      "CAST((SELECT COUNT(*) FROM edges e WHERE cum.v > e.edge) AS BIGINT) AS bin FROM cum), " +
      "cells AS (SELECT bin, grp, o FROM (" +
      "SELECT bin, CAST(1 AS BIGINT) AS grp, CAST(SUM(c1) AS BIGINT) AS o FROM binned GROUP BY bin " +
      "UNION ALL SELECT bin, 2, CAST(SUM(c2) AS BIGINT) FROM binned GROUP BY bin)), " +
      "rt AS (SELECT bin, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY bin), " +
      "k2 AS (SELECT cells.bin, cells.grp, o, CAST(floor(" +
      "CAST(o * n.n - rt.r * (CASE WHEN cells.grp = 1 THEN n.n1 ELSE n.n2 END) AS DOUBLE) * " +
      "CAST(o * n.n - rt.r * (CASE WHEN cells.grp = 1 THEN n.n1 ELSE n.n2 END) AS DOUBLE) / " +
      "CAST(rt.r * (CASE WHEN cells.grp = 1 THEN n.n1 ELSE n.n2 END) AS DOUBLE) / " +
      "CAST(n.n AS DOUBLE) * 1.0e9) AS BIGINT) AS contrib_e9 " +
      "FROM cells JOIN rt USING (bin), n) " +
      "SELECT bin, grp, o, contrib_e9 FROM k2 " +
      "UNION ALL SELECT NULL, NULL, CAST(SUM(o) AS BIGINT), CAST(SUM(contrib_e9) AS BIGINT) FROM k2 " +
      "ORDER BY bin NULLS LAST, grp NULLS LAST"))

  /** Replayed-transaction audit — the idempotency-violation suspect list a
    * billing pipeline reviews: events where the SAME user produced the SAME
    * exact amount within a 7-day lookback (double-submits, retried batches,
    * replayed files all land here). One window per (user, exact-cents
    * amount) ordered by time; the gap test is pure integer micros. Emits
    * the later event of each suspect pair with its gap — the row a human
    * (or an auto-void rule) adjudicates.
    *
    * Scale notes (100 TB): one shuffle on (user, cents) — finer than the
    * per-user key, so hot users spread; per-partition state is one lag.
    * The streaming twin is `stream_dedup`'s keyed state with a 7-day
    * watermark. */
  val dqDuplicateEvents: Op = Op(
    "dq_duplicate_events",
    (s, d) => {
      val w = Window.partitionBy("user_id", "cents").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("us"),
          (col("value").cast(D12_2) * 100).cast("bigint").as("cents"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("prev_id", lag(col("event_id"), 1).over(w))
        .where(col("prev_us").isNotNull &&
          col("us") - col("prev_us") <= lit(604800000000L))
        .select(col("event_id"), col("prev_id"), col("user_id"), col("ts"),
          col("cents"), (col("us") - col("prev_us")).as("gap_us"))
        .orderBy("event_id")
    },
    Some("WITH e AS (SELECT event_id, user_id, ts, epoch_us(ts) AS us, " +
      "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events), " +
      "l AS (SELECT *, lag(us) OVER w AS prev_us, lag(event_id) OVER w AS prev_id " +
      "FROM e WINDOW w AS (PARTITION BY user_id, cents ORDER BY ts, event_id)) " +
      "SELECT event_id, prev_id, user_id, ts, cents, us - prev_us AS gap_us " +
      "FROM l WHERE prev_us IS NOT NULL AND us - prev_us <= CAST(604800000000 AS BIGINT) " +
      "ORDER BY event_id"))

  /** Benford's-law first-digit audit — the forensic screen for fabricated
    * or truncated financial data: naturally-grown amounts follow
    * P(d) = log10(1 + 1/d); fabricated ones rarely do. The first
    * significant digit is extracted WITHOUT float math (the first nonzero
    * character of the exact-cents integer string — ×100 preserves the
    * leading digit), and the expected Benford frequencies are nine shared
    * LITERAL constants (no runtime log10 — libm parity is not portable, a
    * hardcoded IEEE literal is). Per digit: observed count, expected count
    * and the χ² contribution as one fixed IEEE chain floored to e6
    * integers; the TOTAL row carries the test statistic.
    *
    * Scale notes (100 TB): one scan, map-side partial onto 9 groups. */
  val dqBenfordFirstdigit: Op = Op(
    "dq_benford_firstdigit",
    (s, d) => {
      val pLit = Seq(
        1 -> 0.3010299956639812, 2 -> 0.17609125905568124, 3 -> 0.12493873660829993,
        4 -> 0.09691001300805642, 5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129, 9 -> 0.04575749056067514)
      val pCase = pLit.tail.foldLeft(when(col("digit") === 1, pLit.head._2)) {
        case (acc, (dd, p)) => acc.when(col("digit") === dd, p)
      }
      // Right-join the observed counts onto the full 1–9 digit spine with
      // o=0 for never-occurring digits: their (0−E)²/E terms belong in the
      // statistic, and they are LARGEST exactly when the data is most
      // anomalous (r10 advisor finding — dropping them understated χ²).
      val spine = s.range(1, 10).select(col("id").cast("int").as("digit"))
      val obs = spine.join(
        Tables.orders(s, d)
          .select(regexp_extract(
            (col("o_totalprice").cast(D12_2) * 100).cast("bigint").cast("string"),
            "[1-9]", 0).cast("int").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("o")),
        Seq("digit"), "left")
        .select(col("digit"), coalesce(col("o"), lit(0L)).as("o"))
      val n = Tables.orders(s, d).agg(count(lit(1)).as("n"))
      val scored = obs.crossJoin(broadcast(n))
        .withColumn("p", pCase)
        .select(col("digit"), col("o"),
          floor(col("n") * col("p") * 1000000.0).cast("long").as("expected_e6"),
          floor((col("o").cast("double") - col("n") * col("p")) *
            (col("o").cast("double") - col("n") * col("p")) /
            (col("n") * col("p")) * 1000000.0).cast("long").as("chi2_e6"))
      scored.unionAll(scored.agg(sum(col("o")).as("o"), sum(col("expected_e6")).as("e"),
          sum(col("chi2_e6")).as("c"))
          .select(lit(null).cast("int").as("digit"), col("o"), col("e"), col("c")))
        .orderBy(col("digit").asc_nulls_last)
    },
    Some {
      val ps = Seq(
        1 -> "0.3010299956639812", 2 -> "0.17609125905568124", 3 -> "0.12493873660829993",
        4 -> "0.09691001300805642", 5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
        7 -> "0.05799194697768673", 8 -> "0.05115252244738129", 9 -> "0.04575749056067514")
      val caseSql = "CASE digit " +
        ps.map { case (dd, p) => s"WHEN $dd THEN $p" }.mkString(" ") + " END"
      "WITH raw AS (SELECT CAST(regexp_extract(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) " +
        "* 100 AS BIGINT) AS VARCHAR), '[1-9]', 0) AS INT) AS digit, " +
        "CAST(COUNT(*) AS BIGINT) AS o FROM orders GROUP BY 1), " +
        "spine AS (SELECT CAST(unnest(generate_series(1, 9)) AS INT) AS digit), " +
        "obs AS (SELECT spine.digit, CAST(COALESCE(raw.o, 0) AS BIGINT) AS o " +
        "FROM spine LEFT JOIN raw ON raw.digit = spine.digit), " +
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders), " +
        "k AS (SELECT digit, o, " +
        s"CAST(floor(n * ($caseSql) * 1000000.0) AS BIGINT) AS expected_e6, " +
        s"CAST(floor((CAST(o AS DOUBLE) - n * ($caseSql)) * " +
        s"(CAST(o AS DOUBLE) - n * ($caseSql)) / (n * ($caseSql)) * 1000000.0) AS BIGINT) " +
        "AS chi2_e6 FROM obs, n) " +
        "SELECT digit, o, expected_e6, chi2_e6 FROM k " +
        "UNION ALL SELECT NULL, CAST(SUM(o) AS BIGINT), CAST(SUM(expected_e6) AS BIGINT), " +
        "CAST(SUM(chi2_e6) AS BIGINT) FROM k " +
        "ORDER BY digit NULLS LAST"
    })

  /** UNPLANNED schema drift on ingest — the failure lane
    * `source_schema_evolution` (planned, additive) does not cover: a feed's
    * generation 3 re-types an existing column (value DOUBLE → VARCHAR, the
    * classic "producer started writing strings" break). A naive
    * mergeSchema read fails the whole scan; this op instead reads each
    * generation under its OWN footer schema, diffs it against the pinned
    * baseline contract IN CODE (the routing below branches on the observed
    * StructType, not on the directory name), and routes rows:
    * conforming generations pass (`ok`; additive-only drift passes as
    * `ok_evolved`), type-conflicting generations go through a TRY_CAST
    * recovery lane — castable rows survive as `coerced` with the drift
    * named in `reason`, uncastable rows land in quarantine (`quarantined`,
    * reason `uncastable:value`) with the raw cell preserved in `value_raw`
    * for replay. One relation carries all dispositions — the
    * `dq_quarantine_split` idiom applied to schema, not values. Oracle:
    * DuckDB reads the SAME staged generation directories with mirrored
    * TRY_CASTs.
    *
    * Scale notes (100 TB): schema diffing reads footers/manifests, never
    * data; each generation scans once, scan-local (zero shuffles before the
    * presentation sort); quarantine output ∝ bad rows. A drifted feed
    * degrades to a per-row disposition instead of a dead pipeline. */
  val dqSchemaDrift: Op = Op(
    "dq_schema_drift",
    (s, d) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      val root = Stage.root(d) + "/drift_tbl"
      val ev = Tables.events(s, d).select(col("event_id"), col("value"), col("event_type"))
      // stage three generations: baseline, additive evolution, type conflict
      ev.where(col("event_id") % 3 === 0)
        .select(col("event_id"), col("value"))
        .coalesce(2).write.mode("overwrite").parquet(s"$root/gen1")
      ev.where(col("event_id") % 3 === 1)
        .select(col("event_id"), col("value"), col("event_type").as("channel"))
        .coalesce(2).write.mode("overwrite").parquet(s"$root/gen2")
      ev.where(col("event_id") % 3 === 2)
        .select(col("event_id"),
          when(col("event_id") % 7 === 0, concat(lit("err_"), col("event_id")))
            .otherwise(d2(col("value")).cast("string")).as("value"),
          col("event_type").as("channel"))
        .coalesce(2).write.mode("overwrite").parquet(s"$root/gen3")
      val baseline = StructType(Seq(
        StructField("event_id", LongType), StructField("value", DoubleType)))
      def ingest(gen: String): org.apache.spark.sql.DataFrame = {
        val df = s.read.parquet(s"$root/$gen")
        val conflicts = baseline.flatMap(bf => df.schema.find(_.name == bf.name)
          .filter(_.dataType != bf.dataType).map(f => (f.name, f.dataType.sql)))
        val additive = df.schema.map(_.name).toSet -- baseline.map(_.name).toSet
        val base = if (df.columns.contains("channel")) df
          else df.withColumn("channel", lit(null).cast("string"))
        if (conflicts.isEmpty)
          base.select(lit(gen).as("gen"), col("event_id"),
            col("value"), col("channel"),
            lit(if (additive.nonEmpty) "ok_evolved" else "ok").as("disposition"),
            lit(null).cast("string").as("reason"),
            lit(null).cast("string").as("value_raw"))
        else {
          val (cName, cType) = conflicts.head
          val recovered = col(cName).try_cast("double")
          base.select(lit(gen).as("gen"), col("event_id"),
            recovered.as("value"), col("channel"),
            when(recovered.isNotNull, "coerced").otherwise("quarantined")
              .as("disposition"),
            when(recovered.isNotNull,
                lit(s"type_drift:$cName DOUBLE->$cType"))
              .otherwise(lit(s"uncastable:$cName")).as("reason"),
            col(cName).cast("string").as("value_raw"))
        }
      }
      ingest("gen1").unionByName(ingest("gen2")).unionByName(ingest("gen3"))
        .orderBy("gen", "event_id")
    },
    Some("SELECT * FROM (" +
      "SELECT 'gen1' AS gen, event_id, value, CAST(NULL AS VARCHAR) AS channel, " +
      "'ok' AS disposition, CAST(NULL AS VARCHAR) AS reason, " +
      "CAST(NULL AS VARCHAR) AS value_raw " +
      "FROM read_parquet('" + Stage.token + "/drift_tbl/gen1/*.parquet') " +
      "UNION ALL " +
      "SELECT 'gen2', event_id, value, channel, 'ok_evolved', NULL, NULL " +
      "FROM read_parquet('" + Stage.token + "/drift_tbl/gen2/*.parquet') " +
      "UNION ALL " +
      "SELECT 'gen3', event_id, TRY_CAST(value AS DOUBLE), channel, " +
      "CASE WHEN TRY_CAST(value AS DOUBLE) IS NOT NULL THEN 'coerced' " +
      "ELSE 'quarantined' END, " +
      "CASE WHEN TRY_CAST(value AS DOUBLE) IS NOT NULL " +
      "THEN 'type_drift:value DOUBLE->STRING' ELSE 'uncastable:value' END, " +
      "value FROM read_parquet('" + Stage.token + "/drift_tbl/gen3/*.parquet')" +
      ") ORDER BY gen, event_id"))

  /** Feed-freshness monitor — the "is this feed still arriving" check that
    * pages an on-call before any distribution test can: per event_type, the
    * last event time and its lag (whole minutes, integer division — exact
    * on both engines) behind the freshest feed in the warehouse, flagged
    * stale past 24 h. The warehouse's own max event time is the reference
    * clock (not wall-clock: a Verify/Bench run must hash identically
    * whenever it runs).
    *
    * Scale notes (100 TB): two-phase MAX/COUNT per feed (map-side partial,
    * #feeds rows of state), one broadcast of the 1-row global max back —
    * the monitor never rescans; on a partitioned table the per-partition
    * footer max answers it from metadata. */
  val dqFreshnessLag: Op = Op(
    "dq_freshness_lag",
    (s, d) => {
      val perFeed = Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), max(col("ts")).as("last_ts"))
      val globalMax = perFeed.agg(max(col("last_ts")).as("fresh_ts"))
      perFeed.crossJoin(broadcast(globalMax))
        .select(col("event_type"), col("n_rows"), col("last_ts"),
          (unix_micros(col("fresh_ts")) - unix_micros(col("last_ts"))).as("lag_us"))
        .select(col("event_type"), col("n_rows"), col("last_ts"),
          expr("lag_us div 60000000").as("lag_min"),
          (expr("lag_us div 60000000") > 1440L).as("stale"))
        .orderBy("event_type")
    },
    Some("WITH f AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
      "MAX(ts) AS last_ts FROM events GROUP BY 1), " +
      "g AS (SELECT MAX(last_ts) AS fresh_ts FROM f) " +
      "SELECT event_type, n_rows, last_ts, " +
      "(epoch_us(fresh_ts) - epoch_us(last_ts)) // 60000000 AS lag_min, " +
      "(epoch_us(fresh_ts) - epoch_us(last_ts)) // 60000000 > 1440 AS stale " +
      "FROM f, g ORDER BY event_type"))

  /** CROSS-TABLE aggregate reconciliation — the accounting check between a
    * header table and its detail table that `dq_expectations`' row-level
    * referential rule cannot see: per order, the lineitem-side exact-cents
    * revenue (Σ extendedprice·(1−discount), in e4 cents-of-cents) against
    * the header's o_totalprice, bucketed by relative deviation. Real
    * warehouses run this between every fact and its rollup; this testdata's
    * headers are NOT derived from the details (independent synthesis), so
    * the report legitimately shows large deviations — the op's contract is
    * the exact bucketing, not a pass/fail. Integer arithmetic end to end:
    * the deviation test `|detail−header| · 100 > header · pct` multiplies
    * BIGINTs instead of dividing into floats.
    *
    * Scale notes (100 TB): one (orderkey) two-phase aggregate over the
    * detail side + one equi-join to headers (co-located under bucketing on
    * the key), output = #buckets rows. */
  val dqAggregateReconcile: Op = Op(
    "dq_aggregate_reconcile",
    (s, d) => {
      val detail = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("okey"))
        .agg(sum((d2(col("l_extendedprice")) * 100).cast("long") *
          (lit(100L) - (frac(col("l_discount")) * 100).cast("long"))).as("detail_e4"))
      val header = Tables.orders(s, d)
        .select(col("o_orderkey").as("okey"),
          ((d2(col("o_totalprice")) * 100).cast("long") * 100L).as("header_e4"))
      val diff = abs(col("detail_e4") - col("header_e4"))
      header.join(detail, Seq("okey"), "left")
        .select(col("okey"),
          when(col("detail_e4").isNull, "no_detail")
            .when(diff * 100L <= col("header_e4") * 1L, "within_1pct")
            .when(diff * 100L <= col("header_e4") * 10L, "within_10pct")
            .otherwise("divergent").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("bucket")
    },
    Some("WITH detail AS (SELECT l_orderkey AS okey, " +
      "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) * " +
      "(100 - CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT))) AS BIGINT) " +
      "AS detail_e4 FROM lineitem GROUP BY 1), " +
      "header AS (SELECT o_orderkey AS okey, " +
      "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 100 AS header_e4 " +
      "FROM orders), " +
      "b AS (SELECT header.okey, CASE WHEN detail_e4 IS NULL THEN 'no_detail' " +
      "WHEN abs(detail_e4 - header_e4) * 100 <= header_e4 * 1 THEN 'within_1pct' " +
      "WHEN abs(detail_e4 - header_e4) * 100 <= header_e4 * 10 THEN 'within_10pct' " +
      "ELSE 'divergent' END AS bucket " +
      "FROM header LEFT JOIN detail ON detail.okey = header.okey) " +
      "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders FROM b " +
      "GROUP BY 1 ORDER BY bucket"))

  /** PRE-JOIN SKEW REPORT — the plan-time diagnostic that decides whether a
    * big join needs mitigation BEFORE it runs: for an intended equi-join
    * (view events ⋈ purchase events on user_id), count each side per key
    * (two map-side-combinable aggregates — never the join itself), estimate
    * per-key output multiplicity n_left·n_right, and report the top keys
    * with their share of total output (ppm, integer-exact) plus a flag for
    * keys exceeding 4× the average key's output. This is exactly the signal
    * that routes a query to `join_skew_salted` / `join_range_sliced` /
    * `join_asof_sliced` — or lets AQE's skew threshold be sized — without
    * paying the skewed join first. Cost at 100 TB: two shuffles of
    * per-key COUNTS (|keys| rows, not |rows|), one tiny key-to-key join,
    * one broadcast 1-row total; the report never materializes the join.
    * Share math is integer (×10⁶ then integer-div) and the total is cast
    * to BIGINT on both engines (DuckDB SUM(BIGINT) is HUGEINT otherwise).
    *
    * The report is a CONSUMED artifact, not just a diagnostic:
    * [[restageJoinSkewReport]] persists it and `join_skew_hybrid` reads the
    * staged rows to pick its hot lane (SkewOps) — the measure→route loop
    * runs off this table. The top-10 LIMIT deliberately bounds mitigation
    * to the report's keys: production sizes the report to the expected
    * hot-key count, and anything below the cut is by definition not worth
    * a dedicated lane. */
  private[graft] def joinSkewReportDf(s: org.apache.spark.sql.SparkSession,
                                      d: String): org.apache.spark.sql.DataFrame = {
    // ONE scan + ONE shuffle (round 17): both sides' per-key counts come
    // from a single conditional aggregate over the filtered scan — the
    // inner join of two separately-aggregated sides is equivalent to
    // keeping keys where both conditional counts are positive, at half the
    // scan work and no key-to-key join at all (at 100 TB the measure pass
    // is one map-side-combined shuffle of per-key count pairs).
    val ev = Tables.events(s, d)
    val j = ev.where(col("event_type").isin("view", "purchase"))
      .groupBy("user_id")
      .agg(count(when(col("event_type") === "view", 1)).as("n_left"),
        count(when(col("event_type") === "purchase", 1)).as("n_right"))
      .where(col("n_left") > 0 && col("n_right") > 0)
      .withColumn("est_rows", col("n_left") * col("n_right"))
    val t = j.agg(sum(col("est_rows")).as("total"), count(lit(1)).as("nkeys"))
    j.crossJoin(broadcast(t))
      .select(col("user_id"), col("n_left"), col("n_right"), col("est_rows"),
        expr("CAST((est_rows * 1000000) DIV total AS BIGINT)").as("share_ppm"),
        // spelled est_rows > (total*4) DIV nkeys — identical truth table to
        // est_rows * nkeys > total * 4 for positive integers, but the only
        // multiplication left is total*4: Spark non-ANSI Long multiply wraps
        // silently where DuckDB raises, so the per-key product must never
        // approach Long range at 100 TB key cardinalities
        when(col("est_rows") > expr("(total * 4) DIV nkeys"), 1)
          .otherwise(0).cast("int").as("skew_flag"))
      .orderBy(col("est_rows").desc, col("user_id"))
      .limit(10)
  }

  def joinSkewReportStagePath(sfDir: String): String =
    Stage.root(sfDir) + "/join_skew_report"

  /** Measurement counter — the spec hook HybridSkewSpec uses to pin that
    * building a `join_skew_hybrid` plan against an already-committed report
    * runs ZERO measurement jobs (round 16; the round-15 verdict's #2: the
    * report must be a standing artifact the route step merely reads). */
  private[graft] val skewMeasureCount = new java.util.concurrent.atomic.AtomicLong(0)

  private val skewRestageLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Re-measure the report and commit it as a NEW [[TableManifest]] version
    * of the standing artifact — the write side of the measure→route loop,
    * versioned and rename-atomic: a reader mid-commit keeps the prior
    * version's files (snapshot isolation). The data dir is COLLISION-FREE
    * per measurer (`gen-v{N}-{uuid}`): the JVM-local restage lock only
    * serializes threads, while [[TableManifest.commitIfVersion]] supports
    * cross-PROCESS writers — two processes that both measured from the same
    * base version write disjoint dirs, the CAS picks exactly one winner,
    * and the loser's files become vacuumable orphans instead of an
    * overwrite deleting the winner's committed part files (round-16 ADVICE).
    * After a successful commit the superseded generations' data files are
    * vacuumed, so repeated measuring (bench passes) doesn't grow the staged
    * dir without bound. Cost: two map-side-combined per-key COUNT
    * aggregates — once per feed epoch in production, never per consuming
    * query. */
  def restageJoinSkewReport(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val root = java.nio.file.Paths.get(joinSkewReportStagePath(d))
    val lock = skewRestageLocks.computeIfAbsent(root.toString, _ => new Object)
    lock.synchronized {
      skewMeasureCount.incrementAndGet()
      val cur =
        if (java.nio.file.Files.exists(root.resolve(TableManifest.fileName)))
          TableManifest.read(root)._1
        else 0L
      val gen = root.resolve(
        s"gen-v${cur + 1}-${java.util.UUID.randomUUID.toString.take(8)}")
      joinSkewReportDf(s, d).coalesce(1).write.mode("overwrite").parquet(gen.toString)
      val ok = TableManifest.commitIfVersion(root, cur, TableManifest.parquetFiles(gen))
      require(ok, s"skew report commit lost the CAS at version $cur despite the " +
        "restage lock — a concurrent out-of-band writer mutated the artifact")
      TableManifest.vacuum(root)
    }
  }

  /** The committed standing report — the read side every consumer
    * (`join_skew_hybrid` routing, operators sizing their AQE thresholds)
    * uses: measurement runs ONLY when no version was ever committed
    * (`dq_join_skew_report` is the re-measure path), so consuming queries
    * pay file-list metadata work, not the two per-key aggregates. */
  def joinSkewReport(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val root = java.nio.file.Paths.get(joinSkewReportStagePath(d))
    if (!java.nio.file.Files.exists(root.resolve(TableManifest.fileName)))
      restageJoinSkewReport(s, d)
    TableManifest.readTable(s, root)
  }

  val dqJoinSkewReport: Op = Op(
    "dq_join_skew_report",
    // the MEASURE key: always re-measures and commits a new version (that
    // is its job — consumers read the committed version without measuring)
    (s, d) => { restageJoinSkewReport(s, d)
      TableManifest.readTable(s, java.nio.file.Paths.get(joinSkewReportStagePath(d)))
        .orderBy(col("est_rows").desc, col("user_id")) },
    Some("WITH l AS (SELECT user_id, COUNT(*) AS n_left FROM events " +
      "WHERE event_type = 'view' GROUP BY 1), " +
      "r AS (SELECT user_id, COUNT(*) AS n_right FROM events " +
      "WHERE event_type = 'purchase' GROUP BY 1), " +
      "j AS (SELECT l.user_id, n_left, n_right, n_left * n_right AS est_rows " +
      "FROM l JOIN r ON l.user_id = r.user_id), " +
      "t AS (SELECT CAST(SUM(est_rows) AS BIGINT) AS total, COUNT(*) AS nkeys FROM j) " +
      "SELECT j.user_id, n_left, n_right, est_rows, " +
      "est_rows * 1000000 // total AS share_ppm, " +
      "CAST(CASE WHEN est_rows > total * 4 // nkeys THEN 1 ELSE 0 END AS INT) AS skew_flag " +
      "FROM j, t ORDER BY est_rows DESC, user_id LIMIT 10"))

  val all: Seq[Op] = Seq(dqExpectations, dqQuarantineSplit, cdcSnapshotDiff,
    dqObserveMetrics, dqVolumeAnomaly, dqDriftKs, dqDriftChi2, dqDuplicateEvents,
    dqBenfordFirstdigit, dqSchemaDrift, dqFreshnessLag, dqAggregateReconcile,
    dqJoinSkewReport)
}
