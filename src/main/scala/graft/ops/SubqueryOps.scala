package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Subquery surface — Catalyst's decorrelation at work (SURVEY §4.2:
  * RewriteCorrelatedScalarSubquery). Both ops are written as SQL (the
  * subquery syntax IS the surface) over GraftCatalog views; averages inside
  * predicates use the exact-decimal form so the comparison boundary is
  * engine-stable.
  *
  * Scale notes: the correlated scalar subquery decorrelates into an
  * aggregate + join on the correlation key (one shuffle, no per-row
  * execution); the uncorrelated scalar is a one-row broadcast.
  */
object SubqueryOps {

  /** TPC-H Q17 shape: lineitems ordering less than half their part's average
    * quantity — per-brand revenue of small orders. */
  val subqueryCorrelated: Op = Op(
    "subquery_correlated",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("SELECT p_brand, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue, " +
        "COUNT(*) AS cnt " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE l_quantity < (SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)) " +
        "FROM lineitem l2 WHERE l2.l_partkey = p_partkey) " +
        "GROUP BY p_brand ORDER BY p_brand")
    },
    Some("SELECT p_brand, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue, " +
      "COUNT(*) AS cnt " +
      "FROM lineitem JOIN part ON p_partkey = l_partkey " +
      "WHERE l_quantity < (SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)) " +
      "FROM lineitem l2 WHERE l2.l_partkey = p_partkey) " +
      "GROUP BY p_brand ORDER BY p_brand"))

  /** Uncorrelated scalar subquery: orders well above the global average
    * price. 1.5× (not 2×) so the predicate matches a non-empty set at every
    * test sf — round 1's 2× matched 0 rows, which made the hash check
    * vacuous (VERDICT r1 #3). */
  val subqueryScalar: Op = Op(
    "subquery_scalar",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_totalprice > 1.5 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders) " +
        "ORDER BY o_orderkey")
    },
    Some("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
      "WHERE o_totalprice > 1.5 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders) " +
      "ORDER BY o_orderkey"))


  /** Approximate percentiles (GK sketch) — the warehouse staple for latency/
    * load distributions. Sketch internals are engine-specific, so the hash
    * oracle is a RANK-ENVELOPE check (the accuracy-envelope playbook, see
    * agg_approx_hll): the engine's p50/p95 are staged to parquet; the oracle
    * reads them back and independently derives, from its own sorted copy of
    * each group, the data values at ranks p ± 2/accuracy — the WHERE keeps
    * an estimate only if it lies inside that bracket, so a sketch whose
    * rank error exceeds twice its guarantee (GK bound: n/accuracy) drops
    * the row and fails the compare. Group counts are recomputed exactly on
    * both sides. PercentileSpec keeps the tighter 1/accuracy assertion. */
  val aggApproxPercentile: Op = Op(
    "agg_approx_percentile",
    (s, d) => {
      val est = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50"),
          percentile_approx(col("o_totalprice"), lit(0.95), lit(1000)).as("p95"))
      val staged = Stage.put(est.coalesce(1), Stage.root(d) + "/pct_est")
      val cnt = Tables.orders(s, d)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
      staged.join(cnt, "o_orderpriority")
        .select(col("o_orderpriority"), col("p50"), col("p95"), col("cnt"))
        .orderBy("o_orderpriority")
    },
    Some("WITH v AS (SELECT o_orderpriority, o_totalprice, " +
      "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn, " +
      "COUNT(*) OVER (PARTITION BY o_orderpriority) AS n FROM orders), " +
      "b AS (SELECT o_orderpriority, MAX(n) AS cnt, " +
      "MAX(CASE WHEN rn = GREATEST(1, CAST(floor((0.5 - 0.002) * n) AS BIGINT)) THEN o_totalprice END) AS lo50, " +
      "MAX(CASE WHEN rn = LEAST(n, CAST(ceil((0.5 + 0.002) * n) AS BIGINT)) THEN o_totalprice END) AS hi50, " +
      "MAX(CASE WHEN rn = GREATEST(1, CAST(floor((0.95 - 0.002) * n) AS BIGINT)) THEN o_totalprice END) AS lo95, " +
      "MAX(CASE WHEN rn = LEAST(n, CAST(ceil((0.95 + 0.002) * n) AS BIGINT)) THEN o_totalprice END) AS hi95 " +
      "FROM v GROUP BY 1) " +
      "SELECT s.o_orderpriority, s.p50, s.p95, b.cnt " +
      "FROM read_parquet('" + Stage.token + "/pct_est/*.parquet') s " +
      "JOIN b USING (o_orderpriority) " +
      "WHERE s.p50 BETWEEN b.lo50 AND b.hi50 AND s.p95 BETWEEN b.lo95 AND b.hi95 " +
      "ORDER BY o_orderpriority"))

  val all: Seq[Op] = Seq(subqueryCorrelated, subqueryScalar, aggApproxPercentile)
}
