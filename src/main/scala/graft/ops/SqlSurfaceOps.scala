package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The declarative SQL authoring surfaces (Spark 4.x) beyond plain
  * `spark.sql(text)` (which `sql_interface` already proves): SQL-bodied
  * scalar functions, SQL table functions, and parameterized queries. All
  * three matter at 100 TB for the same reason — they keep business logic in
  * CATALOG METADATA and PLAN-INLINEABLE SQL instead of opaque JVM closures,
  * so Catalyst sees through them (pushdown, codegen, exact-decimal
  * reasoning all survive) and every engine consumer shares one definition.
  */
object SqlSurfaceOps {

  /** SQL-bodied scalar function (`CREATE FUNCTION ... RETURN expr`) applied
    * inside an aggregation: the net-revenue arithmetic every pricing query
    * repeats, defined ONCE as catalog metadata. Unlike `udf_scalar`'s JVM
    * closure (a codegen black box that blocks pushdown through it), a SQL
    * UDF INLINES into the plan — the optimized plan is byte-identical to
    * writing the arithmetic in place, which SqlSurfaceSpec asserts (no
    * UDF/ScalaUDF node survives optimization). Exact-decimal body per the
    * Dets policy, so the aggregate stays order-insensitive. */
  val sqlUdfScalarInline: Op = Op(
    "sql_udf_scalar_inline",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      // drop, then create: OR REPLACE logs a "replaced" warning on every call
      s.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_net_revenue")
      s.sql("CREATE TEMPORARY FUNCTION graft_net_revenue(" +
        "p DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS DECIMAL(24,6) RETURN " +
        "CAST(p AS DECIMAL(12,2)) * (1 - CAST(disc AS DECIMAL(3,2))) * " +
        "(1 + CAST(tax AS DECIMAL(3,2)))")
      s.sql("SELECT l_returnflag, COUNT(*) AS n, " +
        "CAST(SUM(graft_net_revenue(l_extendedprice, l_discount, l_tax)) AS DOUBLE) " +
        "AS net_revenue FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
    },
    Some("SELECT l_returnflag, COUNT(*) AS n, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(3,2))) * " +
      "(1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS net_revenue " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"))

  /** SQL TABLE function (`RETURNS TABLE ... RETURN SELECT`): a
    * parameterized, reusable relation — the catalog-native answer to "every
    * team keeps re-writing this filtered slice". The function body inlines
    * like a view with arguments, so the segment predicate lands in the
    * parquet scan of each invocation. Invoked twice with different
    * arguments and unioned, proving per-call specialization. */
  val sqlTableFunction: Op = Op(
    "sql_table_function",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_seg_customers")
      s.sql("CREATE TEMPORARY FUNCTION graft_seg_customers(seg STRING) " +
        "RETURNS TABLE (c_custkey BIGINT, c_acctbal DOUBLE) RETURN " +
        "SELECT c_custkey, c_acctbal FROM customer WHERE c_mktsegment = seg")
      s.sql("SELECT 'AUTOMOBILE' AS seg, COUNT(*) AS n_customers, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal " +
        "FROM graft_seg_customers('AUTOMOBILE') " +
        "UNION ALL " +
        "SELECT 'BUILDING', COUNT(*), " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) " +
        "FROM graft_seg_customers('BUILDING') ORDER BY seg")
    },
    Some("SELECT 'AUTOMOBILE' AS seg, COUNT(*) AS n_customers, " +
      "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal " +
      "FROM customer WHERE c_mktsegment = 'AUTOMOBILE' " +
      "UNION ALL SELECT 'BUILDING', COUNT(*), " +
      "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) " +
      "FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY seg"))

  /** PARAMETERIZED SQL (`spark.sql(text, args)` with named markers): the
    * injection-safe templating surface a query service puts in front of
    * the engine — parameters bind as typed literals in the parsed plan
    * (`:lo`/`:hi`/`:seg` below), never string-spliced, so a hostile
    * argument cannot change the query shape and the plan cache keys on the
    * template. Constant-folding then treats the bound literals exactly
    * like inline ones (the date range still prunes at the scan). */
  val sqlParameterized: Op = Op(
    "sql_parameterized",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql(
        "SELECT o_orderpriority, COUNT(*) AS n_orders, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "WHERE o_orderdate >= CAST(:lo AS TIMESTAMP) " +
          "AND o_orderdate < CAST(:hi AS TIMESTAMP) " +
          "AND c_mktsegment = :seg " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        Map("lo" -> "1995-03-01", "hi" -> "1995-06-01", "seg" -> "BUILDING"))
    },
    Some("SELECT o_orderpriority, COUNT(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "WHERE o_orderdate >= TIMESTAMP '1995-03-01' " +
      "AND o_orderdate < TIMESTAMP '1995-06-01' " +
      "AND c_mktsegment = 'BUILDING' " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority"))

  /** SQL PIPE syntax (Spark 4.x `|>` operators): the linear
    * filter → aggregate → filter → order spelling of a query, where each
    * stage consumes the previous stage's output shape — the authoring
    * surface that makes multi-stage analytics read like the dataflow it is
    * (and composes with AGGREGATE's post-aggregation filtering without a
    * HAVING/WHERE distinction). The parser desugars pipes into the SAME
    * logical plan as the nested spelling — the oracle is that nested
    * spelling, so the hash match proves desugaring equivalence, and
    * Catalyst's pushdown/codegen see nothing new. */
  val sqlPipeSyntax: Op = Op(
    "sql_pipe_syntax",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("FROM lineitem " +
        "|> WHERE l_quantity < 25 " +
        "|> AGGREGATE COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
        "GROUP BY l_returnflag " +
        "|> WHERE n > 100 " +
        "|> ORDER BY l_returnflag")
    },
    Some("SELECT * FROM (SELECT l_returnflag, COUNT(*) AS n, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
      "FROM lineitem WHERE l_quantity < 25 GROUP BY l_returnflag) " +
      "WHERE n > 100 ORDER BY l_returnflag"))

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — top-n-per-group
    * spelled the way SQL authors write it ("for each nation, its 2 richest
    * customers") instead of the window-function idiom. Catalyst plans the
    * correlated limit as a per-group sort under a join, which is the same
    * physical work as `window_topk_per_group`'s rank filter — the oracle IS
    * the window spelling, so the hash match proves the two idioms
    * equivalent, ties broken deterministically by the full (acctbal DESC,
    * name, custkey) order on both paths. */
  val sqlLateralTopn: Op = Op(
    "sql_lateral_topn",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("SELECT n.n_name, t.c_name, t.c_acctbal " +
        "FROM nation n JOIN LATERAL (" +
        "SELECT c_name, c_acctbal FROM customer " +
        "WHERE c_nationkey = n.n_nationkey " +
        "ORDER BY c_acctbal DESC, c_name, c_custkey LIMIT 2) t " +
        "ORDER BY n.n_name, t.c_acctbal DESC, t.c_name")
    },
    Some("WITH r AS (SELECT n_name, c_name, c_acctbal, " +
      "row_number() OVER (PARTITION BY c_nationkey " +
      "ORDER BY c_acctbal DESC, c_name, c_custkey) AS rn " +
      "FROM customer JOIN nation ON c_nationkey = n_nationkey) " +
      "SELECT n_name, c_name, c_acctbal FROM r WHERE rn <= 2 " +
      "ORDER BY n_name, c_acctbal DESC, c_name"))

  /** GROUP BY ALL (Spark 4.x / modern-SQL shorthand): every non-aggregate
    * select item becomes a grouping key — the authoring surface that kills
    * the classic "forgot to add the new column to GROUP BY" bug in wide
    * rollups. Resolved at ANALYSIS time to an ordinary Aggregate, so the
    * physical plan (two-phase hash aggregate with map-side partials) is
    * byte-identical to spelling the keys out; the oracle proves the
    * expansion picked exactly the intended keys. Exact-decimal revenue per
    * the Dets policy. */
  val sqlGroupByAll: Op = Op(
    "sql_group_by_all",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem GROUP BY ALL ORDER BY l_returnflag, l_linestatus")
    },
    Some("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue " +
      "FROM lineitem GROUP BY ALL ORDER BY l_returnflag, l_linestatus"))

  /** `SELECT * EXCEPT (cols)` (Spark 4.x; DuckDB spells it EXCLUDE) — the
    * wide-table ergonomics surface: project everything BUT the volatile /
    * sensitive columns, without enumerating a 200-column schema by hand.
    * Here: the customer identity view minus the volatile balance — the
    * shape a PII-scrub or cache-key projection takes on a wide fact.
    * Resolved at analysis time to an ordinary Project, so column PRUNING
    * still reaches the scan (the excluded column is never read). The
    * oracle's EXCLUDE spelling proves the two dialects expand to the same
    * column set. */
  val sqlSelectStarExcept: Op = Op(
    "sql_select_star_except",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("SELECT * EXCEPT (c_acctbal) FROM customer ORDER BY c_custkey")
    },
    Some("SELECT * EXCLUDE (c_acctbal) FROM customer ORDER BY c_custkey"))

  /** ORDER BY ALL — the companion shorthand to GROUP BY ALL (both Spark 4
    * and DuckDB): totally order a rollup by every select item left to
    * right, which also guarantees the hash-compare determinism rule
    * (§7.2's unique-order requirement) by construction for any rollup
    * whose grouping keys are a unique set. Spelled with both ALLs at once
    * — the fully shorthand modern rollup. */
  val sqlOrderByAll: Op = Op(
    "sql_order_by_all",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY ALL ORDER BY ALL")
    },
    Some("SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total " +
      "FROM orders GROUP BY ALL ORDER BY ALL"))

  /** IDENTIFIER(:param) — parameterized TABLE/COLUMN names (Spark 4.x),
    * the injection-safe way to template "same query, different table"
    * jobs: the name arrives as a bound parameter and the IDENTIFIER
    * clause resolves it at analysis time as a proper identifier (quoting
    * and catalog resolution included), never by string concatenation.
    * Complements `sql_parameterized`, which binds VALUES — this binds the
    * relation itself. The oracle is the statically-spelled query: hash
    * equality proves the dynamic resolution picked the same relation. */
  val sqlIdentifierDynamic: Op = Op(
    "sql_identifier_dynamic",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql(
        "SELECT l_returnflag, COUNT(*) AS n, " +
          "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty " +
          "FROM IDENTIFIER(:tab) WHERE l_quantity < :q " +
          "GROUP BY l_returnflag ORDER BY l_returnflag",
        Map("tab" -> "lineitem", "q" -> 10))
    },
    Some("SELECT l_returnflag, COUNT(*) AS n, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty " +
      "FROM lineitem WHERE l_quantity < 10 " +
      "GROUP BY l_returnflag ORDER BY l_returnflag"))

  /** EXECUTE IMMEDIATE (Spark 4.x) — run SQL held in a string with `?`
    * placeholders bound via USING: the stored-procedure-style dynamic
    * dispatch an orchestrator uses when the statement itself is data
    * (a rules table, a generated report query). Parameters bind as typed
    * values — never string-spliced — so the surface is injection-safe
    * like [[sqlParameterized]]. Oracle = the statically-spelled query. */
  val sqlExecuteImmediate: Op = Op(
    "sql_execute_immediate",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("EXECUTE IMMEDIATE " +
        "'SELECT c_mktsegment, COUNT(*) AS n, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal " +
        "FROM customer WHERE c_nationkey < ? GROUP BY c_mktsegment " +
        "ORDER BY c_mktsegment' USING 13")
    },
    Some("SELECT c_mktsegment, COUNT(*) AS n, " +
      "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal " +
      "FROM customer WHERE c_nationkey < 13 GROUP BY c_mktsegment " +
      "ORDER BY c_mktsegment"))

  /** SQL session VARIABLEs (Spark 4.x DECLARE / SET VARIABLE) — the
    * catalog-native way to thread a session-scoped constant (reporting
    * date, segment under audit) through many statements without client-
    * side templating; references resolve at analysis time like column
    * references, so constant folding and pushdown see the literal.
    * DECLARE OR REPLACE makes repeated runs in one session idempotent. */
  val sqlSessionVariable: Op = Op(
    "sql_session_variable",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("DECLARE OR REPLACE VARIABLE graft_audit_seg STRING")
      s.sql("SET VARIABLE graft_audit_seg = 'MACHINERY'")
      s.sql("SELECT o_orderpriority, COUNT(*) AS n " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = graft_audit_seg " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")
    },
    Some("SELECT o_orderpriority, COUNT(*) AS n " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "WHERE c_mktsegment = 'MACHINERY' " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority"))

  /** Native `UNPIVOT` clause (Spark 3.4+ SQL syntax) — wide-to-long
    * reshaping stated declaratively instead of the `stack()` expression
    * `profile_unpivot` uses: a per-segment metrics table (count / exact
    * total / max) unpivots into (segment, metric, value) rows. The clause
    * is analysis-time sugar over Expand, so column pruning and the
    * upstream aggregate's shape are unchanged — one two-phase aggregate,
    * then a 3× row fan-out of the TINY aggregated relation (never the
    * fact table). DuckDB's UNPIVOT mirrors the same relation; values are
    * pinned DOUBLE on both sides (UNPIVOT requires one common value
    * type). */
  val sqlUnpivotSyntax: Op = Op(
    "sql_unpivot_syntax",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("SELECT c_mktsegment, metric, value FROM (" +
        "SELECT c_mktsegment, CAST(COUNT(*) AS DOUBLE) AS n_customers, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal, " +
        "CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal " +
        "FROM customer GROUP BY c_mktsegment) " +
        "UNPIVOT (value FOR metric IN (n_customers, total_bal, max_bal)) " +
        "ORDER BY c_mktsegment, metric")
    },
    Some("WITH w AS (SELECT c_mktsegment, CAST(COUNT(*) AS DOUBLE) AS n_customers, " +
      "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal, " +
      "CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal " +
      "FROM customer GROUP BY c_mktsegment) " +
      "SELECT c_mktsegment, metric, value FROM " +
      "(UNPIVOT w ON n_customers, total_bal, max_bal " +
      "INTO NAME metric VALUE value) " +
      "ORDER BY c_mktsegment, metric"))

  /** `listagg(...) WITHIN GROUP (ORDER BY ...)` (SQL:2016, Spark 4.0+) —
    * ordered string aggregation with an EXPLICIT deterministic order: the
    * per-group concatenation every report and debugging session wants,
    * stated so shuffle order cannot reach the result (an unordered
    * string_agg is exactly the kind of silently-nondeterministic output
    * the hash oracle exists to catch). Grouped small (nations per region)
    * — the result row is bounded by the DIM size; at 100 TB a listagg over
    * a fact-sized group is a design error, not a tuning problem. */
  val aggListagg: Op = Op(
    "agg_listagg",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("SELECT r_name, COUNT(*) AS n_nations, " +
        "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations " +
        "FROM region JOIN nation ON r_regionkey = n_regionkey " +
        "GROUP BY r_name ORDER BY r_name")
    },
    Some("SELECT r_name, COUNT(*) AS n_nations, " +
      "string_agg(n_name, ',' ORDER BY n_name) AS nations " +
      "FROM region JOIN nation ON r_regionkey = n_regionkey " +
      "GROUP BY r_name ORDER BY r_name"))

  /** LATERAL COLUMN ALIAS (Spark 3.4+): a SELECT-list expression referencing
    * an alias defined earlier in the SAME select — the spreadsheet-style
    * derivation chain analysts write (net → tax → total) without nesting a
    * subquery per step. Analysis-time sugar: the resolved plan is the same
    * single Project, so codegen fuses the chain and pushdown is unchanged.
    * Exact-decimal chain per the Dets policy; one double cast at the end. */
  val sqlLateralColumnAlias: Op = Op(
    "sql_lateral_column_alias",
    (s, d) => {
      GraftCatalog.registerAll(s, d)
      s.sql("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
        "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) AS net, " +
        "net * CAST(l_tax AS DECIMAL(3,2)) AS tax_amt, " +
        "CAST(net + tax_amt AS DOUBLE) AS total " +
        "FROM lineitem WHERE l_orderkey % 100 = 0 " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, total")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"),
          col("net").cast("double").as("net"),
          col("tax_amt").cast("double").as("tax_amt"), col("total"))
    },
    Some("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS net, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) " +
      "* CAST(l_tax AS DECIMAL(3,2)) AS DOUBLE) AS tax_amt, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) " +
      "+ CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) " +
      "* CAST(l_tax AS DECIMAL(3,2)) AS DOUBLE) AS total " +
      "FROM lineitem WHERE l_orderkey % 100 = 0 " +
      "ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, total"))

  val all: Seq[Op] = Seq(sqlUdfScalarInline, sqlTableFunction, sqlParameterized,
    sqlPipeSyntax, sqlLateralTopn, sqlGroupByAll, sqlSelectStarExcept, sqlOrderByAll,
    sqlIdentifierDynamic, sqlExecuteImmediate, sqlSessionVariable, sqlUnpivotSyntax,
    aggListagg, sqlLateralColumnAlias)
}
