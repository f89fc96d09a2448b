package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Graph analytics over a link graph derived from the fact table — the
  * iterative-algorithm family (PageRank et al.), whose connected-components
  * kernel ([[components]]) also makes dedup's keep-one-per-cluster decision
  * ([[LlmOps.ccKeep]]), in any large-scale pipeline that
  * ranks entities by link structure (web-corpus URL ranking, citation
  * weighting, product affinity).
  *
  * The graph: directed part-transition edges — within each order, an edge
  * from the part on line n to the part on line n+1 (dedup'd, self-loops
  * dropped). This testdata's lineitem deliberately contains duplicate
  * (orderkey, linenumber) rows (the planted DQ defect `dq_expectations`
  * fires on), so the window orders by (l_linenumber, l_partkey): sort-key
  * ties then always carry EQUAL part keys, making the part-key sequence —
  * the only thing `lead` reads — deterministic on both engines.
  *
  * Determinism policy (SURVEY.md §7.2 applied to iterative float algorithms):
  * PageRank is normally float arithmetic whose per-iteration summation order
  * is engine- and partition-dependent. Here every rank is an INTEGER-SCALED
  * BIGINT (SCALE = 1e12) and every step uses integer division (Spark `div` ≡
  * DuckDB `//` on non-negatives), so partial-aggregation order cannot change
  * any bit of the result and the hash oracle is exact. Dangling-node mass is
  * deliberately dropped (documented variant; the teleport term keeps ranks
  * positive), and floor-division remainders vanish rather than redistribute —
  * both choices identical on both engines by construction.
  *
  * Scale (100 TB): each iteration is one equi-join of the edge list with the
  * current rank vector (both hash-partitioned on the node key — a co-located
  * join under bucketing) plus one map-side-combinable groupBy sum; no
  * all-pairs stage, no driver-resident state beyond the single node count.
  * [[Housekeeping.iterationBarrier]] truncates lineage each round, as in
  * every iterative kernel here, so the plan does not grow with iterations
  * (A/B: the checkpoint-free single-plan variant measured no faster at
  * bench scale — the materialization barrier costs nothing here and buys
  * bounded plans). The barrier is conf-switchable: `localCheckpoint(true)`
  * by default (right at local[*]), reliable `checkpoint()` under
  * `graft.graph.checkpointDir` for real clusters, where lineage-free local
  * blocks would die with a lost executor mid-iteration (round-12 verdict
  * #8; GraphSpec proves the two paths value-identical).
  */
object GraphOps {

  /** Rank scale: 1e12 keeps six significant decimal digits after five rounds
    * of 85/100 damping while 85·Σranks ≤ 8.5e13 stays far inside BIGINT. */
  private val Scale = 1000000000000L
  private val Damp = 85L // /100
  private val Iters = 5

  /** Part transitions: consecutive-line transitions within an order,
    * self-loops removed, one row per (src, dst) with `w` = how often it
    * occurs. Every graph key reads its graph from here. */
  private[graft] def transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    Tables.lineitem(s, d)
      .select(col("l_partkey").as("src"),
        lead(col("l_partkey"), 1).over(w).as("dst"))
      .where(col("dst").isNotNull && col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** The distinct directed edge list (PageRank, degrees, triangles, BFS). */
  private def edges(s: SparkSession, d: String): DataFrame =
    transitions(s, d).select(col("src"), col("dst"))

  /** The FREQUENT-transition subgraph (pair seen ≥ 2 times), undirected:
    * both directions, distinct, cached. The raw transition graph is one
    * giant component (a 1-row census — verified at sf0.001/0.01/0.1), while
    * repeated transitions fragment into real affinity clusters — the
    * structure CC, label propagation and modularity are FOR. Same scale
    * shape: the weighting is one extra map-side-combinable groupBy. */
  private[graft] def frequentUndirected(s: SparkSession, d: String): DataFrame = {
    val fe = transitions(s, d).where(col("w") >= 2).select(col("src"), col("dst"))
    Housekeeping.cacheBounded("freq_und",
      fe.union(fe.select(col("dst").as("src"), col("src").as("dst"))).distinct())
  }

  /** The oracle's spelling of [[transitions]]: `tr(src, dst, w)`. */
  private val transitionCtes =
    "e0 AS (SELECT l_partkey AS src, lead(l_partkey) OVER " +
      "(PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst FROM lineitem), " +
      "tr AS (SELECT src, dst, COUNT(*) AS w FROM e0 " +
      "WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2)"

  /** The oracle's spelling of [[edges]], its nodes and out-degrees. */
  private val edgeCtes =
    transitionCtes + ", " +
      "edges AS (SELECT src, dst FROM tr), " +
      "nodes AS (SELECT DISTINCT v FROM " +
      "(SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)), " +
      "outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1)"

  /** The oracle's spelling of [[frequentUndirected]]: `fe` the frequent
    * directed transitions, `und` both directions of them. */
  private val frequentCtes =
    transitionCtes + ", " +
      "fe AS (SELECT src, dst FROM tr WHERE w >= 2), " +
      "und AS MATERIALIZED (SELECT src, dst FROM fe UNION SELECT dst, src FROM fe)"

  /** Five fixed damped-PageRank rounds, bit-exact across engines.
    *
    * The DuckDB side runs the same recurrence as a recursive CTE. A node
    * with no in-edges would drop out of a naive recursive step (its LEFT
    * JOIN row carries a NULL iteration counter into the WHERE bound), so the
    * edge set is augmented with zero-weight self-edges: every node then
    * receives its own previous-round row, the iteration counter is always
    * present, and the CASE keeps the self-edge out of the contribution sum.
    */
  /** One damped-PageRank round (round 17 spelling): ONE equi-join + one
    * map-side-combinable sum, then a shuffle-free union of the static
    * teleport-only rows — named so the r17 plan dump can explain exactly
    * the plan each iteration executes. */
  private[graft] def pagerankStep(e: DataFrame, silent: DataFrame,
      ranks: DataFrame, teleport: Long): DataFrame =
    e.join(ranks.withColumnRenamed("v", "src"), "src")
      .select(col("dst").as("v"), expr("r div d").as("c"))
      .groupBy("v").agg(sum(col("c")).as("cs"))
      .select(col("v").as("v"),
        (lit(teleport) + expr(s"($Damp * cs) div 100")).as("r"))
      // fresh aliases on both branches — see ccHalfStep's union note
      .unionByName(silent.select(col("v").as("v"), col("r").as("r")))

  val graphPagerank: Op = Op(
    "graph_pagerank",
    (s, d) => {
      val e0 = edges(s, d)
      // outdeg is joined every round — attach it to the edge list ONCE so
      // each iteration is a single equi-join + sum, not two joins
      val e = Housekeeping.cacheBounded("graph_edges",
        e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("d")), "src"))
      val nodes = Housekeeping.cacheBounded("graph_nodes",
        e.select(col("src").as("v")).union(e.select(col("dst"))).distinct())
      // The one driver-side scalar (the other loops observe theirs on the
      // barrier job): node count feeds the teleport constant, never row data.
      val n = nodes.count()
      val teleport = (Scale * 15L / 100L) / n
      // Nodes with NO in-edges receive zero contributions every round, so
      // their rank is the teleport constant from iteration 1 onward — a
      // STATIC row set. Computing it once (one anti-join) and unioning it
      // into each round replaces the per-iteration `nodes LEFT JOIN contrib`
      // (two exchanges + a join per round) with a shuffle-free union: each
      // round is exactly one equi-join + one partial-agg sum (guide §2.4 —
      // remove shuffles outright). contrib's key set is distinct(dst) by
      // construction (every src carries a rank row each round), so
      // contrib ∪ silent ≡ nodes and cs is never NULL — row-identical to the
      // left-join spelling.
      val silent = Housekeeping.cacheBounded("graph_silent",
        nodes.join(e.select(col("dst").as("v")).distinct(), Seq("v"), "left_anti")
          .select(col("v"), lit(teleport).as("r")))
      var ranks = nodes.withColumn("r", lit(Scale / n))
      // Checkpoint cadence (round 18, guide §5 — fewer driver-side
      // materialization jobs): barrier every 2nd round + after the last.
      // With the per-round join gone (round 17's union rewrite) the round
      // body is ONE equi-join + partial agg + union, so a lineage depth of
      // two rounds plans fine; interleaved same-window A/B at sf0.1/cpus=32
      // (4 invocations per side, min-of-3 each): cadence 2 min 4.49 / median
      // 4.82 vs cadence 1 min 4.81 / median 4.99 — 3 checkpoint jobs instead
      // of 5 wins ~5% and the default is 2. (Contrast
      // graph_label_propagation, whose heavier round body measured SLOWER at
      // cadence 2 in round 17 — cadence is per-kernel.)
      // Value-identical at any cadence: the barrier only truncates lineage.
      for (i <- 1 to Iters) {
        ranks = pagerankStep(e, silent, ranks, teleport)
        if (i % 2 == 0 || i == Iters)
          ranks = Housekeeping.iterationBarrier(ranks)
      }
      ranks.select(col("v").as("part_id"), col("r").as("rank_scaled"))
        .orderBy(desc("rank_scaled"), asc("part_id"))
    },
    Some("WITH RECURSIVE " + edgeCtes + ", " +
      "e2(src, dst, w) AS (SELECT src, dst, 1 FROM edges " +
      "UNION ALL SELECT v, v, 0 FROM nodes), " +
      "pr(iter, v, r) AS (" +
      s"SELECT 0, v, CAST($Scale // (SELECT COUNT(*) FROM nodes) AS BIGINT) FROM nodes " +
      "UNION ALL " +
      s"SELECT p.iter + 1, e.dst, CAST((${Scale * 15L / 100L} // (SELECT COUNT(*) FROM nodes)) " +
      s"+ ($Damp * COALESCE(SUM(CASE WHEN e.w = 1 THEN p.r // od.d END), 0)) // 100 AS BIGINT) " +
      "FROM pr p JOIN e2 e ON e.src = p.v LEFT JOIN outdeg od ON od.src = e.src " +
      s"WHERE p.iter < $Iters GROUP BY 1, 2) " +
      s"SELECT v AS part_id, r AS rank_scaled FROM pr WHERE iter = $Iters " +
      "ORDER BY rank_scaled DESC, part_id"))

  /** Degree distribution of the same graph — the profiling query run before
    * any iterative algorithm (skew check: a power-law hub says salt or cap
    * before you join). One window + two map-side-combinable aggregates. */
  val graphDegreeHist: Op = Op(
    "graph_degree_hist",
    (s, d) => {
      val e = Housekeeping.cacheBounded("graph_edges_hist", edges(s, d))
      val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
        .withColumn("direction", lit("out"))
      val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("degree"))
        .withColumn("direction", lit("in"))
      out.unionByName(in)
        .groupBy(col("direction"), col("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("direction", "degree")
    },
    Some("WITH " + edgeCtes + ", " +
      "deg AS (SELECT 'out' AS direction, src AS node, COUNT(*) AS degree FROM edges GROUP BY 2 " +
      "UNION ALL SELECT 'in', dst, COUNT(*) FROM edges GROUP BY 2) " +
      "SELECT direction, degree, COUNT(*) AS n_nodes FROM deg " +
      "GROUP BY 1, 2 ORDER BY direction, degree"))

  /** Triangle census of the same graph (undirected reading) — the standard
    * clustering-structure summary (a corpus link graph with near-zero
    * triangles is tree/chain-like; a high count means dense communities,
    * which changes how you shard any pairwise pass downstream).
    *
    * Shape: canonicalize each edge to (lo, hi), DISTINCT, then the textbook
    * two-join triangle enumeration a<b<c — each triangle counted exactly
    * once because every edge is stored low→high. Work is bounded by
    * Σ_b deg(b)² (the two-path fan-out), the quantity
    * [[graphDegreeHist]] profiles; at 100 TB the standard refinement is
    * orienting edges from low- to high-degree endpoints before the join,
    * which this layout already approximates. Output also carries node and
    * undirected-edge counts so the one-row summary is self-describing. */
  val graphTriangleCount: Op = Op(
    "graph_triangle_count",
    (s, d) => {
      val e0 = edges(s, d)
      val und = Housekeeping.cacheBounded("graph_und",
        e0.select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct())
      val tri = und.as("ab")
        .join(und.as("bc"), col("ab.b") === col("bc.a"))
        .join(und.as("ac"),
          col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
        .agg(count(lit(1)).as("n_triangles"))
      val nodes = und.select(col("a").as("v")).union(und.select(col("b"))).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      nodes.crossJoin(und.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
    },
    Some("WITH " + edgeCtes + ", " +
      "u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges), " +
      "tri AS (SELECT COUNT(*) AS n_triangles FROM u ab " +
      "JOIN u bc ON ab.b = bc.a JOIN u ac ON ac.a = ab.a AND ac.b = bc.b), " +
      "nn AS (SELECT COUNT(*) AS n_nodes FROM (SELECT DISTINCT v FROM " +
      "(SELECT a AS v FROM u UNION ALL SELECT b FROM u))), " +
      "ne AS (SELECT COUNT(*) AS n_edges FROM u) " +
      "SELECT n_nodes, n_edges, n_triangles FROM nn, ne, tri"))

  /** Bounded BFS depth — seeds' reach radius. */
  private val MaxDepth = 6

  /** Multi-source BFS levels: every node's hop distance (≤ 6) from the seed
    * set (nodes with key ≡ 0 mod 97 — a deterministic ~1 % sample), the
    * frontier-expansion algorithm the iterative family was missing beside
    * PageRank (weighted fixpoint) and [[components]] (label propagation). Used at
    * scale for influence radii, contamination blast-zones, and
    * "within-k-hops-of-flagged" joins. All-integer levels, so the recursive
    * CTE oracle (UNION-dedup'd (node, lvl) pairs, MIN per node) compares
    * exact.
    *
    * Scale notes (100 TB): each round is one frontier⋈edges equi-join (both
    * sides keyed on the node — co-located under bucketing) + distinct +
    * anti-join against the visited set; frontier size is bounded by |nodes|,
    * rounds bounded by MaxDepth, lineage truncated per round like the other
    * iterative ops. The per-round empty-frontier early-exit reads one
    * observed COUNT off the barrier job itself — no separate driver action,
    * no row data to the driver. */
  val graphBfsLevels: Op = Op(
    "graph_bfs_levels",
    (s, d) => {
      val e = Housekeeping.cacheBounded("bfs_edges", edges(s, d))
      val nodes = e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v"))).distinct()
      // The frontier-empty check RIDES the barrier job
      // ([[Housekeeping.observedBarrier]]): the same materialization that
      // truncates lineage also counts the frontier, so the check costs no
      // job of its own.
      val n = count(lit(1)).as("n")
      val (seeds, seeded) = Housekeeping.observedBarrier(nodes.where(col("v") % 97 === 0)
        .select(col("v").as("node"), lit(0).as("level")), "graph_bfs_levels")(n)
      var labels = seeds
      var frontier = seeds
      var frontierRows = seeded("n").asInstanceOf[Long]
      var depth = 0
      while (depth < MaxDepth && frontierRows > 0) {
        depth += 1
        val (next, counted) = Housekeeping.observedBarrier(
          frontier.join(e, frontier("node") === e("src"))
            .select(col("dst").as("node"), lit(depth).as("level"))
            .distinct()
            .join(labels, Seq("node"), "left_anti"), "graph_bfs_levels")(n)
        frontierRows = counted("n").asInstanceOf[Long]
        // labels is a UNION of already-checkpointed frontiers — scanning the
        // union costs nothing extra and re-materializing it per round would
        // be one wasted checkpoint job per depth (the union tree depth is
        // bounded by MaxDepth, so plans stay flat without a barrier here)
        labels = labels.union(next)
        frontier = next
      }
      labels.orderBy("node")
    },
    Some(s"WITH RECURSIVE $edgeCtes, " +
      "seeds AS (SELECT v AS node FROM nodes WHERE v % 97 = 0), " +
      "reach(node, lvl) AS (SELECT node, 0 FROM seeds " +
      "UNION SELECT e.dst, r.lvl + 1 FROM reach r " +
      s"JOIN edges e ON e.src = r.node WHERE r.lvl < $MaxDepth) " +
      "SELECT node, CAST(MIN(lvl) AS INT) AS level FROM reach " +
      "GROUP BY 1 ORDER BY node"))

  /** Pointer-jumping rounds for [[graphConnectedComponents]]. Hash-min alone
    * needs diameter rounds; adding the jump (label := label of label) halves
    * the remaining pointer depth each round, so CcRounds rounds converge for
    * any diameter up to ~2^CcRounds — far beyond what a transition graph
    * can reach. CcConvergenceSpec asserts round CcRounds-1 ≡ CcRounds on the
    * real data, so the fixed-round oracle below compares CONVERGED labels. */
  private[graft] val CcRounds = 8

  /** Runs `step` from `init` for at most `maxRounds` rounds, each round
    * through [[Housekeeping.observedBarrier]] with the metrics `aggs`, and
    * stops after the first round whose metrics equal the previous round's.
    * Returns the state, the rounds run and whether the last round left the
    * metrics unchanged. The caller picks metrics that are monotone in the
    * state, so "unchanged" proves the fixpoint. `earlyExit = false` runs all
    * `maxRounds` so the convergence specs can compare rounds-1 vs rounds
    * INDEPENDENTLY of the stop rule (with it on, both sides would stop at
    * the same internal fixpoint and the comparison would be tautological). */
  private def fixpoint(init: DataFrame, maxRounds: Int, earlyExit: Boolean, op: String)(
      aggs: Column*)(step: DataFrame => DataFrame): (DataFrame, Int, Boolean) = {
    var (state, cur) = Housekeeping.observedBarrier(init, op)(aggs: _*)
    var r = 0
    var converged = false
    while (r < maxRounds && !(earlyExit && converged)) {
      r += 1
      val (next, m) = Housekeeping.observedBarrier(step(state), op)(aggs: _*)
      converged = m == cur
      state = next
      cur = m
    }
    (state, r, converged)
  }

  /** Connected components of an undirected `(src, dst)` edge list (both
    * directions present): every node's label `(v, lbl)` is the minimum node
    * id of its component. Returns the labels, the rounds run and whether
    * the last round changed nothing. Each round is hash-min (a node takes
    * the min of its own and its neighbours' labels) then a pointer jump
    * (label := label of label), which halves the remaining pointer depth,
    * so a component of diameter D settles in O(log D) rounds where hash-min
    * alone needs D. All-integer (labels are node ids), so every round is
    * bit-deterministic on both engines.
    *
    * Labels are MONOTONE non-increasing per node and the node set is
    * constant, so the label SUM is strictly decreasing until the fixpoint:
    * one exact-decimal sum, observed on each round's own barrier job, stops
    * the loop. At the fixpoint every further round is the identity, so the
    * labels equal a fixed-round run's CONVERGED labels row-exactly. */
  private[graft] def components(und: DataFrame, maxRounds: Int,
      earlyExit: Boolean = true): (DataFrame, Int, Boolean) =
    fixpoint(und.select(col("src").as("v")).distinct().withColumn("lbl", col("v")),
      maxRounds, earlyExit, "components")(sum(col("lbl").cast("decimal(38,0)")).as("s")) {
      labels =>
        // the jump self-joins the half-step on two DIFFERENT keys (h.lbl
        // vs j.v); the barrier materializes it once for both sides
        ccJumpStep(Housekeeping.iterationBarrier(ccHalfStep(und, labels)))
    }

  /** [[components]] of the [[frequentUndirected]] graph after at most
    * `rounds` rounds — the kernel of the CC key and its convergence spec. */
  private[graft] def ccLabels(s: SparkSession, d: String, rounds: Int,
      earlyExit: Boolean = true): DataFrame =
    components(frequentUndirected(s, d), rounds, earlyExit)._1

  /** CC half-step (round 17 spelling): each node pulls the MIN label over
    * its neighbours in ONE groupBy (never a pair-to-pair join), merged with
    * its own label by UNION + min-groupBy instead of a LEFT JOIN — one
    * exchange, no join, row-identical (≤ 1 row per node per side, so the
    * grouped min equals least(lbl, coalesce(nb, lbl))). */
  private[graft] def ccHalfStep(und: DataFrame, labels: DataFrame): DataFrame = {
    val nbMin = und.join(labels, und("src") === labels("v"))
      .groupBy(und("dst").as("v")).agg(min(col("lbl")).as("nb"))
    // fresh output aliases on BOTH union branches: the right branch embeds
    // the labels subtree, and a union whose children share attribute ids
    // trips UnionBase.rewriteConstraints ("key not found" on the shared
    // attr) when the shared subtree is also cache-resolved — seen in
    // GraphSpec's back-to-back ccLabels calls
    labels.select(col("v").as("v"), col("lbl").as("lbl"))
      .unionByName(nbMin.select(col("v").as("v"), col("nb").as("lbl")))
      .groupBy("v").agg(min(col("lbl")).as("lbl"))
  }

  /** CC pointer jump: follow the label one hop (labels are node ids, so the
    * self-join always matches) — the step that turns O(d) convergence into
    * O(log d). */
  private[graft] def ccJumpStep(half: DataFrame): DataFrame =
    half.as("h").join(half.as("j"), col("h.lbl") === col("j.v"))
      .select(col("h.v").as("v"), least(col("h.lbl"), col("j.lbl")).as("lbl"))

  /** The oracle's spelling of [[ccLabels]]: [[frequentCtes]], then
    * [[CcRounds]] fixed rounds ending in `l<CcRounds>(v, lbl)`. Every
    * h_i / l_i is referenced twice downstream; DuckDB INLINES plain CTEs,
    * so without MATERIALIZED the base scan fan-out is 4^rounds (observed as
    * fd exhaustion). Materializing pins each round to one evaluation — the
    * same thing the barrier does on the Spark side. */
  private val ccCtes: String = {
    val rounds = (1 to CcRounds).map { i =>
      val prev = s"l${i - 1}"
      s"nb$i AS (SELECT u.dst AS v, MIN(l.lbl) AS nb FROM und u " +
        s"JOIN $prev l ON l.v = u.src GROUP BY 1), " +
        s"h$i AS MATERIALIZED (SELECT l.v, LEAST(l.lbl, COALESCE(n.nb, l.lbl)) AS lbl " +
        s"FROM $prev l LEFT JOIN nb$i n ON n.v = l.v), " +
        s"l$i AS MATERIALIZED (SELECT h.v, LEAST(h.lbl, j.lbl) AS lbl " +
        s"FROM h$i h JOIN h$i j ON j.v = h.lbl)"
    }.mkString(", ")
    frequentCtes + ", " +
      "un AS (SELECT DISTINCT src AS v FROM und), " +
      "l0 AS MATERIALIZED (SELECT v, v AS lbl FROM un), " + rounds
  }

  /** Connected components of the undirected FREQUENT-transition graph via
    * the [[components]] kernel (the one dedup_cluster_keep runs over
    * near-dup pairs), stated over a graph family where a reachability-closure
    * oracle would explode (|component|² pairs on a giant component). Both
    * engines run the SAME fixed [[CcRounds]] rounds — the oracle is the
    * identical recurrence as chained MATERIALIZED CTEs, so the compare is
    * exact whether or not converged, and GraphSpec proves convergence with
    * ≥ 1 round of slack on this data.
    *
    * Scale notes (100 TB): per round, one equi-join of the edge list with
    * the label vector (co-located under bucketing on the node key) feeding
    * ONE hash-to-min groupBy (state = one (node, min) row per node — never
    * the pair space), plus a label⋈label jump join of two |V|-sized sides;
    * O(log diameter) rounds; lineage truncated per round. Output is the
    * per-component census, |components| rows. */
  val graphConnectedComponents: Op = Op(
    "graph_connected_components",
    (s, d) => ccLabels(s, d, CcRounds)
      .groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_nodes"), max(col("v")).as("max_node"))
      .orderBy("component"),
    Some(s"WITH $ccCtes " +
      "SELECT lbl AS component, COUNT(*) AS n_nodes, MAX(v) AS max_node " +
      s"FROM l$CcRounds GROUP BY 1 ORDER BY component"))

  /** Bellman-Ford relaxation rounds for [[graphShortestPath]]. Weighted
    * shortest paths need ≤ (longest shortest-path edge count) rounds;
    * SsspConvergenceSpec asserts round SpRounds-1 ≡ SpRounds on the real
    * data, so the fixed-round oracle compares CONVERGED distances. */
  private[graft] val SpRounds = 8

  /** Distances after `rounds` synchronous Bellman-Ford relaxations — the
    * shared kernel of the op and its convergence spec. Edge cost is the
    * all-integer frequency inverse (1000 div w) + 1: frequent transitions
    * are cheap, every cost ≥ 1, and integer arithmetic keeps every round
    * bit-deterministic on both engines. */
  private[graft] def spDistances(s: SparkSession, d: String, rounds: Int,
      earlyExit: Boolean = true): DataFrame =
    spDistancesRounds(s, d, rounds, earlyExit)._1

  /** [[spDistances]] plus the number of rounds actually executed. The
    * `earlyExit` switch exists for the convergence spec — see [[fixpoint]]. */
  private[graft] def spDistancesRounds(s: SparkSession, d: String, rounds: Int,
      earlyExit: Boolean = true): (DataFrame, Int) = {
    val e = Housekeeping.cacheBounded("sp_edges",
      transitions(s, d).select(col("src"), col("dst"),
        (expr("1000 div w") + lit(1L)).as("cost")))
    // Per-node distances are MONOTONE non-increasing and the reached-node
    // set only grows, so an unchanged (count, sum) pair after a full round
    // proves the Bellman-Ford fixpoint exactly (the [[components]] rule,
    // extended with the count because relaxation ADDS newly-reached nodes).
    // Early exit runs the rounds this data needs instead of all `rounds`; at
    // the fixpoint every further round is the identity, so the result equals
    // the fixed-round oracle row-exactly (SsspConvergenceSpec's slack).
    val seeds = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .where(col("node") % 97 === 0)
      .withColumn("dist", lit(0L))
    val (dist, r, _) = fixpoint(seeds, rounds, earlyExit, "spDistancesRounds")(
      count(lit(1)).as("n"), sum(col("dist").cast("decimal(38,0)")).as("s"))(spStep(e, _))
    (dist, r)
  }

  /** One Bellman-Ford round (round 17 spelling): one equi-join (edges ⋈
    * current distances, both keyed on the node — co-located under
    * bucketing) + map-side-combinable MIN per target, then the synchronous
    * merge with the previous round's distances. The merge is UNION + one
    * min-groupBy, not a FULL OUTER join: each side carries ≤ 1 row per
    * node, so min over the unioned rows equals
    * least(coalesce(dist, nd), coalesce(nd, dist)) row-exactly — and the
    * union needs no exchange where the outer join shuffled BOTH sides
    * (guide §2.4; one exchange per round instead of two + the join). */
  private[graft] def spStep(e: DataFrame, dist: DataFrame): DataFrame = {
    val nb = e.join(dist.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"))
      .agg(min(col("dist") + col("cost")).as("nd"))
    // fresh aliases on both branches — see ccHalfStep's union note
    dist.select(col("node").as("node"), col("dist").as("dist"))
      .unionByName(nb.select(col("node").as("node"), col("nd").as("dist")))
      .groupBy("node").agg(min(col("dist")).as("dist"))
  }

  /** Multi-source WEIGHTED shortest paths (Bellman-Ford, fixed synchronous
    * rounds) over the frequency-weighted transition graph — the cost-aware
    * companion to [[graphBfsLevels]]' hop counts: "cheapest path" where a
    * popular transition costs less than a rare one (route quality, affinity
    * distance, cost-to-reach-flagged-entity). Seeds are the same
    * deterministic ~1 % sample (key ≡ 0 mod 97), distance 0.
    *
    * Determinism: all-integer costs and distances (min/plus over BIGINT), so
    * partial-aggregation order cannot change any bit; the DuckDB oracle
    * replays the identical recurrence as chained MATERIALIZED CTEs (the
    * [[graphConnectedComponents]] playbook — plain CTEs would inline and fan
    * out 4^rounds).
    *
    * Scale notes (100 TB): each round is one edges⋈distances equi-join plus
    * one groupBy MIN plus one full-outer merge on the node key — all three
    * hash-partitioned on the node, co-located under bucketing; no all-pairs
    * stage, rounds bounded by SpRounds, lineage truncated per round. */
  val graphShortestPath: Op = Op(
    "graph_shortest_path",
    (s, d) => spDistances(s, d, SpRounds).orderBy("node"),
    Some {
      val rounds = (1 to SpRounds).map { i =>
        val prev = s"d${i - 1}"
        s"nb$i AS (SELECT e.dst AS node, MIN(p.dist + e.cost) AS nd " +
          s"FROM $prev p JOIN we e ON e.src = p.node GROUP BY 1), " +
          s"d$i AS MATERIALIZED (SELECT COALESCE(p.node, n.node) AS node, " +
          "LEAST(COALESCE(p.dist, n.nd), COALESCE(n.nd, p.dist)) AS dist " +
          s"FROM $prev p FULL OUTER JOIN nb$i n ON n.node = p.node)"
      }.mkString(", ")
      s"WITH $transitionCtes, " +
        "we AS MATERIALIZED (SELECT src, dst, (1000 // w) + 1 AS cost FROM tr), " +
        "sn AS (SELECT DISTINCT v AS node FROM " +
        "(SELECT src AS v FROM we UNION ALL SELECT dst FROM we) WHERE v % 97 = 0), " +
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM sn), " +
        rounds + " " +
        s"SELECT node, dist FROM d$SpRounds ORDER BY node"
    })

  /** Synchronous rounds for [[graphLabelPropagation]]. LP is a local-mode
    * heuristic, not a fixpoint algorithm — fixed synchronous rounds with a
    * total tie order make it deterministic, and the oracle replays the
    * identical recurrence, converged or not. */
  private[graft] val LpRounds = 4

  /** Community detection by synchronous label propagation over the same
    * undirected frequent-transition subgraph as
    * [[graphConnectedComponents]] — the MODE-based sibling of hash-min CC:
    * each round every node adopts the most frequent label among its
    * neighbours (ties broken by the smaller label; isolated nodes keep
    * their own), which splits dense components into communities instead of
    * flooding them with one minimum. Labels are node ids (BIGINT) and every
    * pick is (count DESC, label ASC) — a total order, so the rounds are
    * bit-deterministic on both engines.
    *
    * Scale notes (100 TB): per round ONE edges⋈labels equi-join feeding a
    * (node, label)-keyed count and a per-node arg-max — all hash-partitioned
    * on the node key, co-located under bucketing; state is one (node, label,
    * count) row per distinct neighbour label, never the pair space; lineage
    * truncated per round (the per-round eager checkpoint measured FASTER
    * than half-frequency checkpointing — deeper two-round plans re-plan and
    * re-shuffle more than the extra materialization saves). */
  val graphLabelPropagation: Op = Op(
    "graph_label_propagation",
    (s, d) => {
      val und = frequentUndirected(s, d)
      val nodes = und.select(col("src").as("v")).distinct()
      var labels = nodes.withColumn("lbl", col("v")).transform(Housekeeping.iterationBarrier)
      for (_ <- 1 to LpRounds) {
        val pick = und.join(labels, und("src") === labels("v"))
          .groupBy(und("dst").as("v"), col("lbl")).agg(count(lit(1)).as("c"))
          // arg-max via min on the (−count, label) struct: lexicographic
          // struct ordering gives highest count, then smallest label
          .groupBy("v").agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
          .select(col("v"), col("m.l").as("nb"))
        labels = labels.join(pick, Seq("v"), "left")
          .select(col("v"), coalesce(col("nb"), col("lbl")).as("lbl"))
          .transform(Housekeeping.iterationBarrier)
      }
      labels.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("community")
    },
    Some {
      val rounds = (1 to LpRounds).map { i =>
        val prev = s"l${i - 1}"
        s"c$i AS (SELECT e.dst AS v, p.lbl, COUNT(*) AS c " +
          s"FROM und e JOIN $prev p ON p.v = e.src GROUP BY 1, 2), " +
          s"k$i AS (SELECT v, lbl FROM (SELECT v, lbl, " +
          s"row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM c$i) " +
          "WHERE rn = 1), " +
          s"l$i AS MATERIALIZED (SELECT p.v, COALESCE(k.lbl, p.lbl) AS lbl " +
          s"FROM $prev p LEFT JOIN k$i k ON k.v = p.v)"
      }.mkString(", ")
      s"WITH $frequentCtes, " +
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM und), " +
        rounds + " " +
        s"SELECT lbl AS community, COUNT(*) AS n_members FROM l$LpRounds " +
        "GROUP BY 1 ORDER BY community"
    })

  /** Modularity score of the component partition — the quality number a
    * community detection emits beside its labels: Q = Σ_c (e_c/m −
    * (d_c/2m)²) over the same frequent-transition subgraph the CC census
    * runs on. Connected components make every edge intra-community, so Q
    * reduces to 1 − Σd_c²/(4m²) — the degree term is what separates "one
    * giant blob" (Q→0) from genuinely fragmented affinity clusters (the
    * per-component rows expose it). Everything is integer (edge counts,
    * degree sums); the TOTAL row emits the exact rational
    * q_num = 4m·Σe_c − Σd_c², q_den = 4m² as DECIMAL(38,0)-rendered
    * VARCHAR plus one IEEE division.
    *
    * Scale notes (100 TB): the component labels are the CC kernel's output
    * (hash-min + pointer-jump rounds, one equi-join + groupBy each); the
    * rollups are two-phase aggregates on (component); the unordered edge
    * table is an equi-join of edges to labels on ONE endpoint (components
    * make the other endpoint's label identical — asserted cheap). */
  val graphModularityScore: Op = Op(
    "graph_modularity_score",
    (s, d) => {
      val dec = "decimal(38,0)"
      val und = frequentUndirected(s, d)
      // each undirected edge once, low end first: und holds both directions
      // of every edge and no self-loop
      val ue = und.where(col("src") < col("dst")).select(col("src").as("a"), col("dst").as("b"))
      val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      val labels = components(und, CcRounds)._1
      val mRow = ue.agg(count(lit(1)).as("m"))
      val ec = ue.join(labels.withColumnRenamed("v", "a"), "a")
        .groupBy(col("lbl").as("component")).agg(count(lit(1)).as("e_c"))
      val per = labels.join(deg, "v")
        .groupBy(col("lbl").as("component"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_c"))
        .join(ec, Seq("component"), "left")
        .select(col("component"), col("n_nodes"),
          coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"),
          lit(null).cast("string").as("q_num"), lit(null).cast("string").as("q_den"),
          lit(null).cast("double").as("q"))
      val total = per.crossJoin(broadcast(mRow))
        .agg(sum(col("n_nodes")).as("n_nodes"), sum(col("e_c")).as("e_c"),
          sum(col("d_c")).as("d_c"), max(col("m")).as("m"),
          (lit(4).cast(dec) * max(col("m")).cast(dec) * sum(col("e_c")).cast(dec) -
            sum(col("d_c").cast(dec) * col("d_c").cast(dec))).cast(dec).as("qn"),
          (lit(4).cast(dec) * max(col("m")).cast(dec) * max(col("m")).cast(dec))
            .cast(dec).as("qd"))
        .select(lit(null).cast("bigint").as("component"), col("n_nodes"), col("e_c"),
          col("d_c"), col("qn").cast("string").as("q_num"),
          col("qd").cast("string").as("q_den"),
          (col("qn").cast("double") / col("qd").cast("double")).as("q"))
      per.unionAll(total).orderBy(col("component").asc_nulls_last)
    },
    Some(s"WITH $ccCtes, " +
      "ue AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM fe), " +
      "mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ue), " +
      "deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1), " +
      s"lab AS (SELECT v, lbl FROM l$CcRounds), " +
      "ec AS (SELECT lab.lbl AS component, CAST(COUNT(*) AS BIGINT) AS e_c " +
      "FROM ue JOIN lab ON lab.v = ue.a GROUP BY 1), " +
      "per AS (SELECT lab.lbl AS component, CAST(COUNT(*) AS BIGINT) AS n_nodes, " +
      "CAST(SUM(deg) AS BIGINT) AS d_c FROM lab JOIN deg USING (v) GROUP BY 1), " +
      "rows_ AS (SELECT per.component, n_nodes, COALESCE(ec.e_c, 0) AS e_c, d_c " +
      "FROM per LEFT JOIN ec USING (component)), " +
      "tot AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS n_nodes, " +
      "CAST(SUM(e_c) AS BIGINT) AS e_c, CAST(SUM(d_c) AS BIGINT) AS d_c, " +
      "CAST(4 * mm.m * CAST(SUM(e_c) AS DECIMAL(38,0)) - " +
      "SUM(CAST(d_c AS DECIMAL(38,0)) * d_c) AS DECIMAL(38,0)) AS qn, " +
      "CAST(4 * CAST(mm.m AS DECIMAL(38,0)) * mm.m AS DECIMAL(38,0)) AS qd " +
      "FROM rows_, mm GROUP BY mm.m) " +
      "SELECT component, n_nodes, e_c, d_c, " +
      "CAST(NULL AS VARCHAR) AS q_num, CAST(NULL AS VARCHAR) AS q_den, " +
      "CAST(NULL AS DOUBLE) AS q FROM rows_ " +
      "UNION ALL SELECT NULL, n_nodes, e_c, d_c, CAST(qn AS VARCHAR), " +
      "CAST(qd AS VARCHAR), CAST(qn AS DOUBLE) / CAST(qd AS DOUBLE) FROM tot " +
      "ORDER BY component NULLS LAST"))

  val all: Seq[Op] = Seq(graphPagerank, graphDegreeHist, graphTriangleCount, graphBfsLevels,
    graphConnectedComponents, graphShortestPath, graphLabelPropagation, graphModularityScore)
}
