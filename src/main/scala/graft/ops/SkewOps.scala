package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.functions._
import Dets._

/** Explicit hot-key skew mitigation — the manual counterpart to the AQE
  * skew-join split proven in SkewJoinSpec. AQE can only rebalance a skewed
  * SHUFFLE after observing it; these two operators restructure the plan so
  * the hot key never concentrates on one reducer in the first place, which is
  * the shape a 100 TB pipeline hard-codes for keys it KNOWS are pathological
  * (the one user producing half the events, the one event_type carrying most
  * of the firehose).
  *
  * Both are result-transparent: the salted plan provably computes the exact
  * same relation as the naive plan, so the DuckDB oracle is simply the
  * unsalted query.
  *
  * Scale notes (100 TB):
  *  - `join_skew_salted` replicates the DIM side SALTS times (bounded: dims
  *    are small by definition) and splits each fact key's rows across SALTS
  *    reducers via a salt derived from a per-row column — reducer input for
  *    the hottest key drops by SALTS×, at the cost of a SALTS× larger (still
  *    tiny) dim shuffle. The salt is DETERMINISTIC (pmod of event_id), never
  *    rand(): retried tasks must re-derive identical salts or a retry
  *    produces a different (wrong) partitioning of the same rows.
  *  - `agg_distinct_salted` makes exact COUNT(DISTINCT) scale under hot
  *    group keys: the distinct sets are partitioned by a salt derived from
  *    the DISTINCT column itself, so per-(key,salt) partial distinct counts
  *    are over DISJOINT value sets and the final per-key sum is exact — the
  *    reduce state for the hot key shrinks from |all its distinct values| on
  *    one task to 1/SALTS of it per task.
  */
object SkewOps {

  private val JoinSalts = 8
  private val AggSalts = 16

  /** Salted fact⋈dim equi-join: events (fact, skewed on user_id in the
    * wild) ⋈ customer (dim). The merge hint forces the shuffle path — a
    * broadcast would sidestep the very skew this operator exists to handle,
    * and at warehouse scale the dim may exceed driver memory anyway.
    * SkewOpsSpec proves (a) result ≡ the unsalted join, (b) the join keys
    * include the salt, and (c) the hot key's rows really do spread across
    * all SALTS salt values. */
  val joinSkewSalted: Op = Op(
    "join_skew_salted",
    (s, d) => {
      val e = Tables.events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(JoinSalts)).cast("int"))
      val c = Tables.customer(s, d)
        .withColumn("salt", explode(sequence(lit(0), lit(JoinSalts - 1))))
        .hint("merge")
      e.join(c, e("user_id") === c("c_custkey") && e("salt") === c("salt"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy("c_mktsegment")
    },
    Some("SELECT c_mktsegment, COUNT(*) AS cnt, " + oSum("value") + " AS sum_value " +
      "FROM events e JOIN customer c ON c.c_custkey = e.user_id " +
      "GROUP BY 1 ORDER BY c_mktsegment"))

  /** Two-phase exact distinct under a hot group key: phase 1 counts
    * distinct user_ids per (event_type, pmod(user_id, SALTS)) — disjoint
    * slices of each type's user set — and phase 2 sums the partials. The
    * event count rides along the same two phases (sum of partial counts). */
  val aggDistinctSalted: Op = Op(
    "agg_distinct_salted",
    (s, d) => {
      val e = Tables.events(s, d)
        .withColumn("salt", pmod(col("user_id"), lit(AggSalts)).cast("int"))
      e.groupBy(col("event_type"), col("salt"))
        .agg(countDistinct(col("user_id")).as("part_uniq"), count(lit(1)).as("part_cnt"))
        .groupBy(col("event_type"))
        .agg(sum(col("part_uniq")).as("uniq_users"), sum(col("part_cnt")).as("cnt"))
        .orderBy("event_type")
    },
    Some("SELECT event_type, COUNT(DISTINCT user_id) AS uniq_users, COUNT(*) AS cnt " +
      "FROM events GROUP BY 1 ORDER BY event_type"))

  /** Hot keys for [[joinSkewHybrid]], read OFF THE COMMITTED STANDING SKEW
    * REPORT ([[DqOps.joinSkewReport]] — a [[TableManifest]]-versioned
    * artifact since round 16: consumers read the committed version and pay
    * measurement only when none exists (`dq_join_skew_report` re-measures),
    * so building this plan against a committed report runs
    * zero report-side aggregates — HybridSkewSpec pins the job count).
    * This is the consume side of `dq_join_skew_report`'s measure→route
    * loop (round 15; the round-14 verdict's #2). Routing
    * rule: by default a key is hot iff the report FLAGGED it (est_rows over
    * 4× the average key — the report's own skew rule); setting
    * `graft.skew.hot.ppm` instead routes every reported key whose output
    * share meets the ppm floor (how a deployment tunes the lane cut without
    * re-measuring). The list is driver-side and ≤ the report's top-10 by
    * construction — a bounded artifact like the IVF probed-cell set, which
    * is exactly why it can be inlined as literal predicates instead of
    * paying even a broadcast join. */
  private[graft] def hotKeysFromReport(s: org.apache.spark.sql.SparkSession,
                                       d: String): Seq[Long] = {
    val report = DqOps.joinSkewReport(s, d)
    val ppmConf = s.conf.getOption("graft.skew.hot.ppm").map(_.toLong)
    val hot = ppmConf match {
      case Some(ppm) => report.where(col("share_ppm") >= ppm)
      case None      => report.where(col("skew_flag") === 1)
    }
    hot.select("user_id").collect().map(_.getLong(0)).toSeq.sorted
  }

  /** HYBRID hot/cold skew join — the production refinement of
    * [[joinSkewSalted]]'s uniform salting: measure first, then salt ONLY
    * the hot keys, so the cold 99.9 % of keys pay zero replication and one
    * plain shuffle while each hot key's rows spread across [[JoinSalts]]
    * reducers. This is a fact⋈fact self-join (view events ⋈ purchase
    * events on user_id) where neither side broadcasts at warehouse scale,
    * and AQE's skew split never sees the native/clustered cases — so the
    * split is done declaratively, DRIVEN BY THE STAGED
    * `dq_join_skew_report` ARTIFACT ([[hotKeysFromReport]] — the in-query
    * top-K rescan the round-14 tree paid is gone; measuring costs two
    * per-key COUNT aggregates, never the join itself):
    *
    *   hot  = the report's flagged keys (≤10, driver-side) inlined as
    *          literal IN-predicates on both sides — no extra join at all;
    *   cold = NOT-IN both sides → plain sort-merge join;
    *   hot lane = left salted by a per-row column, right replicated into
    *          all SALTS slots → sort-merge on (key, salt), per-reducer
    *          input for the hot key bounded at 1/SALTS of its rows;
    *   result = lane union, provably the exact unsalted relation (the
    *          lanes partition the key domain — HybridSkewSpec);
    *   empty report (no key flagged — this testdata's live state) =
    *          exactly ONE plain sort-merge join, zero mitigation overhead:
    *          the degrade the loop is FOR (HybridSkewSpec pins both the
    *          plain plan here and threshold-driven lanes under a conf'd
    *          ppm floor).
    *
    * The oracle is the plain join aggregate. Per-key pair counts and exact
    * decimal sums ride the union; SUM splits across lanes exactly because
    * decimal partials are associative (Dets). */
  val joinSkewHybrid: Op = Op(
    "join_skew_hybrid",
    (s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("value").as("v_value"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("value").as("p_value"))
      val hotKeys = hotKeysFromReport(s, d)
      val paired =
        if (hotKeys.isEmpty)
          v.join(p.hint("merge"), Seq("user_id"))
            .select("user_id", "v_value", "p_value")
        else {
          val cold = v.where(!col("user_id").isin(hotKeys: _*))
            .join(p.where(!col("user_id").isin(hotKeys: _*)).hint("merge"),
              Seq("user_id"))
            .select("user_id", "v_value", "p_value")
          val vHot = v.where(col("user_id").isin(hotKeys: _*))
            .withColumn("salt", pmod(col("event_id"), lit(JoinSalts)).cast("int"))
          val pHot = p.where(col("user_id").isin(hotKeys: _*))
            .withColumn("salt", explode(sequence(lit(0), lit(JoinSalts - 1))))
            .hint("merge")
          val hotLane = vHot.join(pHot, Seq("user_id", "salt"))
            .select("user_id", "v_value", "p_value")
          cold.unionByName(hotLane)
        }
      paired
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          dsum(col("v_value")).as("sum_v"), dsum(col("p_value")).as("sum_p"))
        .orderBy("user_id")
    },
    Some("WITH v AS (SELECT user_id, value AS v_value FROM events WHERE event_type = 'view'), " +
      "p AS (SELECT user_id, value AS p_value FROM events WHERE event_type = 'purchase') " +
      "SELECT v.user_id, COUNT(*) AS n_pairs, " + oSum("v_value") + " AS sum_v, " +
      oSum("p_value") + " AS sum_p " +
      "FROM v JOIN p ON p.user_id = v.user_id GROUP BY 1 ORDER BY v.user_id"))

  val all: Seq[Op] = Seq(joinSkewSalted, aggDistinctSalted, joinSkewHybrid)
}
