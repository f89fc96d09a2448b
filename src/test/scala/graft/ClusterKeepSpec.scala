package graft

import graft.ops.{GraphOps, LlmOps}
import org.scalatest.funsuite.AnyFunSuite

/** `dedup_cluster_keep`'s core: the keep decision must be per CONNECTED
  * COMPONENT, not per pair: a chain A~B, B~C where A and C never pair
  * directly still collapses to one survivor. Also: isolated pairs keep their
  * own minimum, and every doc in any pair appears exactly once in the
  * output. */
class ClusterKeepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("transitive chain collapses to one component; components keep their min id") {
    import spark.implicits._
    // components: {1,2,3} (chain via 2), {10,11}, {20,21,22,23} (star on 20)
    val pairs = Seq(
      (2L, 3L), (1L, 2L),
      (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L))
      .toDF("doc_a", "doc_b")
    val got = LlmOps.ccKeep(pairs).collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.ops.Housekeeping.releaseAll()
    val want = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L)
    assert(got.toSeq == want)
  }

  test("empty pair list yields an empty keep table, not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val got = LlmOps.ccKeep(empty).collect()
    graft.ops.Housekeeping.releaseAll()
    assert(got.isEmpty)
  }

  test("long path converges (diameter > a couple of rounds)") {
    import spark.implicits._
    // paths 0-1-2-...-(n-1): worst-case diameter for min propagation. At
    // n = 100, hash-min alone needs 99 rounds, past ccKeep's 64-round cap.
    for (n <- Seq(10, 100)) {
      val pairs = (0L until n - 1L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val got = LlmOps.ccKeep(pairs).collect().map(r => (r.getLong(0), r.getLong(1)))
      graft.ops.Housekeeping.releaseAll()
      assert(got.forall(_._2 == 0L) && got.length == n, s"$n-node path")
    }
    // the pointer jump halves the remaining depth each round: the kernel
    // settles the 100-node path in O(log diameter) rounds
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("src", "dst")
    val (_, rounds, converged) = GraphOps.components(path.union(path.select("dst", "src")), 64)
    graft.ops.Housekeeping.releaseAll()
    val bound = math.ceil(math.log(100) / math.log(2)).toInt + 2
    assert(converged && rounds <= bound, s"$rounds rounds (bound $bound), converged $converged")
  }
}
