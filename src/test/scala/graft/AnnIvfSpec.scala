package graft

import graft.ops.LlmOps
import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN: deterministic output and the same recall floor as the LSH
  * variant, measured against the brute-force per-query KNN. Uniform random
  * embeddings give the coarse quantizer no cluster structure to exploit, so
  * the floor is modest — the assertion is that probe-limited search finds
  * real neighbors, not quantizer noise. Runs at sf0.01 (200 vectors) so the
  * K=16 cells are meaningfully populated. */
class AnnIvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("ann_ivf: deterministic and recall@5 above floor vs brute force") {
    val ivf1 = LlmOps.simSearchAnnIvf.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    graft.ops.Housekeeping.releaseAll()
    val ivf2 = LlmOps.simSearchAnnIvf.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    graft.ops.Housekeeping.releaseAll()
    assert(ivf1.sameElements(ivf2), "IVF output must be run-to-run deterministic")

    val brute = LlmOps.simSearchKnnPerQuery.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = ivf1.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(approx.keySet == brute.keySet, "every query must produce candidates")
    val recalls = brute.map { case (q, truth) =>
      (approx(q) & truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@5 = $mean%.2f")
    assert(mean >= 0.3, f"mean recall $mean%.2f below floor")
  }

  /** Build-once/probe-many lifecycle: training is bit-deterministic, so a
    * probe against the persisted cell-partitioned index must return EXACTLY
    * the per-run trainer's ranking — not merely recall parity. */
  test("ann_probe: persisted-index probe equals the per-run trainer exactly") {
    val ivf = LlmOps.simSearchAnnIvf.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    graft.ops.Housekeeping.releaseAll()
    val probe1 = LlmOps.simSearchAnnProbe.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // second probe reads the index store the first one built (releaseAll
    // keeps index stores): same result
    val probe2 = LlmOps.simSearchAnnProbe.fn(spark, TestSpark.sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(probe1.sameElements(ivf), "probe ranking diverged from the trainer's")
    assert(probe2.sameElements(ivf), "probe of the existing index store diverged")
  }
}
