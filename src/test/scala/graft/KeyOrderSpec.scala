package graft

import graft.ops.{GraphOps, Housekeeping, LlmOps, MultimodalOps, Op}
import org.apache.spark.sql.graft.ListenerBus
import org.scalatest.funsuite.AnyFunSuite

/** A key's work does not depend on the key that ran before it. Each
  * consumer below recomputes the stage its producer emits (near-dup pairs,
  * image pairs, component labels); it must start the same number of Spark
  * jobs whether it runs alone or right after its producer, with
  * `releaseAll()` between keys as Bench and Verify run them. */
class KeyOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One key the way Bench times it, then the between-keys reset. */
  private def run(op: Op, d: String): Unit = {
    op.fn(spark, d).count()
    Housekeeping.releaseAll()
  }

  /** Jobs this thread starts while [[run]] runs `op`. */
  private def jobsOf(op: Op, d: String): Int =
    ListenerBus.jobsStarted(spark.sparkContext)(run(op, d))._2

  Seq(
    LlmOps.dedupNgramJaccard -> LlmOps.dedupClusterKeep,
    MultimodalOps.dedupImagePhash -> MultimodalOps.dedupImageClusterKeep,
    GraphOps.graphConnectedComponents -> GraphOps.graphModularityScore
  ).foreach { case (producer, consumer) =>
    test(s"${consumer.key} starts the same jobs alone and right after ${producer.key}") {
      val d = TestSpark.sf0001
      // the producer on another corpus first, so that nothing this corpus's
      // producer could leave behind in the process is there for the lone run
      run(producer, TestSpark.sf001)
      val alone = jobsOf(consumer, d)
      run(producer, d)
      val afterProducer = jobsOf(consumer, d)
      assert(alone > 0, "the tag did not reach the consumer's jobs")
      assert(afterProducer == alone,
        s"${consumer.key}: $alone jobs alone, $afterProducer right after ${producer.key}")
    }
  }
}
