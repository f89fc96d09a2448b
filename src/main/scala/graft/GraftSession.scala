package graft

import org.apache.spark.sql.SparkSession

/** Library entry point for users: a SparkSession builder with the engine's
  * recommended configuration — UTC semantics, AQE on, native expressions
  * injected. A reference user switches by building their session here (or by
  * adding `spark.sql.extensions=graft.GraftExtensions` to an existing one)
  * and pointing [[graft.ops.GraftCatalog]] at their warehouse root.
  */
object GraftSession {

  /** @param master e.g. "local[32]" for a workstation, omit settings you
    *               manage externally on a cluster (YARN/K8s submit).
    * @param shufflePartitions size to ~128–256 MB of shuffle data per
    *               partition at your scale; AQE coalesces downward. */
  def builder(master: String, shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")

  def local(threads: Int = 32): SparkSession = {
    val s = builder(s"local[$threads]", threads).getOrCreate()
    // getOrCreate can return a pre-existing session whose extensions were
    // fixed at creation; register gives its SQL the graft_* functions too.
    graft.functions.GraftFunctions.register(s)
    s
  }
}
