package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** The benchmark's one session shape, configured like the engine's own
  * Bench/Verify drivers: `local[cores]`, shuffle partitions = cores, UTC,
  * no UI. Every directory Spark or the engine writes to is rooted under the
  * run directory the launcher passes in `perfbench.runDir`. */
object Session {
  def build(cores: Int): SparkSession = {
    val run = Paths.get(sys.props("perfbench.runDir"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", run.resolve("local").toString)
      .config("spark.sql.warehouse.dir", run.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", run.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Warm-up before the first key: the parquet aggregate the engine's Bench
    * warms with, so the first key does not pay the first job's class loading
    * and codegen start-up. Its cost is part of `setup_s`. */
  def warm(spark: SparkSession, dataDir: String): Unit =
    spark.read.parquet(s"$dataDir/lineitem.parquet").groupBy("l_returnflag").count().collect()
}
