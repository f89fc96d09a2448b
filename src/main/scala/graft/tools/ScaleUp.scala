package graft.tools

import graft.tables.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Measurement-only scale-probe data synthesizer (round-18 verdict item #1:
  * "make the heavy-key wins demonstrable at scale" — `/root/testdata` tops
  * out at sf0.1, where 8 cores ≈ 32 cores on every key). Replicates the two
  * tables the heavy families scan into K DISJOINT copies:
  *
  *   - `lineitem` (graph family): l_orderkey and l_partkey shifted by
  *     copy·(max+1) — K disjoint transition graphs, mimicking how the part
  *     dimension grows with scale factor (constant degree distribution, no
  *     artificial quadratic densification of hot keys).
  *   - `documents` (dedup family): doc_id shifted, every word prefixed with
  *     a per-copy tag (`c<N>x`) so shingle vocabularies are disjoint across
  *     copies — near-dup structure is preserved WITHIN each copy and no
  *     cross-copy pairs appear (replicating text verbatim would instead
  *     plant K-1 perfect clones of every doc and blow the pair space
  *     quadratically, which is a different workload, not a bigger one).
  *     n_chars is recomputed so the metadata stays consistent.
  *
  * Every other table is copied verbatim so unprobed ops still resolve their
  * inputs. NOT part of the bench/oracle contract: the driver's bench always
  * runs against the real `/root/testdata` SFs; this exists so BASELINE.md can
  * record 32-core vs 8-core ratios at a scale where shuffles dominate.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <dstDir> <K>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/scaledata/x20")
    val k = args.lift(2).map(_.toInt).getOrElse(20)
    val spark = SparkSession.builder()
      .master("local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") + "]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(dst))

    val copies = spark.range(k).select(col("id").as("copy"))

    val li = Tables.lineitem(spark, src)
    val liCols = li.columns.toSeq
    val maxOrd = li.agg(max("l_orderkey")).first().getLong(0) + 1
    val maxPart = li.agg(max("l_partkey")).first().getLong(0) + 1
    li.crossJoin(copies)
      .withColumn("l_orderkey", col("l_orderkey") + col("copy") * maxOrd)
      .withColumn("l_partkey", col("l_partkey") + col("copy") * maxPart)
      .select(liCols.map(col): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    println(s"lineitem x$k written")

    val docs = Tables.documents(spark, src)
    val docCols = docs.columns.toSeq
    val maxDoc = docs.agg(max("doc_id")).first().getLong(0) + 1
    docs.crossJoin(copies)
      .withColumn("pfx", concat(lit("c"), col("copy").cast("string"), lit("x")))
      .withColumn("text",
        concat(col("pfx"), regexp_replace(col("text"), lit(" "), concat(lit(" "), col("pfx")))))
      .withColumn("doc_id", col("doc_id") + col("copy") * maxDoc)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(docCols.map(col): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"documents x$k written")

    // everything else verbatim, so unprobed ops still find their inputs
    val scaled = Set("lineitem.parquet", "documents.parquet")
    val walk = Files.list(Paths.get(src))
    try walk.forEach { p =>
      val name = p.getFileName.toString
      if (!scaled.contains(name)) {
        val t = Paths.get(dst, name)
        if (Files.isDirectory(p)) graft.ops.Housekeeping.copyTree(p, t)
        else { Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING); () }
      }
    } finally walk.close()
    println(s"copied remaining tables verbatim; done: $dst")
    spark.stop()
  }
}
