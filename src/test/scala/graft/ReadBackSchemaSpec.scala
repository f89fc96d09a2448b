package graft

import graft.ops.{Housekeeping, LlmOps, Stage, StreamingOps, TableManifest}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Path, Paths}

/** Files the engine writes come back with the schema it wrote:
  * [[TableManifest.readFiles]] (the first file's footer schema) and
  * [[Stage.put]] (the written frame's schema) each equal the schema Spark
  * infers from the same files. */
class ReadBackSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def assertFooterSchema(files: Seq[Path], table: String): Unit = {
    assert(files.nonEmpty, s"$table lists no files")
    assert(TableManifest.readFiles(spark, files).schema ==
      spark.read.parquet(files.map(_.toString): _*).schema, table)
  }

  test("readFiles' footer schema equals the inferred one on the manifest tables") {
    // stream_commit_manifest: the rollup reads root/gen<batchId>/part-*
    val rollup = StreamingOps.streamCommitManifest.fn(spark, d)
    val manifestRoot = Paths.get(new java.net.URI(rollup.inputFiles.head).getPath)
      .getParent.getParent
    val published = TableManifest.read(manifestRoot)._2
    assertFooterSchema(published, "stream_commit_manifest")
    assert(TableManifest.readFiles(spark, published).schema("ts").dataType == TimestampNTZType)

    // stream_index_compact: its generations sit under gen=… directories,
    // which an explicit file list must not turn into a partition column
    StreamingOps.streamIndexCompact.fn(spark, d).count()
    assertFooterSchema(TableManifest.read(Paths.get(StreamingOps.lastRoot("compact", d)))._2,
      "stream_index_compact")
    val gens = Housekeeping.scratchDir("readback_gens")
    try {
      graft.tables.Tables.documents(spark, d).select("doc_id", "source", "n_chars")
        .withColumn("gen", pmod(col("doc_id"), lit(10)))
        .write.partitionBy("gen").parquet(gens.resolve("gens").toString)
      assertFooterSchema(TableManifest.parquetFiles(gens.resolve("gens/gen=3")),
        "stream_index_compact generation")
    } finally Housekeeping.deleteRecursively(gens)

    // the IVF indexes: the append index's cell list, and the retrain
    // index's one manifest, whose centroid and cell files are read apart
    assertFooterSchema(TableManifest.filesAsOf(
      LlmOps.ivfAppendIndexPath(spark, d).resolve("cells"), 2L), "ivf append cells")
    val (cents, cells) = TableManifest.filesAsOf(LlmOps.ivfRetrainIndexPath(spark, d), 2L)
      .partition(_.toString.contains("/centroids/"))
    assertFooterSchema(cents, "ivf retrain centroids")
    assertFooterSchema(cells, "ivf retrain cells")

    // a capstone fold's standing table
    StreamingOps.streamCorpusBuild.fn(spark, d).count()
    assertFooterSchema(TableManifest.read(
      Paths.get(StreamingOps.lastRoot("corpus", d), "docstate"))._2, "stream_corpus_build docstate")
  }

  test("Stage.put reads back the schema Spark infers, over every staged column type") {
    val df = spark.range(3).selectExpr("id AS l", "CAST(id AS INT) AS i",
      "CAST(id AS DOUBLE) AS dbl", "CAST(id AS STRING) AS str", "id % 2 = 0 AS b",
      "CAST(id AS DECIMAL(12,2)) AS dec", "DATE'2024-01-01' + CAST(id AS INT) AS dt",
      "TIMESTAMP'2024-01-01 00:00:00' AS ts", "TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ntz",
      "array(CAST(id AS DOUBLE), 0.5D) AS vec", "named_struct('a', id, 'b', 'x') AS st")
    val dir = Housekeeping.scratchDir("readback_put")
    try {
      val p = dir.resolve("staged").toString
      val staged = Stage.put(df.coalesce(1), p)
      assert(staged.schema == spark.read.parquet(p).schema)
      assert(staged.orderBy("l").collect().toSeq == df.orderBy("l").collect().toSeq)
    } finally Housekeeping.deleteRecursively(dir)
  }
}
