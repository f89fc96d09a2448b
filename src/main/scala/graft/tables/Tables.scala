package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema-pinned loaders for the driver-generated testdata tables
  * (TESTDATA.md / FIXTURES.md §1). One loader per table so every operator
  * reads through the same, audited path, and every read carries the
  * table's declared schema from [[schemas]]: opening a table plans from
  * metadata the engine already holds, so it starts no Spark job (without a
  * schema, `spark.read.parquet` runs one to read a file footer).
  *
  * Scale note (100 TB): these are plain parquet scans, so Catalyst predicate
  * pushdown / column pruning applied by downstream operators reaches the file
  * scan unchanged. On a real cluster the same loaders would point at a
  * partitioned (e.g. day-partitioned) table root and partition pruning would
  * compose for free; nothing here materializes or collects, and no loader
  * touches a data file before the query runs.
  */
object Tables {

  /** events.parquet's physical schema — shared with the schema-pinned
    * streaming readers so the events read shape has exactly one definition.
    * `ts` MUST be TimestampNTZType to match the file's isAdjustedToUTC=false
    * annotation: pinning LongType here would silently read raw micros as
    * longs, and pinning LTZ would re-interpret naive values through the JVM
    * zone on non-UTC hosts. */
  val rawEventsSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** The one declared copy of every table's on-disk schema (FIXTURES.md
    * §1), equal to what Spark infers from the files' footers. The
    * `timestamp[ms]` date columns are written without a UTC annotation, so
    * they are TIMESTAMP_NTZ like `events.ts`. TablesSpec checks each entry
    * against the inferred schema at every scale factor present. */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
      "c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) } + ("events" -> rawEventsSchema)

  // NOTE on timestamp physical output: TimestampType (LTZ) columns write as
  // legacy INT96 parquet under Spark's defaults. That is deliberate here:
  // DuckDB (and pyarrow) read INT96 as a *naive* timestamp, exactly matching
  // the oracle side's naive values. Forcing TIMESTAMP_MICROS instead writes
  // tz-annotated int64, which DuckDB surfaces as TIMESTAMPTZ and the compare
  // breaks — and an NTZ cast upstream is impossible because streaming
  // watermarks and unix_micros require TimestampType. Verified empirically
  // at sf0.001/0.01/0.1 (preflight 76/76 with INT96; 64/76 with µs).
  private def p(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = p(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = p(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = p(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = p(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = p(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = p(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = p(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = p(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = p(s, d, "embeddings")

  /** `events` exactly as stored: `ts` is TIMESTAMP_NTZ ([[rawEventsSchema]]).
    * For readers that split on raw epoch micros before the LTZ rebuild;
    * everything else reads [[events]]. */
  def rawEvents(s: SparkSession, d: String): DataFrame = p(s, d, "events")

  /** `events.parquet` stores `ts` as parquet TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark 4.1.2 infers as TIMESTAMP_NTZ.
    * Downstream operators need TimestampType (LTZ) — watermarks,
    * `unix_micros`, `window()` all require it — so the shared loader casts
    * once here. The session timezone is pinned to UTC everywhere
    * (GraftSession/Verify/Bench), making the NTZ→LTZ cast value-identical to
    * the file's naive micros — exactly the naive values DuckDB reads from
    * the same file, which is what the oracle compares against.
    *
    * (Earlier testdata generations wrote TIMESTAMP(NANOS); the former
    * nanosAsLong floor-division shim lived here. The driver's 2026-08-13
    * regeneration moved the files to plain micros, so the shim is gone —
    * this cast is the single events-specific read-path adaptation left.)
    */
  def events(s: SparkSession, d: String): DataFrame =
    rawEvents(s, d).withColumn("ts", ntzColToTimestamp("ts"))

  /** Any table by its [[schemas]] name, as its own loader returns it
    * (`events` with the LTZ `ts`). */
  def load(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else p(s, d, name)

  /** The NTZ→LTZ rebuild (see [[events]] scaladoc — UTC session timezone is
    * load-bearing for value identity). */
  def ntzColToTimestamp(colName: String): org.apache.spark.sql.Column =
    col(colName).cast(org.apache.spark.sql.types.TimestampType)
}
