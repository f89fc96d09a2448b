package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared operator: query key (SURVEY.md §2), the Spark program, and —
  * when SQL-expressible — the equivalent DuckDB oracle SQL the driver
  * hash-compares against. `oracle = None` rows get a rows-only check from the
  * driver and a ScalaTest spec instead.
  */
final case class Op(key: String, fn: (SparkSession, String) => DataFrame, oracle: Option[String])

/** sf-scoped staging root for the persisted-intermediate oracle playbook:
  * a query writes an engine-specific intermediate (staged CSV, signature
  * table, ANN candidate set) BEFORE the driver's oracle pass, and the oracle
  * SQL reads the very same bytes back. The root is derived from the CANONICAL
  * sfDir, so concurrent Verify/Bench/test runs at different scale factors
  * never clobber each other's staged files, and a stale artifact from a
  * prior run at a different sf can never be silently consumed. Oracle SQL
  * strings embed [[Stage.token]]; [[graft.Verify]] resolves it against its
  * sfDir at dump time, so `oracle_sql.json` — the only oracle artifact the
  * driver reads — always carries concrete paths matching what this run's
  * queries wrote. Staged files are deliberately NOT registered with
  * [[Housekeeping]] (releaseAll() between Verify queries would delete them
  * before the oracle pass runs); each run overwrites its own sf's files in
  * place, so the footprint stays one small artifact set per sf. [[put]] is
  * the one write-then-read-back round trip: every staged frame comes back
  * with the schema it was written with. */
object Stage {
  /** Placeholder the oracle strings carry until Verify knows the sfDir. */
  val token: String = "__GRAFT_STAGE__"

  def root(sfDir: String): String = {
    val canon = java.nio.file.Paths.get(if (sfDir.isEmpty) "." else sfDir)
      .toAbsolutePath.normalize.toString
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"/tmp/graft_stage/$tag"
  }

  def resolve(sql: String, sfDir: String): String = sql.replace(token, root(sfDir))

  /** Overwrite-write `df` as parquet at `path`, then read the files back
    * with `df.schema`, the schema Spark wrote into them, so reopening starts
    * no footer-inference job. The file count is the caller's: `coalesce(1)`
    * before the call for a one-file artifact. */
  def put(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }
}

/** Shared determinism policy (SURVEY.md §7.2). The hash-oracle only matches if
  * every value is bit-identical between Spark and DuckDB, so:
  *
  *  - money/measure doubles are cast to exact decimals BEFORE any aggregation
  *    (decimal sum is associative → partial-agg order can't change the result),
  *    and the final aggregate is cast back to double (deterministic IEEE cast
  *    of identical exact decimals on both engines);
  *  - averages are expressed as exact-decimal-sum cast double, divided by
  *    count in double (single deterministic IEEE division — never
  *    engine-default decimal division, whose intermediate typing differs);
  *  - per-row double arithmetic (no aggregation) is fine as-is: IEEE ops on
  *    identical inputs are identical across engines;
  *  - every query ends in an orderBy over a unique key set with explicit null
  *    ordering where nulls are possible.
  */
object Dets {
  /** Money/measure pin. (12,2) keeps decimal multiply chains well inside
    * precision 38 on both engines, so products stay exact (no rounding step
    * anywhere until the final double cast). */
  val D12_2: DecimalType = DecimalType(12, 2)
  /** Small-fraction pin for discount/tax-like columns in [0, 10). */
  val D3_2: DecimalType = DecimalType(3, 2)

  def d2(c: Column): Column = c.cast(D12_2)
  def frac(c: Column): Column = c.cast(D3_2)

  /** Exact decimal sum emitted as a deterministic double. */
  def dsum(c: Column): Column = sum(d2(c)).cast(DoubleType)

  /** Deterministic average: exact decimal sum → double, / count → double. */
  def davg(c: Column): Column = sum(d2(c)).cast(DoubleType) / count(lit(1))

  /** The oracle-side spelling of the same two. */
  def oSum(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(12,2))) AS DOUBLE)"
  def oAvg(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)"
}
