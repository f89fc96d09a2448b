package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output fingerprint, computed inside the timed
  * materialization by an `observe` on the key's result: the row count plus
  * the sums of the low and high 32-bit halves of a per-row xxhash64 over
  * every column. Summing halves of a 64-bit hash cannot overflow a long below
  * 2^31 rows and, unlike XOR, does not cancel duplicate rows. Map- and
  * variant-typed values are hashed through a canonical string form (sorted
  * entries / JSON text), since Spark cannot hash them directly. */
final case class Fingerprint(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"$rows:$lo:$hi"
}

object Fingerprint {
  def parse(s: String): Fingerprint = s.split(":") match {
    case Array(r, l, h) => Fingerprint(r.toLong, l.toLong, h.toLong)
  }

  /** `df` with the fingerprint metrics attached; read them from `obs` once
    * an action on the returned frame completed. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  def read(obs: Observation): Fingerprint = {
    val m = obs.get
    Fingerprint(m("rows").asInstanceOf[Long], m("lo").asInstanceOf[Long], m("hi").asInstanceOf[Long])
  }

  private def needsCanon(dt: DataType): Boolean = dt match {
    case _: MapType | _: VariantType => true
    case ArrayType(et, _) => needsCanon(et)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  private def canonical(c: Column, dt: DataType): Column = dt match {
    case _ if !needsCanon(dt) => c
    case MapType(kt, vt, _) =>
      def str(x: Column, t: DataType): Column = coalesce(canonical(x, t).cast(StringType), lit("\u0000"))
      array_join(array_sort(transform(map_entries(c),
        e => concat(str(e.getField("key"), kt), lit("\u0001"), str(e.getField("value"), vt)))), "\u0002")
    case _: VariantType => to_json(c)
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
  }
}
