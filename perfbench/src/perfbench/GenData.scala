package perfbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic star schema + events + LLM tables with the shapes
  * the engine's loaders expect (column names, parquet types, value domains):
  * TPC-H-like `region nation customer supplier part orders lineitem`, an
  * `events` stream table and the `documents`/`embeddings` curation tables.
  * Every table is generated on the driver from a fixed per-table seed and
  * written as one parquet file, so the same scale factor always yields the
  * same rows in the same order. The benchmark's --seed never reaches here:
  * it only orders the workload's keys, so expected outputs stay fixed. */
object GenData {
  private val Seed = 42L

  def main(args: Array[String]): Unit = {
    val Array(outDir, sfArg) = args
    val spark = Session.build(Runtime.getRuntime.availableProcessors())
    write(spark, outDir, sfArg.toDouble)
    spark.stop()
  }

  private def rnd(table: String) = new SplittableRandom(Seed * 31 + table.hashCode)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(start: LocalDate, offset: Long): LocalDateTime = start.plusDays(offset).atStartOfDay()

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Colors = Array("blue", "red", "green", "large", "small", "hot", "cold", "tiny")
  private val Nouns = Array("ring", "bolt", "anvil", "widget", "gear", "nut", "spring", "valve")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Statuses = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatuses = Array("F", "O")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("de", "en", "en", "en", "es", "fr", "zh")
  private val Vocab = ("spark window merge table column vector stream value data small join filter " +
    "big group hash customer sort order slow line part fast row the agg key query a scan batch").split(" ")

  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet.tmp")
      // One part file per table, renamed to the flat `<table>.parquet`
      // layout the engine's loaders read.
      val tmp = new java.io.File(s"$dir/$name.parquet.tmp")
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$dir/$name.parquet")
      target.delete()
      require(part.renameTo(target), s"rename $part -> $target")
      graft.ops.Housekeeping.deleteRecursively(tmp.toPath)
    }

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (nm, i) => Row(i, nm) })

    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000)
    val rc = rnd("customer")
    save("customer", StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25), money(rc, -999.99, 9999.99),
        Segments(rc.nextInt(Segments.length)))))

    val nSupp = n(10000)
    val rs = rnd("supplier")
    save("supplier", StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25), money(rs, -999.99, 9999.99))))

    val nPart = n(200000)
    val rp = rnd("part")
    val retail = (0 until nPart).map(i => 900.0 + (i % 1000) / 10.0).toArray
    save("part", StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${Colors(rp.nextInt(Colors.length))} ${Nouns(rp.nextInt(Nouns.length))}",
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(PartTypes.length)), 1 + rp.nextInt(50), retail(i))))

    val nOrd = n(1500000)
    val ro = rnd("orders")
    val orderDays = java.time.temporal.ChronoUnit.DAYS.between(LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 1)) + 1
    save("orders", StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong, Statuses(ro.nextInt(3)),
        money(ro, 1000, 500000), day(LocalDate.of(1995, 1, 1), ro.nextLong(orderDays)),
        Priorities(ro.nextInt(Priorities.length)))))

    val nLine = n(6000000)
    val rl = rnd("lineitem")
    val shipDays = java.time.temporal.ChronoUnit.DAYS.between(LocalDate.of(1995, 1, 2), LocalDate.of(2001, 11, 4)) + 1
    save("lineitem", StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
      (0 until nLine).map { _ =>
        val pk = rl.nextInt(nPart)
        val qty = (1 + rl.nextInt(50)).toDouble
        Row(rl.nextInt(nOrd).toLong, pk.toLong, rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7), qty,
          math.round(qty * retail(pk) * (1 + rl.nextInt(16) / 100.0) * 100) / 100.0,
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, ReturnFlags(rl.nextInt(3)),
          LineStatuses(rl.nextInt(2)), day(LocalDate.of(1995, 1, 2), rl.nextLong(shipDays)))
      })

    // events: ts strictly increasing across 30 days at microsecond precision
    val nEv = n(1000000)
    val re = rnd("events")
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
    val stepMicros = 30L * 86400L * 1000000L / nEv
    var t = t0
    save("events", StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))),
      (0 until nEv).map { i =>
        t += 1 + re.nextLong(2 * stepMicros - 1)
        val at = LocalDateTime.ofEpochSecond(t / 1000000L, ((t % 1000000L) * 1000).toInt, ZoneOffset.UTC)
        Row(i.toLong, at, re.nextInt(math.max(1, nCust / 10)).toLong, EventTypes(re.nextInt(EventTypes.length)),
          math.round(-math.log(1 - re.nextDouble()) * 50 * 100) / 100.0, s"""{"k": ${re.nextInt(100)}}""")
      })

    // documents: ~5% near-duplicates (an earlier text plus a marker word) and
    // a few exact copies, so the dedup families have planted work.
    val nDoc = n(50000)
    val rd = rnd("documents")
    val texts = new Array[String](nDoc)
    save("documents", StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))),
      (0 until nDoc).map { i =>
        val u = rd.nextInt(1000)
        texts(i) =
          if (i > 0 && u < 50) texts(rd.nextInt(i)) + " dup"
          else if (i > 0 && u < 52) texts(rd.nextInt(i))
          else Array.fill(10 + rd.nextInt(91))(Vocab(rd.nextInt(Vocab.length))).mkString(" ")
        Row(i.toLong, texts(i), Langs(rd.nextInt(Langs.length)), s"src${i % 20}", texts(i).length.toLong)
      })

    // embeddings: unit vectors around one random centre per label
    val nVec = n(20000)
    val rv = rnd("embeddings")
    val dim = 64
    def gauss(r: SplittableRandom): Double =
      math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    val centres = Array.fill(10, dim)(gauss(rv))
    save("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)), StructField("label", IntegerType))),
      (0 until nVec).map { i =>
        val label = rv.nextInt(10)
        val v = Array.tabulate(dim)(j => centres(label)(j) + 1.5 * gauss(rv))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
