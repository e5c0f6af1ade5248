package graft.perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the lake tables the program reads (the schema of
  * `graft.Tables.names`). Rows are drawn on the driver from one
  * SplittableRandom per table and written as one parquet file each, so the
  * same (seed, scale) always yields byte-identical inputs.
  *
  * Row counts follow the TPC-H-style scale factor: at sf 0.1 the events
  * table holds 100,000 rows over five event types (the bar series), at
  * sf 0.01 it holds 10,000.
  */
object DataGen {

  private val eventTypes = Array("click", "view", "purchase", "signup", "error")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partTypes = Array("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
  private val colors = Array("red", "blue", "green", "black", "white", "small", "large", "steel")
  private val things = Array("ring", "widget", "bolt", "gear", "pipe", "valve", "plate", "spring")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val langs = Array("en", "en", "en", "es", "fr", "de", "zh")
  private val words = Array("a", "the", "data", "query", "spark", "table", "row", "column",
    "scan", "join", "agg", "sort", "hash", "key", "value", "part", "line", "order",
    "customer", "window", "stream", "batch", "merge", "filter", "group", "fast", "slow",
    "big", "small", "vector")

  private def rows(n: Int)(f: Int => Row): java.util.List[Row] =
    (0 until n).map(f).asJava

  private def write(spark: SparkSession, dir: String, name: String,
      schema: StructType, data: java.util.List[Row]): Unit =
    spark.createDataFrame(data, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0

  private def day(r: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  /** The events table: one row per event, timestamps strictly increasing,
    * positive prices (the bar constructor's contract). */
  def events(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val meanGapUs = 30L * 86400L * 1000000L / n
    var tUs = 0L
    val data = rows(n) { i =>
      tUs += 1 + r.nextLong(2 * meanGapUs)
      val v = math.max(0.01, math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0)
      Row(i.toLong, t0.plusNanos(tUs * 1000L), r.nextLong(150L + n / 100),
        eventTypes(r.nextInt(eventTypes.length)), v, s"""{"k": ${r.nextInt(100)}}""")
    }
    write(spark, dir, "events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))), data)
  }

  /** All ten lake tables at scale factor `sf`. */
  def lake(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nDocs = n(50000); val nVecs = n(50000)
    def rng(salt: Long) = new SplittableRandom(seed * 1000003L + salt)

    write(spark, dir, "region", StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      rows(5)(i => Row(i, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i))))
    write(spark, dir, "nation", StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
      rows(25)(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng(1)
    write(spark, dir, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      rows(nCust)(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), segments(rc.nextInt(segments.length)))))

    val rs = rng(2)
    write(spark, dir, "supplier", StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      rows(nSupp)(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))

    val rp = rng(3)
    write(spark, dir, "part", StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      rows(nPart)(i => Row(i.toLong,
        s"${colors(rp.nextInt(colors.length))} ${things(rp.nextInt(things.length))}",
        s"Brand#${1 + rp.nextInt(25)}", partTypes(rp.nextInt(partTypes.length)),
        1 + rp.nextInt(50), 900.0 + (i % 1000) / 10.0)))

    val ro = rng(4)
    val d0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orderDates = new Array[LocalDateTime](nOrders)
    write(spark, dir, "orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
      rows(nOrders) { i =>
        orderDates(i) = day(ro, d0, 2404)
        Row(i.toLong, ro.nextLong(nCust.toLong), Seq("F", "O", "P")(ro.nextInt(3)),
          money(ro, 1000.0, 500000.0), orderDates(i), priorities(ro.nextInt(priorities.length)))
      })

    // ~4 lines per order, 1 to 7, shipped within 120 days of the order
    val rl = new SplittableRandom(seed * 1000003L + 5)
    val lines = new java.util.ArrayList[Row](nOrders * 4)
    var o = 0
    while (o < nOrders) {
      val k = 1 + rl.nextInt(7)
      var ln = 1
      while (ln <= k) {
        val qty = (1 + rl.nextInt(50)).toDouble
        lines.add(Row(o.toLong, rl.nextLong(nPart.toLong), rl.nextLong(nSupp.toLong), ln,
          qty, math.round(qty * money(rl, 900.0, 2100.0) * 100.0) / 100.0,
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
          Seq("R", "A", "N")(rl.nextInt(3)), Seq("O", "F")(rl.nextInt(2)),
          orderDates(o).plusDays(1L + rl.nextInt(120))))
        ln += 1
      }
      o += 1
    }
    write(spark, dir, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))), lines)

    events(spark, dir, seed, n(1000000))

    // one document in ten is a one-word edit of an earlier one, so the
    // near-duplicate pipelines have clusters to find
    val rd = rng(6)
    val texts = new Array[String](nDocs)
    write(spark, dir, "documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      rows(nDocs) { i =>
        texts(i) =
          if (i > 10 && rd.nextInt(10) == 0) {
            val w = texts(rd.nextInt(i)).split(' ')
            w(rd.nextInt(w.length)) = words(rd.nextInt(words.length))
            w.mkString(" ")
          } else Array.fill(8 + rd.nextInt(80))(words(rd.nextInt(words.length))).mkString(" ")
        Row(i.toLong, texts(i), langs(rd.nextInt(langs.length)), s"src${rd.nextInt(20)}",
          texts(i).length.toLong)
      })

    val re = rng(7)
    write(spark, dir, "embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))),
      rows(nVecs) { i =>
        val g = Array.fill(64)(re.nextDouble() - 0.5 + (re.nextDouble() - 0.5))
        val norm = math.sqrt(g.map(x => x * x).sum)
        Row(i.toLong, g.map(x => (x / norm).toFloat).toSeq, re.nextInt(10))
      })
  }
}
