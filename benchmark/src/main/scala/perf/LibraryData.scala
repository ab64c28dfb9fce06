package perf

import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

/** Seeded synthetic tables with the schemas and value domains of the
  * library's scale-factor fixtures: a TPC-H-like star (region, nation,
  * customer, supplier, part, orders, lineitem), an event stream, a
  * document corpus with planted near-duplicates, and unit-norm embeddings.
  * Row counts scale with `sf` as the fixtures do (lineitem ~6M x sf).
  * Rows are built in one process from one generator and written as one
  * parquet file per table, so a seed always gives the same tables.
  */
object LibraryData {

  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Types = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Vector("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Vector("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Vector("click", "error", "purchase", "signup", "view")
  private val Langs = Vector("en", "en", "de", "es", "fr", "zh")
  private val Vocab = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group", "hash",
    "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private val Day = 86400000L
  private val OrderEpoch = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val OrderDays = 2404
  private val EventEpoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def money(rng: Rng, lo: Int, hi: Int): Double = rng.range(lo * 100, hi * 100) / 100.0

  def write(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    val rng = new Rng(seed)
    def n(base: Int) = math.max(1, math.round(base * sf / 0.1).toInt)
    val (nCust, nSupp, nPart, nOrd, nLine) = (n(15000), n(1000), n(20000), n(150000), n(600000))
    val (nEvents, nUsers, nDocs, nVecs) = (n(100000), n(1500), n(5000), n(2000))

    // One plain parquet file per table, the fixtures' layout.
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = new File(dir, s".$name.tmp")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one part file for $name")
      Files.move(part.head.toPath, new File(dir, s"$name.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
      ErWorkload.deleteTree(tmp)
    }

    def st(fields: (String, DataType)*) = StructType(fields.map { case (f, t) => StructField(f, t) })

    save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Regions.indices.map(i => Row(i, Regions(i))))
    save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer",
      st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rng.int(25), money(rng, -999, 9999), rng.pick(Segments))))
    save("supplier",
      st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.int(25), money(rng, -999, 9999))))
    save("part",
      st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong, s"${rng.pick(Adjectives)} ${rng.pick(Nouns)}",
        s"Brand#${rng.range(1, 25)}", rng.pick(Types), rng.range(1, 50), 900.0 + (i % 1000) / 10.0)))
    save("orders",
      st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until nOrd).map(i => Row(i.toLong, rng.int(nCust).toLong, rng.pick(Vector("F", "O", "P")),
        money(rng, 1000, 500000), new Timestamp(OrderEpoch + rng.int(OrderDays) * Day), rng.pick(Priorities))))
    save("lineitem",
      st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
        "l_tax" -> DoubleType, "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType),
      (0 until nLine).map { _ =>
        val q = rng.range(1, 50)
        Row(rng.int(nOrd).toLong, rng.int(nPart).toLong, rng.int(nSupp).toLong, rng.range(1, 7), q.toDouble,
          money(rng, 900, 104999), rng.range(0, 10) / 100.0, rng.range(0, 8) / 100.0,
          rng.pick(Vector("A", "N", "R")), rng.pick(Vector("F", "O")),
          new Timestamp(OrderEpoch + (1 + rng.int(OrderDays + 90)) * Day))
      })
    var clock = EventEpoch
    save("events",
      st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      (0 until nEvents).map { i =>
        clock += rng.range(0, 2 * 2592000 / nEvents) * 1000L + rng.int(1000)
        val ts = new Timestamp(clock)
        ts.setNanos(ts.getNanos / 1000 * 1000 + rng.int(1000) * 1000)
        Row(i.toLong, ts, rng.int(nUsers).toLong, rng.pick(EventTypes), money(rng, 0, 560), s"""{"k": ${rng.int(100)}}""")
      })
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    save("documents",
      st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until nDocs).map { i =>
        val text =
          if (texts.nonEmpty && rng.chance(0.05)) texts(rng.int(texts.size)) + " dup"
          else Vector.fill(rng.range(10, 100))(rng.pick(Vocab)).mkString(" ")
        texts += text
        Row(i.toLong, text, rng.pick(Langs), s"src${i % 20}", text.length.toLong)
      })
    save("embeddings",
      st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until nVecs).map { i =>
        val label = rng.int(10)
        // Ten loose clusters: a per-label centre plus noise, unit-normalised.
        val centre = new Rng(1000L + label)
        val v = Array.fill(64)(gauss(centre) + 0.8 * gauss(rng))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }

  private def gauss(rng: Rng): Double = {
    val u = math.max(1e-12, (rng.nextLong() >>> 11) * (1.0 / (1L << 53)))
    val v = (rng.nextLong() >>> 11) * (1.0 / (1L << 53))
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }
}
