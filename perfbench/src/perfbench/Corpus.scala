package perfbench

import java.sql.Timestamp
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The analytics corpus: the ten tables `graft.Tables` reads (a TPC-H
  * style star schema, an `events` stream, `documents` and `embeddings`),
  * shaped like the driver corpus at scale factor 0.01 (60,000 lineitems,
  * 500 documents, 500 64-dimension embeddings).
  *
  * The rows come from one fixed seed, so every query's row count is a
  * property of the code and can be checked against a recorded value. The
  * run's seed decides the physical layout: the order the rows are
  * written in and the number of files per table. */
object Corpus {
  val ContentSeed = 42L

  private val words = ("join hash row batch scan column customer filter small slow merge order " +
    "vector line table data agg value key stream window a spark part group big sort query fast the")
    .split(" ")
  private val segments = Seq("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val partTypes = Seq("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
  private val adjectives = Seq("small", "red", "blue", "hot", "old", "large", "new", "cold")
  private val nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
  private val eventTypes = Seq("signup", "error", "click", "view", "purchase")
  private val langs = Seq("en", "en", "en", "zh", "es", "de", "fr")

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def day(r: Random, from: LocalDate, days: Int): Timestamp =
    Timestamp.from(from.plusDays(r.nextInt(days).toLong).atStartOfDay().toInstant(ZoneOffset.UTC))

  private def f(name: String, t: DataType) = StructField(name, t, nullable = false)

  /** Table name, schema and rows, in key order. */
  def tables: Seq[(String, StructType, IndexedSeq[Row])] = {
    val r = new Random(ContentSeed)
    val (customers, suppliers, parts, orders, lineitems, events, docs, vecs) =
      (1500, 100, 2000, 15000, 60000, 10000, 500, 500)
    val region = ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) }.toIndexedSeq)
    val nation = ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), pick(r, segments))))
    val supplier = ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    val part = ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until parts).map(i => Row(i.toLong, s"${pick(r, adjectives)} ${pick(r, nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, partTypes), 1 + r.nextInt(50),
        (9000 + i % 1000) / 10.0)))
    val order = ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until orders).map(i => Row(i.toLong, r.nextInt(customers).toLong, pick(r, Seq("F", "O", "P")),
        money(r, 1000, 500000), day(r, LocalDate.of(1995, 1, 1), 2404), pick(r, priorities))))
    val lineitem = ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      (0 until lineitems).map(_ => Row(r.nextInt(orders).toLong, r.nextInt(parts).toLong,
        r.nextInt(suppliers).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(r, Seq("N", "A", "R")), pick(r, Seq("O", "F")), day(r, LocalDate.of(1995, 1, 2), 2498))))
    val start = LocalDate.of(2024, 1, 1).atStartOfDay().toInstant(ZoneOffset.UTC).toEpochMilli * 1000
    val eventTimes = IndexedSeq.fill(events)((r.nextDouble() * 30 * 86400e6).toLong).sorted
    val event = ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until events).map { i =>
        val ts = Timestamp.from(Instant.EPOCH.plusNanos((start + eventTimes(i)) * 1000))
        Row(i.toLong, ts, r.nextInt(150).toLong, pick(r, eventTypes),
          math.round(-100 * math.log(1 - r.nextDouble()) * 100) / 100.0 + 0.01,
          s"""{"k": ${r.nextInt(100)}}""")
      })
    // One document in twenty repeats an earlier one with " dup" appended.
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until docs).foreach { i =>
      texts += (if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
                else Seq.fill(8 + r.nextInt(80))(pick(r, words)).mkString(" "))
    }
    val document = ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until docs).map(i => Row(i.toLong, texts(i), pick(r, langs), s"src${i % 20}",
        texts(i).length.toLong)))
    val embedding = ("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
      (0 until vecs).map { i =>
        val v = Array.fill(64)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
    Seq(region, nation, customer, supplier, part, order, lineitem, event, document, embedding)
  }

  /** Writes every table as `<dir>/<name>.parquet`, rows shuffled and
    * split into one to four files by `layoutSeed`. */
  def write(spark: SparkSession, dir: String, layoutSeed: Long): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val r = new Random(layoutSeed)
    tables.foreach { case (name, schema, rows) =>
      val files = 1 + r.nextInt(4)
      spark.createDataFrame(spark.sparkContext.parallelize(r.shuffle(rows), files), schema)
        .write.parquet(s"$dir/$name.parquet")
    }
  }
}
