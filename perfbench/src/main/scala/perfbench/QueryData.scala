package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic tables for the query workloads, in the shape of
  * the repository's sf0.1 testdata: the TPC-H-like star schema plus the
  * `events`, `documents` and `embeddings` tables, one Parquet file each,
  * with the same column names and types (timestamps without time zone).
  *
  * Every row is drawn from its own generator seeded by (table, row id), so
  * the files do not depend on partitioning. The data is fixed: the query
  * workloads' seed only permutes query order, and the expected result
  * hashes are frozen against this data. */
object QueryData {

  /** Bump when the generated data changes; it invalidates both the cached
    * files and the frozen hashes. */
  val Version = "2"

  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Vector("blue", "red", "green", "large", "small", "hot", "cold",
    "shiny", "rusty", "light", "heavy", "smooth", "rough")
  private val Nouns = Vector("ring", "bolt", "anvil", "widget", "gear")
  private val Types = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Vector("click", "error", "purchase", "signup", "view")
  private val Langs = Vector("de", "en", "es", "fr", "zh")
  private val Words = Vector("a", "the", "batch", "part", "spark", "line", "column", "order",
    "small", "big", "sort", "fast", "slow", "value", "scan", "hash", "group", "agg", "filter",
    "query", "key", "window", "row", "table", "stream", "merge", "data", "vector", "customer",
    "join")
  private val EmbDim = 64
  private val Labels = 10

  private def rng(table: Int, id: Long): SplittableRandom =
    new SplittableRandom(0x9E3779B97F4A7C15L * (table + 1) ^ (id * 0xBF58476D1CE4E5B9L + 42))
  private def pick[T](r: SplittableRandom, v: Vector[T]): T = v(r.nextInt(v.size))
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private val Day = 86400L * 1000000L
  /** Microseconds since the epoch of a UTC calendar day. */
  private def micros(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * Day
  private def ntz(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC)

  private val Centers: Array[Array[Double]] = Array.tabulate(Labels) { l =>
    val r = rng(99, l)
    Array.fill(EmbDim)(r.nextDouble() * 2 - 1)
  }

  private def docText(id: Long): String = {
    val r = rng(11, id)
    (0 until 8 + r.nextInt(90)).map(_ => pick(r, Words)).mkString(" ")
  }

  private case class Table(name: String, rows: Long, schema: StructType,
                           row: Long => Row)

  private def f(n: String, t: DataType) = StructField(n, t)

  private val tables: Seq[Table] = Seq(
    Table("region", 5, StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      i => Row(i.toInt, Regions(i.toInt))),
    Table("nation", 25, StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      i => Row(i.toInt, s"NATION_$i", (i % 5).toInt)),
    Table("supplier", 1000, StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      { i => val r = rng(3, i)
        Row(i, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99)) }),
    Table("customer", 15000, StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      { i => val r = rng(4, i)
        Row(i, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99), pick(r, Segments)) }),
    Table("part", 20000, StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      { i => val r = rng(5, i)
        Row(i, s"${pick(r, Adjectives)} ${pick(r, Nouns)}", s"Brand#${1 + r.nextInt(25)}",
          pick(r, Types), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0) }),
    Table("orders", 150000, StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      { i => val r = rng(6, i)
        Row(i, r.nextLong(15000), pick(r, Vector("F", "O", "P")), money(r, 1000, 500000),
          ntz(micros(1995, 1, 1) + r.nextLong(2404) * Day), pick(r, Priorities)) }),
    Table("lineitem", 600000, StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      { i => val r = rng(7, i)
        Row(r.nextLong(150000), r.nextLong(20000), r.nextLong(1000), 1 + r.nextInt(7),
          (1 + r.nextInt(50)).toDouble, money(r, 900, 105000), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, pick(r, Vector("A", "N", "R")), pick(r, Vector("F", "O")),
          ntz(micros(1995, 1, 2) + r.nextLong(2498) * Day)) }),
    Table("events", 100000, StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      { i => val r = rng(8, i)
        Row(i, ntz(micros(2024, 1, 1) + i * 25920000L + r.nextLong(25920000L)),
          r.nextLong(1500), pick(r, EventTypes),
          math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""") }),
    Table("documents", 5000, StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      { i => val r = rng(9, i)
        // about 5% near-duplicates (an earlier text plus " dup") and a few
        // exact copies, like the testdata's planted duplicates
        val k = r.nextInt(1000)
        val text =
          if (i > 0 && k < 50) docText(r.nextLong(i)) + " dup"
          else if (i > 0 && k < 52) docText(r.nextLong(i))
          else docText(i)
        Row(i, text, pick(r, Langs), s"src${r.nextInt(20)}", text.length.toLong) }),
    Table("embeddings", 2000, StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      { i => val r = rng(10, i)
        val label = r.nextInt(Labels)
        val v = Array.tabulate(EmbDim)(k => Centers(label)(k) + (r.nextDouble() * 2 - 1) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i, v.map(x => (x / norm).toFloat).toSeq, label) })
  )

  val tableNames: Seq[String] = tables.map(_.name)

  /** Write every table under `dir` unless a complete copy of this version
    * is already there. Returns the seconds spent generating (0 when the
    * files were already there). */
  def ensure(spark: SparkSession, dir: Path): Double = {
    val marker = dir.resolve("_GENERATED")
    if (Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8").trim == Version) return 0.0
    val t0 = System.nanoTime()
    Files.createDirectories(dir)
    for (t <- tables) {
      val rdd = spark.sparkContext.range(0L, t.rows, 1L, 4).map(t.row)
      spark.createDataFrame(rdd, t.schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"${t.name}.parquet").toString)
    }
    Files.write(marker, Version.getBytes("UTF-8"))
    (System.nanoTime() - t0) / 1e9
  }
}
