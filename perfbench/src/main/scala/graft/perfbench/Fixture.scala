package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the fixture tables graft reads: the TPC-H-ish star
  * schema, `events`, `documents` and `embeddings`, with the column names and
  * types of the repository's parquet fixtures (FIXTURES.md §B). Every table
  * is built on the driver from one `Random(seed)` per table, so the same seed
  * always yields the same rows, and written as one parquet file
  * `<table>.parquet`, the layout `Readers.fixture`, `ParquetTarget` and the
  * staged stream fixtures read.
  *
  * Unlike the original fixtures, `lineitem` keys are unique: each order gets
  * line numbers 1..n. Drift ground truth is stated per primary key, so the
  * keys have to identify one row.
  */
object Fixture {

  /** Row counts of one generated fixture. */
  final case class Size(customers: Int, suppliers: Int, parts: Int, orders: Int,
                        events: Int, documents: Int, embeddings: Int)

  /** The tables a verification target holds: the composite-key fact table
    * and one dimension table (a verify op's cost is mostly per table, not per
    * row, so two tables keep a run short).
    */
  val verifyTables: Seq[String] = Seq("customer", "lineitem")

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private val Langs = IndexedSeq("en", "en", "en", "en", "de", "es", "fr", "zh")
  private val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartAdj = IndexedSeq("small", "red", "blue", "hot", "big", "cold", "green", "old")
  private val PartNoun = IndexedSeq("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")
  private val PartTypes = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
  private val DayMicros = 86400L * 1000000L
  private val OrderEpochDay = 9131L // 1995-01-01

  /** A table's schema and rows, before it is written. */
  final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  /** Document texts: 10..100 vocabulary tokens, distinct across the corpus,
    * with (when `nearDups`) every 20th document an earlier document plus a
    * trailing `dup` token (the fixture's near-duplicate shape).
    */
  def documentTexts(r: Random, n: Int, nearDups: Boolean = true): IndexedSeq[String] = {
    val seen = mutable.HashSet.empty[String]
    val out = mutable.ArrayBuffer.empty[String]
    while (out.size < n) {
      val t =
        if (nearDups && out.size % 20 == 19) out(r.nextInt(out.size)) + " dup"
        else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      if (seen.add(t)) out += t
    }
    out.toIndexedSeq
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documentRow(id: Long, text: String, lang: String, source: String): Row =
    Row(id, text, lang, source, text.length.toLong)

  def tables(seed: Long, size: Size): Seq[Table] = {
    def rng(table: String) = new Random(seed * 1000003L + table.hashCode)
    val region = Table("region", StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Row(i, n) })
    val nation = Table("nation", StructType(Seq(
        StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val supplier = {
      val r = rng("supplier")
      Table("supplier", StructType(Seq(
          StructField("s_suppkey", LongType), StructField("s_name", StringType),
          StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
        (0 until size.suppliers).map(i =>
          Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))))
    }
    val customer = {
      val r = rng("customer")
      Table("customer", StructType(Seq(
          StructField("c_custkey", LongType), StructField("c_name", StringType),
          StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
          StructField("c_mktsegment", StringType))),
        (0 until size.customers).map(i =>
          Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
            Segments(r.nextInt(Segments.size)))))
    }
    val part = {
      val r = rng("part")
      Table("part", StructType(Seq(
          StructField("p_partkey", LongType), StructField("p_name", StringType),
          StructField("p_brand", StringType), StructField("p_type", StringType),
          StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
        (0 until size.parts).map(i =>
          Row(i.toLong, s"${PartAdj(r.nextInt(8))} ${PartNoun(r.nextInt(8))}",
            s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.size)),
            1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    }
    val (orders, lineitem) = {
      val r = rng("orders")
      val rl = rng("lineitem")
      val os = mutable.ArrayBuffer.empty[Row]
      val ls = mutable.ArrayBuffer.empty[Row]
      for (o <- 0 until size.orders) {
        val day = OrderEpochDay + r.nextInt(2404)
        os += Row(o.toLong, r.nextInt(size.customers).toLong, "FOP".charAt(r.nextInt(3)).toString,
          money(r, 1000.0, 500000.0), ts(day * DayMicros), Priorities(r.nextInt(5)))
        for (ln <- 1 to 1 + rl.nextInt(7))
          ls += Row(o.toLong, rl.nextInt(size.parts).toLong, rl.nextInt(size.suppliers).toLong,
            ln, (1 + rl.nextInt(50)).toDouble, money(rl, 900.0, 105000.0),
            rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
            "ANR".charAt(rl.nextInt(3)).toString, "FO".charAt(rl.nextInt(2)).toString,
            ts((day + 1 + rl.nextInt(121)) * DayMicros))
      }
      (Table("orders", StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
          StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
        os.toIndexedSeq),
       Table("lineitem", StructType(Seq(
          StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
          StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
          StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
          StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
          StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
          StructField("l_shipdate", TimestampType))),
        ls.toIndexedSeq))
    }
    val events = {
      val r = rng("events")
      val t0 = 19723L * DayMicros // 2024-01-01
      val step = 30L * DayMicros / math.max(1, size.events)
      var t = t0
      Table("events", StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType))),
        (0 until size.events).map { i =>
          t += 1 + (r.nextDouble() * 2 * step).toLong
          Row(i.toLong, ts(t), r.nextInt(1500).toLong, EventTypes(r.nextInt(5)),
            math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
            s"""{"k": ${r.nextInt(100)}}""")
        })
    }
    val documents = {
      val r = rng("documents")
      Table("documents", documentsSchema,
        documentTexts(r, size.documents).zipWithIndex.map { case (text, i) =>
          documentRow(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}")
        })
    }
    val embeddings = {
      val r = rng("embeddings")
      Table("embeddings", StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType, containsNull = false)),
          StructField("label", IntegerType))),
        (0 until size.embeddings).map { i =>
          val v = Array.fill(64)(r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        })
    }
    Seq(region, nation, supplier, customer, part, orders, lineitem, events, documents, embeddings)
  }

  /** Write `t` as the single parquet file `<dir>/<table>.parquet`. */
  def write(spark: SparkSession, dir: String, t: Table): Unit = {
    import java.nio.file.{Files => JFiles, Paths}
    val staging = s"$dir/${t.name}.parquet.parts"
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, t.rows.size / 5000))
    spark.createDataFrame(spark.sparkContext.parallelize(t.rows, slices), t.schema)
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    JFiles.move(part.toPath, Paths.get(s"$dir/${t.name}.parquet"))
    Files.deleteTree(staging)
  }

  /** Write tables concurrently (each write is a small single-task job). */
  def writeAll(spark: SparkSession, dir: String, tables: Seq[Table]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.traverse(tables)(t => Future(write(spark, dir, t))), Duration.Inf)
  }

  /** Input size of a generated directory: rows per table and bytes on disk. */
  def bytesOnDisk(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length()
    walk(new java.io.File(dir))
  }
}
