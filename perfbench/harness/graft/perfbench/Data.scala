package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, column salt,
  * row id), so the same seed gives the same tables at any parallelism,
  * and row counts depend on the scale factor only — never on the seed —
  * so the work per run is the same for every seed.
  */
object Data {

  /** Uniform integer in [0, m) for row `id`. */
  def u(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(m))

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(seed, salt, values.size) + 1).cast("int"))

  /** 2-decimal money value in [lo, lo + span) cents, as a double. */
  private def money(seed: Long, salt: Int, loCents: Long, spanCents: Long): Column =
    ((lit(loCents) + u(seed, salt, spanCents)) / 100.0).as("m")

  /** A day in [1995-01-01, +days) as a TIMESTAMP_NTZ at midnight. */
  private def day(seed: Long, salt: Int, days: Int): Column =
    date_add(lit("1995-01-01").cast("date"), u(seed, salt, days).cast("int"))
      .cast("timestamp_ntz")

  final case class Sizes(customer: Long, supplier: Long, part: Long, orders: Long,
      lineitem: Long, events: Long, users: Long)

  def sizes(sf: Double): Sizes = Sizes(
    customer = (150000 * sf).toLong, supplier = math.max(10L, (10000 * sf).toLong),
    part = (200000 * sf).toLong, orders = (1500000 * sf).toLong,
    lineitem = (6000000 * sf).toLong, events = (1000000 * sf).toLong,
    users = math.max(10L, (15000 * sf).toLong))

  /** The TPC-H-like tables the relational gates read, keyed by name. */
  def tables(spark: SparkSession, seed: Long, sf: Double): Map[String, DataFrame] = {
    val n = sizes(sf)
    def r(k: Long) = spark.range(k)
    val region = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = r(n.customer).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(seed, 11, 25).cast("int").as("c_nationkey"),
      money(seed, 12, -99999, 1099999).as("c_acctbal"),
      pick(seed, 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supplier = r(n.supplier).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(seed, 21, 25).cast("int").as("s_nationkey"),
      money(seed, 22, -99999, 1099999).as("s_acctbal"))
    val part = r(n.part).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(seed, 31, Seq("small", "red", "blue", "large", "green", "steel")),
        pick(seed, 32, Seq("ring", "widget", "bolt", "gear", "valve", "panel"))).as("p_name"),
      concat(lit("Brand#"), u(seed, 33, 25) + 1).as("p_brand"),
      pick(seed, 34, Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")).as("p_type"),
      (u(seed, 35, 50) + 1).cast("int").as("p_size"),
      ((lit(9000L) + col("id") % 1000) / 10.0).as("p_retailprice"))
    val orders = r(n.orders).select(col("id").as("o_orderkey"),
      u(seed, 41, n.customer).as("o_custkey"),
      pick(seed, 42, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 43, 100000, 49900000).as("o_totalprice"),
      day(seed, 44, 2404).as("o_orderdate"),
      pick(seed, 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = r(n.lineitem).select(u(seed, 51, n.orders).as("l_orderkey"),
      u(seed, 52, n.part).as("l_partkey"),
      u(seed, 53, n.supplier).as("l_suppkey"),
      (u(seed, 54, 7) + 1).cast("int").as("l_linenumber"),
      (u(seed, 55, 50) + 1).cast("double").as("l_quantity"),
      money(seed, 56, 90000, 9500000).as("l_extendedprice"),
      (u(seed, 57, 11) / 100.0).as("l_discount"),
      (u(seed, 58, 9) / 100.0).as("l_tax"),
      pick(seed, 59, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 60, Seq("F", "O")).as("l_linestatus"),
      day(seed, 61, 2404).as("l_shipdate"))
    val events = r(n.events).select(col("id").as("event_id"),
      // 2024-01-01T00:00Z plus up to 30 days, in microseconds
      timestamp_micros(lit(1704067200000000L) + u(seed, 71, 30L * 86400 * 1000000))
        .cast("timestamp_ntz").as("ts"),
      u(seed, 72, n.users).as("user_id"),
      pick(seed, 73, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      ((u(seed, 74, 49000) + 1) / 100.0).as("value"),
      concat(lit("{\"k\": "), u(seed, 75, 100), lit("}")).as("props"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events)
  }

  // ---- upload files -------------------------------------------------

  /** Render `lines` (already in order) as ONE text file at `path` — an
    * upload is a single file, not a directory of parts.
    */
  def writeSingleFile(lines: DataFrame, path: File): Unit = {
    val tmp = new File(path.getPath + ".parts")
    lines.coalesce(1).write.text(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.startsWith("part-")).get
    Files.move(part.toPath, path.toPath, StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(tmp)
  }

  private def asText(df: DataFrame): Seq[Column] = df.columns.toSeq.map(c => col(c).cast("string"))

  /** Delimited rendering: a header line, then one line per row. */
  def delimited(spark: SparkSession, df: DataFrame, delim: String, path: File): Unit = {
    import spark.implicits._
    val header = Seq(df.columns.mkString(delim)).toDF("value")
    writeSingleFile(header.union(df.select(concat_ws(delim, asText(df): _*).as("value"))), path)
  }

  /** Markdown-table rendering with the noise the reference tolerates: a
    * `---` separator row under the header and a blank line after a
    * seeded tenth of the rows.
    */
  def markdown(spark: SparkSession, df: DataFrame, seed: Long, path: File): Unit = {
    import spark.implicits._
    def row(cells: Seq[Column]) = concat(lit("| "), concat_ws(" | ", cells: _*), lit(" |"))
    val header = Seq(
      df.columns.mkString("| ", " | ", " |"),
      df.columns.map(_ => "---").mkString("| ", " | ", " |")).toDF("value")
    val body = df.withColumn("id", monotonically_increasing_id())
      .select(explode(
        when(u(seed, 81, 10) === 0, array(row(asText(df)), lit("")))
          .otherwise(array(row(asText(df))))).as("value"))
    writeSingleFile(header.union(body), path)
  }

  def rows(df: DataFrame): Seq[Seq[String]] =
    df.select(asText(df): _*).collect().toSeq.map(r => r.toSeq.map(v => String.valueOf(v)))

  def xlsx(df: DataFrame, path: File): Unit =
    graft.ingest.ExcelFixture.writeXlsx(path.getPath, df.columns.toSeq +: rows(df))

  def mdb(df: DataFrame, path: File): Unit = {
    import graft.ingest.MdbFixture._
    val types: Seq[ColType] = df.schema.fields.toSeq.map(_.dataType.typeName match {
      case "long" | "integer" => CLong
      case "double" => CDouble
      case _ => CText
    })
    writeMdb(path.getPath, "supplier", df.columns.toSeq.zip(types),
      rows(df).map(_.map(Option(_))))
  }

  // ---- documents ----------------------------------------------------

  /** A page of the curation corpus and what curation must make of it:
    * `clean` is the body the cleaning must leave, `cluster` the
    * near-duplicate cluster it belongs to (its smallest id survives), and
    * `dropped` marks a page the page rules must remove.
    */
  final case class Doc(id: Long, text: String, clean: String, cluster: Int, dropped: Boolean)

  private val stop = Array("the", "of", "and", "to", "with", "that", "be", "in", "is", "for")
  private val syllables = Array("ka", "ro", "mi", "ten", "sal", "vo", "pre", "dun", "li",
    "mar", "qua", "bel", "tor", "ne", "fi", "gos", "um", "ra", "pel", "shi", "wen", "do",
    "zan", "cor", "ta", "ver", "lo", "nis", "ba", "hu", "tre", "sem", "ol", "gri", "phe", "ax")
  private val messy = Array("short line", "Please enable JavaScript to view this page.",
    "Home > News > Archive", "Share this", "Log in or sign up", "cookie settings")

  /** The corpus: unique bodies, pages the page rules must drop (a
    * `lorem ipsum` or `{` plant), exact copies that differ only in
    * boilerplate lines (identical after cleaning), and near copies with
    * one character changed in one word (MinHash-similar). Every page
    * carries boilerplate lines the line rules strip. Ids are a seeded
    * permutation, so the surviving id of a cluster is wherever its
    * smallest id landed.
    */
  def documents(seed: Long, nDocs: Int): Seq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.fill(8000) {
      (0 until 1 + rnd.nextInt(3)).map(_ => syllables(rnd.nextInt(syllables.length))).mkString
    }
    // 6 lines of 9-14 words: past the quality rules' 50-word floor, and
    // each line opens with a stop word (the rules want at least two)
    def sentence(): String = {
      val words = (0 until 8 + rnd.nextInt(6)).map { _ =>
        if (rnd.nextInt(4) == 0) stop(rnd.nextInt(stop.length)) else vocab(rnd.nextInt(vocab.length))
      }
      (stop(rnd.nextInt(stop.length)) +: words).mkString(" ") + "."
    }
    def body(): Vector[String] = Vector.fill(6)(sentence())
    def page(lines: Seq[String], plant: Option[String]): String = {
      val top = messy(rnd.nextInt(messy.length))
      val bottom = messy(rnd.nextInt(messy.length))
      (Seq(top) ++ lines ++ plant.toSeq ++ Seq(bottom)).mkString("\n")
    }
    val ids = rnd.shuffle((0 until nDocs).map(_.toLong).toVector)
    val docs = ArrayBuffer.empty[Doc]
    var cluster = 0
    while (docs.size < nDocs) {
      val b = body()
      rnd.nextInt(10) match {
        case 0 => // dropped by the page rules
          val plant = if (rnd.nextBoolean()) "the filler reads lorem ipsum dolor sit amet."
            else "a template artifact { was left behind here."
          docs += Doc(ids(docs.size), page(b, Some(plant)), b.mkString("\n"), -1, dropped = true)
        case k =>
          val copies = if (k <= 3) 1 + rnd.nextInt(3) else 0
          docs += Doc(ids(docs.size), page(b, None), b.mkString("\n"), cluster, dropped = false)
          (0 until copies).foreach { _ =>
            if (docs.size < nDocs) {
              val lines =
                if (rnd.nextBoolean()) b // exact after cleaning
                else { // one character changed in one word of one line
                  val li = rnd.nextInt(b.size)
                  val ws = b(li).split(" ")
                  val wi = rnd.nextInt(ws.length - 1)
                  ws(wi) = ws(wi) + syllables(rnd.nextInt(syllables.length)).take(1)
                  b.updated(li, ws.mkString(" "))
                }
              docs += Doc(ids(docs.size), page(lines, None), lines.mkString("\n"), cluster,
                dropped = false)
            }
          }
          cluster += 1
      }
    }
    docs.toSeq
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def write(path: File, s: String): Unit =
    Files.write(path.toPath, s.getBytes(StandardCharsets.UTF_8))
}
