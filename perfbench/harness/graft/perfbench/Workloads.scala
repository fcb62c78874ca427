package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.ingest.{Preview, Readers, Sniffer}
import graft.operators.{Corpus, Dedup}
import graft.sink.{Save, Snapshots}
import graft.streaming.Streams

/** What a workload sees of its run. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int, val rec: Recorder,
    val root: File) {
  def tracing: Boolean = rec.tracing
}

/** One closed-loop op: its kind (the metric family it feeds), what it ran
  * on (an upload, a query) for the report lines, and its body, which
  * returns the items it processed (rows, docs, queries).
  */
final case class Op(kind: String, tag: String, body: () => Long)

/** One check of a run's outputs: its name, whether it held, and what was
  * compared.
  */
final case class Check(name: String, ok: Boolean, detail: String)

abstract class Workload(val ctx: Ctx) {
  import ctx._

  /** Make the inputs the set-up starts from (once per run, untimed). */
  def prepare(dir: File): Unit = ()

  /** Build this run's inputs and any published state under `dir`. Runs
    * several times per run; each call replaces the previous set-up.
    */
  def setup(dir: File): Unit

  /** The ops of one closed-loop round, in seeded order. */
  def round(r: Int): Seq[Op]

  /** Measure whole rounds only (when every round must hold the same op
    * mix): a round starts only if one more round of the last one's length
    * still ends in the window, and the first always runs. Otherwise the
    * window closes after the op under way.
    */
  def wholeRounds: Boolean = false

  /** Closed loop until `seconds` have passed. A traced run traces every
    * other round and runs at least two, so it always times both kinds.
    */
  def measure(seconds: Double): Unit = {
    val end = rec.nowMs + seconds * 1000
    val minRounds = if (rec.traceRun) 2 else 1
    var r = 0
    var lastRound = 0.0
    def more = r < minRounds || rec.nowMs < end && (!wholeRounds || rec.nowMs + lastRound <= end)
    while (more) {
      val start = rec.nowMs
      val whole = wholeRounds || r < minRounds
      rec.tracing = rec.traceRun && r % 2 == 1
      round(r).foreach { o => if (whole || rec.nowMs < end) rec.op(o.kind, o.tag)(o.body()) }
      lastRound = rec.nowMs - start
      r += 1
    }
    rec.tracing = false
  }

  /** One unmeasured round, so JIT and codegen caches are warm. */
  def warmup(): Unit = round(-1).foreach(_.body())

  /** Output checks, run after the measured window (never timed). */
  def check(): Seq[Check]

  /** Workload-specific raw figures for the report. */
  def detail(): Map[String, Any] = Map.empty

  def close(): Unit = ()

  protected def rnd(r: Int) = new scala.util.Random(seed * 1000003L + r)

  /** Run `f` over `items` on `cores` driver threads (unmeasured work). */
  protected def parallel[A](items: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try items.map(a => pool.submit(new Runnable { def run(): Unit = f(a) })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Force `df` fully: the noop sink evaluates every column (a count()
    * would let column pruning skip projection work).
    */
  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cache `df` and build the cache, so the traced run can time each
    * piece of a lazy pipeline in its own span.
    */
  protected def materialize(df: DataFrame): DataFrame = {
    val p = df.persist()
    noop(p)
    p
  }

  /** Order-independent checksum: sum of xxhash64 over the columns. */
  protected def checksum(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
        .cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))).collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  protected def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE PRECISION"
    case TimestampNTZType | TimestampType => "TIMESTAMP"
    case _ => "TEXT"
  }

  protected def dirSize(d: File): (Long, Long) = {
    val files = Option(d.listFiles()).toSeq.flatten
    files.foldLeft((0L, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = dirSize(f); (n + n2, b + b2) }
      else if (f.getName.startsWith("part-")) (n + 1, b + f.length)
      else (n, b)
    }
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest_publish" => new IngestPublish(ctx)
    case "corpus_curate" => new CorpusCurate(ctx)
    case "analyst_queries" => new AnalystQueries(ctx)
    case "stream_sessionize" => new StreamSessionize(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

// ---------------------------------------------------------------------
// ingest_publish: upload → preview → publish, the reference's traffic
// ---------------------------------------------------------------------

final class IngestPublish(ctx: Ctx) extends Workload(ctx) {
  import ctx._

  val Sf = 0.003

  final case class Upload(name: String, file: File, columns: Seq[String],
      types: Map[String, String], rows: Long)

  private var uploads = Seq.empty[Upload]
  private var warehouse: File = _
  private val published = ArrayBuffer.empty[(Upload, String, Seq[String])]
  /** (upload, headers, row count) of every preview, checked after the window. */
  private val previews = ArrayBuffer.empty[(Upload, Seq[String], Int)]

  /** The source tables, regenerated on demand (same seed, same rows). */
  private def source(t: String): DataFrame = Data.tables(spark, seed, Sf)(t)

  def setup(dir: File): Unit = {
    val up = new File(dir, "uploads")
    up.mkdirs()
    val files = Seq(
      ("lineitem", "lineitem.csv"), ("orders", "orders.tsv"), ("customer", "customer.md"),
      ("part", "part.xlsx"), ("supplier", "supplier.mdb"))
    val n = Data.sizes(Sf)
    val rows = Map("lineitem" -> n.lineitem, "orders" -> n.orders, "customer" -> n.customer,
      "part" -> n.part, "supplier" -> n.supplier)
    uploads = files.map { case (t, f) =>
      val df = source(t)
      val file = new File(up, f)
      f.split('.').last match {
        case "csv" => Data.delimited(spark, df, ",", file)
        case "tsv" => Data.delimited(spark, df, "\t", file)
        case "md" => Data.markdown(spark, df, seed, file)
        case "xlsx" => Data.xlsx(df, file)
        case "mdb" => Data.mdb(df, file)
      }
      Upload(t, file, df.columns.toSeq,
        df.schema.fields.map(f => f.name -> sqlType(f.dataType)).toMap, rows(t))
    }
    warehouse = new File(dir, "warehouse")
    warehouse.mkdirs()
  }

  private def preview(u: Upload): Long = {
    if (tracing && Sniffer.formatOf(u.file.getPath) == Sniffer.Delimited)
      rec.span("ingest", "Sniffer.sniff")(Sniffer.sniff(spark, u.file.getPath))
    val res = rec.span("ingest", "Preview.preview")(Preview.preview(spark, u.file.getPath))
    previews += ((u, res.headers, res.rows.size))
    res.rows.size
  }

  /** Publish a seeded subset (all but two columns) with declared types. */
  private def publish(u: Upload, r: Int, i: Int): Long = {
    val drop = rnd(r * 31 + i).shuffle(u.columns).take(2).toSet
    val cols = u.columns.filterNot(drop)
    val table = s"${u.name}_${published.size}"
    val out =
      if (!tracing) Save.ingest(spark, u.file.getPath, warehouse.getPath, table, cols, u.types)
      else {
        val df = rec.span("ingest", "Readers.read")(materialize(Readers.read(spark, u.file.getPath)))
        try rec.span("sink", "Save.save")(Save.save(spark, df, warehouse.getPath, table, cols, u.types))
        finally df.unpersist()
      }
    published += ((u, out, cols))
    u.rows
  }

  /** Every upload previewed and published once, unmeasured: the first
    * call per format compiles its reader's plans.
    */
  override def warmup(): Unit = {
    uploads.foreach(preview)
    uploads.zipWithIndex.foreach { case (u, i) => publish(u, -1, i) }
  }

  /** Uploads are drawn uniformly: each upload twice, in seeded order. Each
    * op previews its upload, and one of each upload's two ops, chosen by
    * the seed, then publishes it. So every round holds the same mix: ten
    * previews and five publishes, one of each format.
    */
  def round(r: Int): Seq[Op] =
    rnd(r).shuffle(uploads.flatMap(u => Seq(u -> true, u -> false))).zipWithIndex.flatMap {
      case ((u, pub), i) =>
        Op("preview", u.name, () => preview(u)) +:
          (if (pub) Seq(Op("publish", u.name, () => publish(u, r, i))) else Nil)
    }

  override def wholeRounds: Boolean = true

  /** Each upload's last published table holds the source's rows: same
    * count, and per published column the same checksum as the source
    * column cast to the declared type.
    */
  def check(): Seq[Check] = {
    val last = published.groupBy(_._1.name).map(_._2.last).toSeq.sortBy(_._1.name)
    val tables = last.map { case (u, path, cols) =>
      val pub = spark.read.parquet(path)
      val src = source(u.name)
      val got = columnSums(pub, cols)
      val want = columnSums(src.select(cols.map(c => col(c).cast(pub.schema(c).dataType).as(c)): _*),
        cols)
      val bad = cols.indices.filter(i => got(i + 1) != want(i + 1)).map(cols)
      Check(s"publish_${u.name}", got(0) == u.rows && want(0) == u.rows && bad.isEmpty,
        s"rows ${got(0)} of ${u.rows}; mismatched columns: ${bad.mkString(",")}")
    }
    val badPreviews = previews.filter { case (u, headers, n) => headers != u.columns || n != 10 }
      .map { case (u, headers, n) => s"${u.name}: headers ${headers.mkString(",")} rows $n" }
    Check("previews", badPreviews.isEmpty, s"${previews.size} previews ${badPreviews.take(3)}") +:
      Check("published_all_uploads", last.size == uploads.size, s"${last.size} uploads published") +:
      tables
  }

  /** Row count, then one order-independent checksum per column, in one
    * aggregation.
    */
  private def columnSums(df: DataFrame, cols: Seq[String]): Seq[BigDecimal] = {
    val r = df.agg(count(lit(1)).cast(DecimalType(38, 0)),
      cols.map(c => coalesce(sum(xxhash64(col(c)).cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0)))): _*).collect()(0)
    (0 to cols.size).map(i => BigDecimal(r.getDecimal(i)))
  }

  override def detail(): Map[String, Any] = {
    val (files, bytes) = dirSize(warehouse)
    val inputBytes = published.map(_._1.file.length).sum
    Map("files_written" -> files, "bytes_written" -> bytes,
      "bytes_per_input_byte" -> (if (inputBytes > 0) bytes.toDouble / inputBytes else 0.0),
      "upload_rows" -> uploads.map(u => u.name -> u.rows).toMap,
      "upload_bytes" -> uploads.map(u => u.name -> u.file.length).toMap)
  }
}

// ---------------------------------------------------------------------
// corpus_curate: clean → exact dedup → near dup → publish a snapshot
// ---------------------------------------------------------------------

final class CorpusCurate(ctx: Ctx) extends Workload(ctx) {
  import ctx._

  val NDocs = 500
  val KeepVersions = 3

  private var docs = Seq.empty[Data.Doc]
  private var docsPath: String = _
  private var warehouse: String = _
  private var candidates = 0L
  private var verified = 0L

  def setup(dir: File): Unit = {
    import spark.implicits._
    docs = Data.documents(seed, NDocs)
    docsPath = new File(dir, "documents.parquet").getPath
    docs.map(d => (d.id, d.text)).toDF("id", "text").repartition(cores).write.parquet(docsPath)
    warehouse = new File(dir, "warehouse").getPath
  }

  private def curate(): Long = {
    val pages = spark.read.parquet(docsPath).repartition(spark.sparkContext.defaultParallelism)
    def kept(df: DataFrame) = df.filter(col("kept")).select(col("id"), col("clean"))
    val survivors =
      if (!tracing) {
        val exact = Dedup.exact(kept(Corpus.curatePages(pages, "text", "id")), "clean", "id")
        Dedup.nearDupSurvivors(exact, Dedup.minhashNearDups(exact, "clean", "id"), "id")
      } else {
        val curated = rec.span("operators", "Corpus.curatePages")(
          materialize(kept(Corpus.curatePages(pages, "text", "id"))))
        val exact = rec.span("operators", "Dedup.exact")(
          materialize(Dedup.exact(curated, "clean", "id")))
        val cands = rec.span("operators", "Dedup.minhashCandidates")(
          materialize(Dedup.minhashCandidates(exact, "clean", "id")))
        val pairs = rec.span("operators", "Dedup.verifyJaccard")(
          materialize(Dedup.verifyJaccard(cands, exact, "clean", "id", 0.5)))
        candidates += cands.count()
        verified += pairs.count()
        val out = rec.span("operators", "Dedup.nearDupSurvivors")(
          materialize(Dedup.nearDupSurvivors(exact, pairs, "id")))
        Seq(curated, exact, cands, pairs).foreach(_.unpersist())
        out
      }
    rec.span("sink", "Snapshots.publish") {
      Snapshots.publish(spark, warehouse, "curated", survivors)
      Snapshots.keepLast(spark, warehouse, "curated", KeepVersions)
    }
    survivors.unpersist()
    docs.size
  }

  def round(r: Int): Seq[Op] = Seq(Op("curate", "", () => curate()))

  /** The published survivors are exactly one page per kept cluster — its
    * smallest id — with the cleaned body the construction planted.
    */
  def check(): Seq[Check] = {
    import spark.implicits._
    val expected = docs.filterNot(_.dropped).groupBy(_.cluster).values.map(_.minBy(_.id))
      .toSeq.map(d => (d.id, d.clean)).toDF("id", "clean")
    val got = checksum(Snapshots.current(spark, warehouse, "curated").select("id", "clean"))
    val want = checksum(expected)
    Seq(Check("survivors", got == want && got._1 > 0,
      s"survivors ${got._1} (expected ${want._1}); checksum ${got._2} (expected ${want._2})"))
  }

  override def detail(): Map[String, Any] = Map(
    "candidate_pairs" -> candidates, "verified_pairs" -> verified,
    "versions_live" -> Snapshots.versions(spark, warehouse, "curated").size,
    "docs" -> docs.size)
}

// ---------------------------------------------------------------------
// analyst_queries: the relational gates plus reads of a published table
// ---------------------------------------------------------------------

final class AnalystQueries(ctx: Ctx) extends Workload(ctx) {
  import ctx._

  val Sf = 0.003
  /** Scale of the `lineitem` upload the set-up publishes. */
  val UploadSf = 0.001

  private var dataDir: String = _
  private var csv: File = _
  private var publishedPath: String = _

  private def lineitem = Data.tables(spark, seed, UploadSf)("lineitem")

  /** The gate tables and a smaller `lineitem` rendered as the CSV upload,
    * written once; the set-up publishes the upload.
    */
  override def prepare(dir: File): Unit = {
    val data = new File(dir, "data")
    parallel(Data.tables(spark, seed, Sf).toSeq) { case (name, df) =>
      df.write.parquet(new File(data, s"$name.parquet").getPath)
    }
    dataDir = data.getPath
    csv = new File(dir, "lineitem.csv")
    Data.delimited(spark, lineitem, ",", csv)
  }

  /** Publish the CSV upload with `Save.ingest`. */
  def setup(dir: File): Unit = {
    val li = lineitem
    publishedPath = Save.ingest(spark, csv.getPath, new File(dir, "warehouse").getPath,
      "lineitem_pub", li.columns.toSeq,
      li.schema.fields.map(f => f.name -> sqlType(f.dataType)).toMap)
  }

  private def dec(c: String) = col(c).cast(DecimalType(12, 2))

  /** Reads of the table `Save.ingest` published: an aggregate, a filter,
    * a top-k and a yearly rollup. `ANALYST_ORACLE` in `oracle.py` holds
    * their DuckDB twins.
    */
  private val extra: Map[String, SparkSession => DataFrame] = {
    def pub(s: SparkSession) = s.read.parquet(publishedPath)
    Map(
      "x1_published_flag_totals" -> (s => pub(s).groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum(dec("l_extendedprice")).cast("double").as("total"))
        .orderBy("l_returnflag", "l_linestatus")),
      "x2_published_small_discounted" -> (s => pub(s)
        .filter(col("l_discount") > 0.05 && col("l_quantity") < 5)
        .select("id", "l_orderkey", "l_quantity", "l_discount").orderBy("id")),
      "x3_published_top_lines" -> (s => pub(s)
        .select("id", "l_orderkey", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("id")).limit(20)),
      "x4_published_yearly_quantity" -> (s => pub(s)
        .groupBy(year(col("l_shipdate")).as("yr"))
        .agg(count(lit(1)).as("n"), sum(dec("l_quantity")).cast("double").as("qty"))
        .orderBy("yr")))
  }

  private def query(name: String): DataFrame =
    graft.queries.Relational.all.get(name).map(_(spark, dataDir))
      .getOrElse(extra(name)(spark))

  /** Every other gate (the ten odd-numbered ones: a full round of all
    * twenty plus their cold warm-up does not fit a run's time budget) and
    * the four reads of the published table.
    */
  private def names = graft.queries.Relational.all.keys.toSeq.sorted.grouped(2).map(_.head).toSeq ++
    extra.keys.toSeq.sorted

  /** Every round runs every query once, so each holds the same mix. */
  override def wholeRounds: Boolean = true

  private def results = new File(root, "results")

  /** Each query once, four at a time, writing its result for the output
    * check: compiles every plan's generated code without a whole serial
    * round.
    */
  override def warmup(): Unit =
    parallel(names)(n => query(n).write.parquet(new File(results, n).getPath))

  /** Spark analyzes a DataFrame as it is built, before the action whose
    * planning the listener sees, so building the query is timed as its
    * analysis phase.
    */
  def round(r: Int): Seq[Op] =
    rnd(r).shuffle(names).map { n =>
      Op("query", n, () => {
        rec.span("queries", n) {
          val t = rec.nowMs
          val df = query(n)
          rec.planPhase("analysis", rec.nowMs - t)
          noop(df)
        }
        1L
      })
    }

  /** The warm-up wrote every query's result; the launcher compares them
    * with DuckDB running the oracle SQL, which rides along here.
    */
  def check(): Seq[Check] = {
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Data.write(new File(results, "oracle.json"), Json(oracle))
    Data.write(new File(results, "data.json"),
      Json(Map("data" -> dataDir, "published" -> publishedPath, "queries" -> names)))
    val missing = names.filterNot(n => oracle.contains(n) || extra.contains(n))
    Seq(Check("oracle_sql_present", missing.isEmpty, s"no oracle SQL for ${missing.mkString(",")}"))
  }
}

// ---------------------------------------------------------------------
// stream_sessionize: rate → sessionize → per-batch snapshot publish
// ---------------------------------------------------------------------

final class StreamSessionize(ctx: Ctx) extends Workload(ctx) {
  import ctx._

  val RowsPerBatch = 20000
  val UsersPerGeneration = 2000 // each generation spans two batches
  val AdvanceMs = 40000L // event time between batches, under the gap
  val GapMinutes = 1
  /** Event time of batch 0. Not 0: the stateful operator drops rows at
    * or before the watermark, which starts at 0.
    */
  val StartMs = 1704067200000L // 2024-01-01T00:00Z
  val Retain = 5

  private var query: StreamingQuery = _
  private var dir: File = _
  /** batch id -> (rows, content hash) of the version it published. */
  private val manifests = new java.util.concurrent.ConcurrentHashMap[Long, (Long, BigDecimal)]()
  private val batchSpan = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  @volatile private var stateRows = 0L

  /** Events for rate rows: user ids rotate by generation, values are
    * seeded. Shared by the stream and the batch reference, so both see
    * the same events.
    */
  private def events(rate: DataFrame): DataFrame = {
    val perGen = 2L * RowsPerBatch
    rate.select(
      col("value").as("event_id"), col("timestamp").as("ts"),
      (col("value") % UsersPerGeneration + col("value").divide(perGen).cast("long") *
        UsersPerGeneration).as("user_id"),
      lit("view").as("event_type"),
      pmod(xxhash64(lit(seed), col("value")), lit(97L)).cast("double").as("value"),
      lit("{}").as("props"))
  }

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (query != null && p.id == query.id && p.numInputRows > 0) {
        val end = rec.nowMs
        val start = end - p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
        if (rec.measuring && start >= rec.windowStart) {
          rec.ops.synchronized {
            rec.ops += OpRecord(rec.ops.size, "batch", "", start, end, ok = true, p.numInputRows,
              traced = tracedBatch(p.batchId))
          }
          p.stateOperators.headOption.foreach(s => stateRows = math.max(stateRows, s.numRowsTotal))
          Option(batchSpan.get(p.batchId)).foreach(id =>
            rec.addSpan(Span(id, "streaming", "Streams.sessionize", -1, p.batchId.toInt, start, end)))
        }
      }
    }
  }
  spark.streams.addListener(progressListener)

  def setup(d: File): Unit = {
    import spark.implicits._
    stop()
    manifests.clear()
    dir = d
    val warehouse = new File(d, "warehouse").getPath
    val rate = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", RowsPerBatch).option("numPartitions", cores)
      .option("advanceMillisPerBatch", AdvanceMs).option("startTimestamp", StartMs).load()
    val sessions = Streams.sessionize(
      events(rate).withWatermark("ts", "0 seconds").as[Streams.Event],
      gapMs = GapMinutes * 60000L, timeout = GroupStateTimeout.EventTimeTimeout)
    query = Streams.foreachBatchSink(sessions.toDF(), { (batch, id) =>
      rec.tracing = tracedBatch(id)
      val spanId = if (rec.tracing) rec.reserveSpan() else -1
      if (rec.tracing) batchSpan.put(id, spanId)
      rec.within(spanId, id.toInt) {
        rec.span("sink", "Snapshots.publishBatch") {
          val v = Snapshots.publishBatch(batch.sparkSession, warehouse, "sessions", batch, id, Retain)
          val m = Snapshots.manifest(batch.sparkSession, warehouse, "sessions", v)
          val rows = """"rows":(\d+)""".r.findFirstMatchIn(m).get.group(1).toLong
          val hash = """"content_hash":(-?\d+)""".r.findFirstMatchIn(m).map(x => BigDecimal(x.group(1)))
          manifests.put(id, (rows, hash.getOrElse(BigDecimal(0))))
        }
      }
      ()
    }).option("checkpointLocation", new File(d, "checkpoint").getPath).start()
    while (manifests.isEmpty && query.isActive) Thread.sleep(10)
    query.exception.foreach(e => throw e)
  }

  def round(r: Int): Seq[Op] = Seq.empty

  /** A traced run traces every other batch of the window. */
  private def tracedBatch(id: Long): Boolean = rec.traceRun && rec.measuring && id % 2 == 1

  override def warmup(): Unit = {
    val target = manifests.size + 3
    while (manifests.size < target && query.isActive) Thread.sleep(10)
  }

  /** Open loop: the stream runs on its own thread; the window only
    * watches its progress events.
    */
  override def measure(seconds: Double): Unit = {
    Thread.sleep((seconds * 1000).toLong)
    stop()
    query.exception.foreach(e => throw e)
  }

  private def stop(): Unit = if (query != null && query.isActive) {
    query.stop()
    query.awaitTermination()
  }

  /** Every published batch equals the batch reference: the sessions
    * `Streams.sessionizeBatch` finds over the same events, restricted to
    * those the event-time watermark had closed by the last batch.
    */
  def check(): Seq[Check] = {
    import scala.jdk.CollectionConverters._
    val ids = manifests.keySet.asScala.toSeq.map(_.toLong).sorted
    val last = ids.lastOption.getOrElse(-1L)
    val contiguous = ids == (0L to last)
    // batch b carries rate offsets [b*R, (b+1)*R) stamped b*advance; the
    // watermark in force during batch b is the previous batch's stamp
    val rate = spark.range((last + 1) * RowsPerBatch).select(col("id").as("value"),
      timestamp_millis(col("id").divide(RowsPerBatch).cast("long") * AdvanceMs + StartMs)
        .as("timestamp"))
    val watermarkMs = StartMs + (last - 1) * AdvanceMs
    val expected = Streams.sessionizeBatch(events(rate), GapMinutes)
      .filter(unix_millis(col("session_end")) + GapMinutes * 60000L < watermarkMs)
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
    val want = checksum(expected)
    val got = ids.map(manifests.get).foldLeft((0L, BigDecimal(0))) {
      case ((n, h), (rows, hash)) => (n + rows, h + hash)
    }
    Seq(Check("batches_contiguous", contiguous && last >= 3, s"batches 0..$last: ${ids.size}"),
      Check("sessions_match_batch", got == want && got._1 > 0,
        s"sessions ${got._1} (expected ${want._1}); hash ${got._2} (expected ${want._2})"))
  }

  override def detail(): Map[String, Any] = Map(
    "state_rows" -> stateRows,
    "versions_live" -> Snapshots.versions(spark, new File(dir, "warehouse").getPath, "sessions").size)

  override def close(): Unit = stop()
}
