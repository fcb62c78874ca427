package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the driver-generated TPC-H-ish test schema
  * (`/root/repo/TESTDATA.md`). One parquet directory per table per scale
  * dir; reads are plain `spark.read.parquet` so Catalyst keeps full
  * pushdown (PushedFilters / ReadSchema pruning) into the scan.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  /** Schema-adaptive events read. Test-data generators have shipped `ts`
    * in three physical layouts over time: parquet TIMESTAMP(NANOS)
    * (which Spark's reader rejects — [PARQUET_TYPE_ILLEGAL] — unless the
    * legacy nanos-as-long conf maps it to LongType), TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (read as TIMESTAMP_NTZ), and UTC-adjusted
    * TIMESTAMP(MICROS) (read as TIMESTAMP). Rather than hard-code one
    * layout, branch on the scanned field type and normalize every layout
    * to a session-tz `TimestampType` column — the session tz is pinned to
    * UTC, so the NTZ→LTZ cast is a lossless reinterpretation and all
    * three layouts yield byte-identical rows downstream.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // A nanos-annotated file fails schema inference at read() time; only
    // then re-read under the legacy conf. The retry runs on a DEDICATED
    // child session (Engine.isolated: same SparkContext, isolated SQL
    // conf, time zone carried over): a transient set/unset on `s`
    // would race any concurrent analysis in the same session — another
    // events() retry could observe the unset window and fail, or an
    // unrelated nanos parquet could silently infer LongType. The conf
    // only matters while read() bakes the schema into the
    // LogicalRelation, so the returned frame composes freely with
    // `s`-session frames afterwards and nothing ever mutates `s`.
    val raw =
      try t(s, d, "events")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition != null &&
              e.getCondition.startsWith("PARQUET_TYPE_ILLEGAL") =>
          t(graft.Engine.isolated(s, "spark.sql.legacy.parquet.nanosAsLong" -> "true"),
            d, "events")
      }
    val ts = raw.schema("ts").dataType match {
      // integer div: a double `/` would round (epoch-nanos exceed a
      // double's 53-bit mantissa → ±1µs errors)
      case LongType         => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other " +
            "(expected int64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  /** documents/embeddings ship as ONE small parquet file each (single
    * row-group → a single input split), so expensive per-row expressions
    * (minhash banding, simhash, SRP signatures) would serialize on one
    * core. Repartitioning to the session's parallelism costs a shuffle of
    * a few MB and buys 32× on the CPU-bound operators. At 100 TB the
    * source arrives in thousands of splits and this becomes a no-op
    * choice — a production reader would drop it.
    */
  def documents(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").repartition(s.sparkContext.defaultParallelism)
  def embeddings(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").repartition(s.sparkContext.defaultParallelism)
}
