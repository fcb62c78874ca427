package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built: every entry point (Bench,
  * Verify, Demo, the tools, the test suites) and every isolated child
  * session comes from here.
  *
  * Knob rationale:
  *   - AQE (+ coalescePartitions + skewJoin) and files.maxPartitionBytes
  *     128m are Spark 4's defaults and are deliberately not restated;
  *     EngineSpec pins their effective values, so an upgrade that moves
  *     one fails a test instead of silently changing plans.
  *   - session timeZone UTC: date/timestamp semantics must not follow the
  *     host's zone.
  *   - UI off: every entry point is a batch/CLI JVM; a long-running
  *     caller can re-enable it on the returned builder.
  *   - shuffle.partitions: local() sizes it to the core count; on a real
  *     cluster callers pass total executor cores (AQE coalesces down).
  */
object Engine {

  def builder(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val withMaster = master.fold(b)(b.master)
    shufflePartitions.fold(withMaster)(n =>
      withMaster.config("spark.sql.shuffle.partitions", n.toString))
  }

  /** Local session sized to the host (tests/benchmarks/CLI), log level
    * WARN, SQL functions registered.
    * getOrCreate semantics: if a SparkSession already exists in this JVM
    * it is returned as-is (master/core settings are NOT re-applied) —
    * only runtime confs transfer. Attach-to-existing is intentional for
    * notebooks; for a guaranteed-fresh local session stop the old one
    * first (a stopped context is replaced, which is how Bench and Verify
    * recover from a query that kills theirs).
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(master = Some(s"local[$cores]"),
      shufflePartitions = Some(cores)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    attach(spark)
  }

  /** Attach the engine's SQL functions to any existing session. */
  def attach(spark: SparkSession): SparkSession = {
    plans.GraftFunctions.register(spark)
    spark
  }

  /** A child session of `parent` with its own SQL conf: same
    * SparkContext, cache manager and warehouse, but a `conf.set` on
    * either side is invisible to the other. Runtime-set confs do not
    * propagate to a new session (only builder-time SparkConf entries
    * do), so the two that change query semantics or shape — the
    * session time zone and the shuffle partition count — are carried
    * over, then `extraConf` is applied. Use it when a conf must hold
    * for one reader or one driver thread without leaking into
    * concurrent plans on `parent`. Temp views and SQL functions
    * registered on `parent` are not carried.
    */
  def isolated(parent: SparkSession, extraConf: (String, String)*): SparkSession = {
    val child = parent.newSession()
    Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions")
      .foreach(k => child.conf.set(k, parent.conf.get(k)))
    extraConf.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }
}
