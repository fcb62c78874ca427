package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: build the workload's inputs several
  * times (timing each), warm up, measure a closed- or open-loop window,
  * check the outputs, and write the raw record as JSON for the launcher
  * (`perfbench/run.py`), which turns it into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *             --setup-reps K --root DIR --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val root = new File(opt("root"))
    val spark = graft.Engine.builder("perfbench", Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "spark-warehouse").getPath)
      .getOrCreate()
    graft.Engine.attach(spark)
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, opt, cores, root)
    finally spark.stop()
  }

  private var mark = System.nanoTime()
  /** Phase timings on stderr, for sizing a run against its time budget. */
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $name%s: ${(now - mark) / 1e9}%.2f s")
    mark = now
  }

  private def run(spark: SparkSession, opt: Map[String, String], cores: Int, root: File): Unit = {
    phase("session")
    val probeS = HostProbe.run(cores)
    val rec = new Recorder(spark, traceRun = opt("trace") == "1")
    val ctx = new Ctx(spark, opt("seed").toLong, cores, rec, root)
    val w = Workload(opt("workload"), ctx)
    try {
      w.prepare(new File(root, "inputs"))
      phase("prepare")
      var prev: Option[File] = None
      val setupS = (1 to opt("setup-reps").toInt).map { i =>
        val dir = new File(root, s"setup-$i")
        val t = System.nanoTime()
        w.setup(dir)
        val s = (System.nanoTime() - t) / 1e9
        prev.foreach(Data.deleteRecursively)
        prev = Some(dir)
        s
      }
      phase("setup")
      w.warmup()
      phase("warmup")
      val serves = graft.queries.StageCache.serveCount
      rec.startWindow()
      w.measure(opt("seconds").toDouble)
      rec.endWindow()
      phase("window")
      val checks = w.check()
      phase("check")
      val out = rec.raw ++ Map(
        "workload" -> opt("workload"), "cores" -> cores,
        "host_probe_s" -> probeS, "setup_s" -> setupS,
        "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
        "detail" -> w.detail(),
        "stage_cache_serves" -> (graft.queries.StageCache.serveCount - serves))
      Data.write(new File(opt("out")), Json(out))
    } finally w.close()
  }
}
