package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared per-suite SparkSession (one JVM-wide session; suites reuse it
  * via getOrCreate — Spark local sessions are cheap to share, expensive
  * to churn).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // Engine.builder, not Engine.local: the SQL functions stay
  // unregistered, so SqlSurfaceSpec's Engine.attach test means something
  lazy val spark: SparkSession =
    Engine.builder("graft-test", Some("local[4]"), Some(4))
      // fixed path, not createTempDirectory: every suite CLASS evaluates
      // this builder config even though getOrCreate shares one session,
      // so a per-call temp dir leaked ~36 (mostly empty) dirs per test
      // run into /tmp; a fixed path accumulates nothing
      .config("spark.sql.warehouse.dir", SparkSpec.warehouse)
      .getOrCreate()

  def sf(path: String = "sf0.001"): String = s"/root/testdata/$path"

  override protected def afterAll(): Unit = {
    // deliberately NOT stopping: other suites share the session
    super.afterAll()
  }
}

/** Test-warehouse path, wiped ONCE per JVM before the shared session
  * exists. The fixed path stops per-run temp-dir leakage, but managed
  * table LOCATIONS (SaveSpec's bucketed `bkt_a`/`bkt_b`) survive JVM
  * exit while the in-memory catalog does not — so without the wipe,
  * every `sbt test` after the first failed CREATE with
  * LOCATION_ALREADY_EXISTS (the round-19 non-idempotency). The object
  * initializer runs on first access from any suite's builder, strictly
  * before `getOrCreate`, and exactly once per JVM — never mid-run, so
  * it cannot delete a live suite's tables. The dir is test-owned by
  * construction (nothing else writes `graft_test_warehouse`).
  */
object SparkSpec {
  val warehouse: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_test_warehouse"
  private def deleteRec(f: java.io.File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRec)
    f.delete(): Unit
  }
  deleteRec(new java.io.File(warehouse))
}
