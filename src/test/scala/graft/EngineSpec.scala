package graft

import org.apache.spark.sql.internal.SQLConf

/** Pins what `Engine` sessions run with. The AQE and file-split knobs
  * are Spark defaults that Engine deliberately does not restate, so a
  * Spark upgrade that moves one fails here instead of silently changing
  * every plan.
  */
class EngineSpec extends SparkSpec {

  test("Engine.builder sessions run Spark's AQE and split defaults, in UTC") {
    val c = spark.sessionState.conf
    assert(c.adaptiveExecutionEnabled)
    assert(c.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED))
    assert(c.getConf(SQLConf.SKEW_JOIN_ENABLED))
    assert(c.filesMaxPartitionBytes == 128L * 1024 * 1024)
    assert(!c.getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING))
    assert(c.sessionLocalTimeZone == "UTC")
    assert(c.numShufflePartitions == 4)
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("Engine.isolated carries time zone and shuffle partitions, then the extra conf") {
    // a runtime-set parent conf: exactly what newSession() alone drops
    val parent = Engine.isolated(spark)
    parent.conf.set("spark.sql.session.timeZone", "America/New_York")
    parent.conf.set("spark.sql.shuffle.partitions", "7")
    val child = Engine.isolated(parent,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    assert(child.sparkContext eq spark.sparkContext)
    assert(child.conf.get("spark.sql.session.timeZone") == "America/New_York")
    assert(child.conf.get("spark.sql.shuffle.partitions") == "7")
    assert(child.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(parent.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
  }

  test("a conf.set on an isolated child is invisible to its parent") {
    val child = Engine.isolated(spark)
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", "3")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(child.conf.get("spark.sql.adaptive.enabled") == "false")
  }
}
