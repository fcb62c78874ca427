package graft.tools

/** End-to-end proof of the SparkSessionExtensions injection path: builds
  * a FRESH session with GraftExtensions (possible here because each sbt
  * runMain forks a new JVM — getOrCreate can't attach to an older
  * session) and exercises every registered SQL function through
  * spark.sql alone.
  */
object ExtensionsDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.builder("graft-extensions-demo",
        Some("local[2]"), Some(2))
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val row = spark.sql(
      """SELECT
           graft_simhash(array('alpha','beta')) AS simhash,
           size(graft_minhash(array('abcde','bcdef'))) AS sig_len,
           size(graft_minhash_bands('the quick brown fox jumps')) AS n_bands,
           size(graft_shingle_hashes('abcdefgh')) AS n_shingles,
           size(graft_ngram_hashes(array('a','b','c','d'), 2)) AS n_ngrams,
           graft_jaccard(array(1L,2L,3L,4L), array(3L,4L,5L,6L)) AS jac
      """).collect()(0)

    println(s"[extensions-demo] simhash=${row.getLong(0)} sig_len=${row.getInt(1)} " +
      s"n_bands=${row.getInt(2)} n_shingles=${row.getInt(3)} " +
      s"n_ngrams=${row.getInt(4)} jaccard=${row.getDouble(5)}")
    assert(row.getInt(1) == 64 && row.getInt(2) == 8)
    assert(math.abs(row.getDouble(5) - 2.0 / 6.0) < 1e-12)
    println("[extensions-demo] SparkSessionExtensions injection OK")
    spark.stop()
  }
}
