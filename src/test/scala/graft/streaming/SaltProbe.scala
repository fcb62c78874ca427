package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch probe for the curatesem bench construction: how strong a
  * content-keyed salt does the wrapper-page corpus need before the
  * embedText space de-collapses (bucket sizes bounded, distinct-text
  * cosine below the drop threshold, exact copies still at cosine 1)?
  * Run via Test/runMain on a sample of the staged replica.
  */
object SaltProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.local(16)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet("/tmp/sf1_documents.parquet")
      .filter(col("doc_id") % 25 === 0) // ~2k docs
    println(s"sample docs: ${docs.count()}")
    docs.select(avg(length(col("text"))).as("avg_len"),
      max(length(col("text"))).as("max_len")).show()

    // rep DISTINCT md5 blocks (chained re-hashing) — a repeated single
    // block is periodic text and the Gopher repetition rules kill the
    // page at curation
    def saltLine(text: org.apache.spark.sql.Column, rep: Int) = {
      val blocks = (0 until rep).map { i =>
        translate(md5(concat(text, lit("#" + i))),
          "0123456789", "ghijklmnop")
      }
      concat(regexp_replace(concat(blocks: _*), "(.{4})", "$1 "),
        lit("here now."))
    }
    def wrapped(rep: Int): DataFrame = docs.select(col("doc_id"), concat_ws("\n",
      lit("the report has to be checked and that will hold with care."),
      concat(col("text"), lit(".")),
      saltLine(col("text"), rep),
      lit("one more sentence lands here! does a question count? yes it does. the paragraph closes now."),
      lit("clean final line stands here.")).as("text"))

    for (rep <- Seq(3, 8, 16)) {
      val curated = graft.operators.Corpus
        .curatePages(wrapped(rep), "text", "doc_id")
      val kept = curated.filter(col("kept"))
        .select(col("id"), col("clean")).persist()
      val nKept = kept.count()
      if (nKept == 0) { println(f"rep=$rep%2d kept=0 (curation kills all)"); kept.unpersist() }
      else {
      val emb = kept.select(col("id").as("_gs_id"),
        graft.functions.TextFunctions.embedText(col("clean"), 128)
          .cast("array<double>").as("_gs_v")).persist()
      // bucket histogram at bits=12, tables=12
      val sig = emb.select(col("_gs_id"),
        posexplode(graft.plans.HashExpressions.srpSignatures(
          col("_gs_v"), 12, 12)).as(Seq("t", "s")))
      val buckets = sig.groupBy("t", "s").count()
      val bstats = buckets.agg(max("count").as("max_b"),
        expr("percentile_approx(count, 0.99)").as("p99_b"),
        avg("count").as("avg_b")).collect()(0)
      // cross-doc cosine among a 200-doc sample (distinct texts)
      val sample = emb.limit(200)
      val dot = graft.operators.Similarity.dot _
      val norm = graft.operators.Similarity.norm _
      val cos = sample.as("a").join(sample.as("b"),
          col("a._gs_id") < col("b._gs_id"))
        .select((dot(col("a._gs_v"), col("b._gs_v")) /
          (norm(col("a._gs_v")) * norm(col("b._gs_v")))).as("c"))
        .agg(max("c").as("max_c"),
          expr("percentile_approx(c, 0.99)").as("p99_c"),
          avg("c").as("avg_c")).collect()(0)
      println(f"rep=$rep%2d kept=$nKept max_bucket=${bstats.getLong(0)} p99_bucket=${bstats.getLong(1)} avg_bucket=${bstats.getDouble(2)}%.1f max_cos=${cos.getDouble(0)}%.4f p99_cos=${cos.getDouble(1)}%.4f avg_cos=${cos.getDouble(2)}%.4f")
      kept.unpersist(); emb.unpersist()
      }
    }
    spark.stop()
  }
}
