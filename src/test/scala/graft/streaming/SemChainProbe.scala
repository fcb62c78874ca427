package graft.streaming

import org.apache.spark.sql.functions._

/** Scratch probe for the chained-semantic-stage spec construction:
  * prints MinHash estimated Jaccard (byte-5-gram) and embedText cosine
  * for candidate paraphrase shapes. Not a test; run via Test/runMain.
  */
object SemChainProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val stops = "the report has to be checked and that will hold with care."
    val close = "and the close of day has come to rest now.\nmore closing prose lands here. yes. good. fine. done."
    // 60 distinct 5-char words, distinct first/last chars where possible
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    def word(stemSeed: Int, i: Int): String = {
      val c1 = alphabet(i % 26)
      val c2 = alphabet((i / 26 + stemSeed * 3 + 7) % 26)
      val c3 = alphabet((i * 3 + stemSeed * 9 + 17) % 26)
      val c4 = alphabet((i * 5 + stemSeed * 2 + 5) % 26)
      val c5 = alphabet((i * 9 + stemSeed * 7 + 11) % 26)
      s"$c1$c2$c3$c4$c5"
    }
    def page(stemSeed: Int, order: Seq[Int]) =
      s"$stops\n${order.map(i => word(stemSeed, i)).mkString(" ")} $close"
    val fwd = 0 until 60
    def stride(k: Int): Seq[Int] = fwd.map(i => (i * k) % 60)
    val pairs = Seq(
      ("A_fwd vs A_str7", page(1, fwd), page(1, stride(7))),
      ("A_fwd vs A_str13", page(1, fwd), page(1, stride(13))),
      ("A_str7 vs A_str13", page(1, stride(7)), page(1, stride(13))),
      ("A_fwd vs G_str7", page(1, fwd), page(2, stride(7))),
      ("G_fwd vs G_str7", page(2, fwd), page(2, stride(7))),
      ("A_fwd vs G_fwd", page(1, fwd), page(2, fwd)),
      ("A_str7 vs G_str13", page(1, stride(7)), page(2, stride(13))))

    def cleanOf(text: String): String = {
      val r = graft.operators.Corpus
        .curatePages(Seq((0L, text)).toDF("doc_id", "text"), "text", "doc_id")
        .select("clean", "kept").collect()(0)
      require(r.getBoolean(1), s"page fails curation: ${text.take(60)}")
      r.getString(0)
    }
    for ((label, t1r, t2r) <- pairs; dim <- Seq(64, 128)) {
      val (t1, t2) = (cleanOf(t1r), cleanOf(t2r))
      require(t1.nonEmpty && t2.nonEmpty, s"$label: curation emptied a page")
      val df = Seq((1L, t1), (2L, t2)).toDF("id", "text")
      val sigs = df.select(col("id"),
        graft.operators.Dedup.minhashSignature(col("text"), 64).as("sig"),
        graft.functions.TextFunctions.embedText(col("text"), dim)
          .cast("array<double>").as("v"))
        .collect().sortBy(_.getLong(0))
      val s1 = sigs(0).getSeq[Long](1); val s2 = sigs(1).getSeq[Long](1)
      val estJ = s1.zip(s2).count { case (a, b) => a == b }.toDouble / 64
      val v1 = sigs(0).getSeq[Double](2); val v2 = sigs(1).getSeq[Double](2)
      val cos = v1.zip(v2).map { case (a, b) => a * b }.sum
      println(f"$label%-22s dim=$dim%3d estJ=$estJ%.3f cos=$cos%.4f")
    }
    spark.stop()
  }
}
