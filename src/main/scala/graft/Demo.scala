package graft

import java.nio.file.{Files, Paths}

/** Runnable end-to-end example of the ingest surface (SURVEY.md §7.3's
  * minimum slice): messy delimited files → preview → column selection with
  * declared types → atomic save → read back and aggregate. Doubles as the
  * runtime-verification entry point for the library surface.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Engine.local(4)

    // guard failures flip this and the process exits non-zero — an
    // exit-code-checking driver must see a broken guard, not a 0
    var failed = false
    def guardError(msg: String): Unit = { failed = true; println(s"ERROR: $msg") }

    val dir = Files.createTempDirectory("graft_demo")
    val wh = dir.resolve("warehouse").toString

    // A1-style CSV: quoted cells (naive split!), missing trailing cell.
    val csv = dir.resolve("orders.csv")
    Files.writeString(csv,
      """id,customer,amount,order_ts
        |1,"Acme",150.25,2026-01-05 10:00:00
        |2,Globex,99.00,2026-01-06 11:30:00
        |3,"Initech",12.50,
        |""".stripMargin)

    // A3-style Markdown pipe table with separator + blank rows.
    val md = dir.resolve("inventory.md")
    Files.writeString(md,
      """|| sku | warehouse | qty |
        || --- | --- | --- |
        || A-1 | east | 40 |
        || B-2 | west | 17 |
        |
        || C-3 | east | 5 |
        |""".stripMargin)

    println("== preview orders.csv")
    val p = ingest.Preview.preview(spark, csv.toString)
    println(s"headers: ${p.headers.mkString(", ")}")
    p.rows.foreach(println)

    println("== save orders.csv (id INTEGER, amount NUMERIC(18,2), order_ts TIMESTAMP)")
    val path = sink.Save.ingest(spark, csv.toString, wh, "My Orders!",
      Seq("id", "customer", "amount", "order_ts"),
      Map("id" -> "INTEGER", "amount" -> "NUMERIC(18,2)", "order_ts" -> "TIMESTAMP"))
    println(s"published: $path")
    val back = spark.read.parquet(path)
    back.printSchema()
    back.orderBy("id").show(false)

    println("== aggregate readback")
    import org.apache.spark.sql.functions._
    back.agg(sum(col("amount")).as("total"), count(lit(1)).as("n")).show(false)

    println("== duplicate save guard (expect failure)")
    try {
      sink.Save.ingest(spark, csv.toString, wh, "My Orders!", Seq("id"))
      guardError("duplicate save was allowed!")
    } catch {
      case e: IllegalStateException => println(s"guarded: ${e.getMessage}")
    }

    println("== preview inventory.md (pipe + markdown separator)")
    val m = ingest.Preview.preview(spark, md.toString)
    println(s"headers: ${m.headers.mkString(", ")}")
    m.rows.foreach(println)

    println("== smart-id: save inventory.md without an id column")
    val invPath = sink.Save.ingest(spark, md.toString, wh, "inventory",
      Seq("sku", "warehouse", "qty"), Map("qty" -> "INTEGER"))
    spark.read.parquet(invPath).orderBy("sku").show(false)

    println("== empty file (expect clean error)")
    val empty = dir.resolve("empty.csv")
    Files.writeString(empty, "")
    try {
      ingest.Preview.preview(spark, empty.toString)
      guardError("empty file did not raise!")
    } catch {
      case e: IllegalArgumentException => println(s"guarded: ${e.getMessage}")
    }

    // ------------------------------------------------ pipeline operators
    val sf = "/root/testdata/sf0.001"

    println("== dedup: exact + minhash near-dups on documents")
    val docs = queries.Tables.documents(spark, sf)
    println(s"exact-dedup survivors: ${operators.Dedup.exact(docs, "text", "doc_id").count()}")
    operators.Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .orderBy(col("jaccard").desc).show(5, truncate = false)

    println("== similarity: top-5 neighbors of vec 0")
    val emb = queries.Tables.embeddings(spark, sf)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    operators.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", qv, 5).show(false)

    println("== text analysis: language distribution + quality")
    docs.select(
      functions.TextFunctions.langId(col("text")).as("lang_pred"),
      functions.TextFunctions.qualityScore(col("text")).as("q"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n"), avg(col("q")).as("avg_quality"))
      .orderBy(col("lang_pred")).show(false)

    println("== SQL surface")
    plans.GraftFunctions.register(spark)
    docs.limit(100).createOrReplaceTempView("docs_demo")
    spark.sql(
      """SELECT count(DISTINCT graft_simhash(
           filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)))
           AS distinct_fingerprints
         FROM docs_demo""").show(false)

    spark.stop()
    if (failed) sys.exit(1)
  }
}
