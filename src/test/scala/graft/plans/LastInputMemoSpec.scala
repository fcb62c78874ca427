package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.operators.Corpus

/** The per-thread last-input memo on the three fused curation kernels
  * must never change a result: a filter over `kept` (where every
  * conjunct re-enters the kernels) equals the projection filtered on
  * the driver, and a kernel fed one byte buffer rewritten in place
  * answers for the buffer's CURRENT bytes, not the ones it last saw.
  */
class LastInputMemoSpec extends SparkSpec {
  import spark.implicits._

  private val stops = "the report has to be checked and that will hold with care."

  /** A page that clears C4 and both Gopher halves: >= 5 sentences,
    * >= 50 words, stop words, and no repeated n-gram (the body words
    * carry the page's own stem).
    */
  private def passing(stem: String): String = {
    val body = (0 until 60).map(i => s"$stem${i}ord").mkString(" ")
    s"$stops\n$body and the close of day has come to rest now.\n" +
      "more closing prose lands here. yes. good. fine. done."
  }

  test("curatePages: filter(kept) equals the projection filtered on the driver") {
    val twin = passing("tw").dropRight(1)
    val repeated = passing("rp")
    val flood = (0 until 30).map(_ => "again and").mkString(" ") + " closes."
    val planted = Seq(
      null,
      "",
      passing("tr") + "\nthe İSTANBUL line keeps its dotted capital İ.",
      twin + ".", // two pages differing only in their last byte
      twin + ";",
      repeated, repeated, repeated) // the same page in consecutive rows
    val generated = (0 until 200).flatMap { i =>
      val page = (i % 4) match {
        case 0 => passing(s"g${i}w")
        case 1 => passing(s"g${i}w") + "\ntemplate { artifact." // C4 drops it
        case 2 => s"$stops\n${passing(s"g${i}w")}\n$flood" // repetition drops it
        case _ => s"$stops one. two. three. four." // under the 50-word floor
      }
      if (i % 10 == 0) Seq(page, page) else Seq(page)
    }
    val texts = planted ++ generated
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // two partitions, input order kept inside each: many rows per task,
    // and the planted repeats arrive back to back on one thread
    val df = spark.sparkContext.parallelize(rows, 2).toDF("doc_id", "text")
    assert(df.rdd.getNumPartitions == 2)

    val curated = Corpus.curatePages(df, "text", "doc_id")
    def byId(rs: Array[Row]) = rs.map(r => r.getLong(0) -> r).toMap
    val projected = byId(curated.collect())
    val filtered = byId(curated.filter(col("kept")).collect())
    assert(filtered == projected.filter { case (_, r) => r.getBoolean(5) })

    // the fixture reaches both sides of every stage
    assert(filtered.size > 50 && filtered.size < texts.size / 2)
    assert(projected.values.exists(r => !r.getBoolean(2)))
    assert(projected.values.exists(r => r.getBoolean(2) && !r.getBoolean(4)))
    assert(projected.values.exists(r => r.getBoolean(2) && !r.getBoolean(3)))
    // each page's cleaned text is its own, checked against a driver-side
    // call on a fresh string
    texts.zipWithIndex.foreach { case (t, i) =>
      val clean = C4StatsExpr.eval(UTF8String.fromString(Option(t).getOrElse("")))
        .getUTF8String(0).toString
      assert(projected(i.toLong).getString(1) == clean, s"page $i")
    }
    assert(projected(0L).getString(1) == "" && !projected(0L).getBoolean(5))
    assert(projected(1L).getString(1) == "" && !projected(1L).getBoolean(5))
    assert(projected(2L).getString(1).contains("İSTANBUL"))
    assert(projected(3L).getString(1) != projected(4L).getString(1))
    assert(Seq(6L, 7L).forall(i =>
      projected(i).toSeq.tail == projected(5L).toSeq.tail))
  }

  test("each kernel answers for a reused buffer's current bytes") {
    // same byte length, different stats under every kernel: the second
    // line loses its terminal mark (C4 keeps one line, not two), gains
    // a '#' (Gopher symbol count), and stops repeating the first line
    // (Gopher repetition)
    val a = "the cat sat on the mat.\nthe cat sat on the mat."
    val b = "xyz cat sat on the mat.\nthe cat sat on the mat#"
    val ab = a.getBytes(UTF_8)
    val bb = b.getBytes(UTF_8)
    assert(ab.length == bb.length)
    val kernels: Seq[(String, UTF8String => InternalRow, StructType)] = Seq(
      ("C4Stats", C4StatsExpr.eval _, C4StatsExpr.schema),
      ("GopherStats", GopherStatsExpr.eval _, GopherStatsExpr.schema),
      ("GopherRepStats", GopherRepStatsExpr.eval _, GopherRepStatsExpr.schema))
    kernels.foreach { case (name, eval, schema) =>
      def stats(s: UTF8String) = eval(s).toSeq(schema)
      val wantA = stats(UTF8String.fromString(a))
      val wantB = stats(UTF8String.fromString(b))
      assert(wantA != wantB, name)
      // one buffer, re-pointed at each text in turn, as generated code
      // re-points a row buffer at the next row
      val buf = ab.clone()
      val s = UTF8String.fromBytes(buf)
      assert(stats(s) == wantA, name)
      System.arraycopy(bb, 0, buf, 0, buf.length)
      assert(stats(s) == wantB, name)
      System.arraycopy(ab, 0, buf, 0, buf.length)
      assert(stats(s) == wantA, name)
    }
  }
}
