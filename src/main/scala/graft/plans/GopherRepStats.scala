package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass Gopher REPETITION statistics (Rae et al. 2021, Appendix
  * A1.1 — the repetition half; [[GopherStatsExpr]] is the
  * non-repetition half). Sixteen integer counts per page, from which
  * every published repetition threshold is a pure integer
  * cross-multiplication (no float ratio ever enters a gate):
  *
  *  - `n_lines`, `dup_lines`, `dup_line_chars` — lines (split on
  *    `\n`, space-trimmed, empties excluded): total, occurrences
  *    BEYOND the first of a repeated line, and their characters;
  *  - `n_paras`, `dup_paras`, `dup_para_chars` — same over
  *    paragraphs (split on runs of >= 2 `\n`, space-trimmed,
  *    empties excluded; interior single newlines stay content);
  *  - `text_chars` — raw text length (every fraction's denominator,
  *    the published convention);
  *  - `top2_chars`/`top3_chars`/`top4_chars` — characters of the
  *    most frequent word n-gram times its count (n-grams are
  *    whitespace-word windows joined by a single space — the same
  *    word tokens as [[GopherStatsExpr]]); ties on count break to
  *    the LONGEST gram (deterministic, and exactly `max(count) *
  *    max(len | count = max)` — SQL-expressible on the oracle side);
  *    0 when no n-gram repeats (a gram occurring once is not
  *    repetition — without this floor the rule would trip on any
  *    short page whose longest singleton gram clears the char
  *    fraction);
  *  - `dup5_chars`..`dup10_chars` — total characters over ALL
  *    occurrences of n-grams appearing >= 2 times ("characters
  *    contained within all duplicate n-grams", the paper's literal
  *    reading; overlapping occurrences each count, which only makes
  *    the filter stricter and keeps the count a plain GROUP-BY sum
  *    rather than a sequential skip-ahead no SQL oracle could
  *    replicate).
  *
  * Same single-pass-expression rationale as [[GopherStats]]/[[C4Stats]]:
  * the nine gram sizes share one word scan, and composed builtins
  * would re-split the text once per consumer under CollapseProject.
  * As there, field accesses share one evaluation only inside a
  * projection; under a pushed-down filter each of the 13 threshold
  * conjuncts evaluates on its own, and the per-thread last-input memo
  * on `eval` ([[LastInputMemo]]) keeps that to one pass per page.
  */
object GopherRepStatsExpr {

  val schema: StructType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("dup_lines", LongType, nullable = false),
    StructField("dup_line_chars", LongType, nullable = false),
    StructField("n_paras", LongType, nullable = false),
    StructField("dup_paras", LongType, nullable = false),
    StructField("dup_para_chars", LongType, nullable = false),
    StructField("text_chars", LongType, nullable = false),
    StructField("top2_chars", LongType, nullable = false),
    StructField("top3_chars", LongType, nullable = false),
    StructField("top4_chars", LongType, nullable = false),
    StructField("dup5_chars", LongType, nullable = false),
    StructField("dup6_chars", LongType, nullable = false),
    StructField("dup7_chars", LongType, nullable = false),
    StructField("dup8_chars", LongType, nullable = false),
    StructField("dup9_chars", LongType, nullable = false),
    StructField("dup10_chars", LongType, nullable = false)))

  def apply(text: Column): Column =
    ExprColumn(GopherRepStats(ExprColumn.exprOf(text)))

  /** Java regex \s (no UNICODE flag): [ \t\n\x0B\f\r]. */
  private def isJavaWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Occurrences-beyond-the-first duplicate stats over trimmed,
    * non-empty items: (total, dup items, dup item chars).
    */
  private def dupStats(items: mutable.ArrayBuffer[String]): (Long, Long, Long) = {
    val counts = new mutable.HashMap[String, Long]
    var i = 0
    while (i < items.length) {
      counts.update(items(i), counts.getOrElse(items(i), 0L) + 1L)
      i += 1
    }
    var dupEl = 0L
    var dupCh = 0L
    counts.foreach { case (v, c) =>
      if (c >= 2L) { dupEl += c - 1L; dupCh += v.length.toLong * (c - 1L) }
    }
    (items.length.toLong, dupEl, dupCh)
  }

  /** The kernel, memoized per thread on its last input (see
    * [[LastInputMemo]]); generated code calls this.
    */
  private[plans] def eval(s: UTF8String): InternalRow = memo(s)

  private val memo = new LastInputMemo(compute)

  private def compute(s: UTF8String): InternalRow = {
    val str = s.toString
    val n = str.length

    // word scan — identical token rule to GopherStatsExpr
    val words = new mutable.ArrayBuffer[String]
    var i = 0
    while (i < n) {
      while (i < n && isJavaWs(str.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isJavaWs(str.charAt(i))) i += 1
        words += str.substring(start, i)
      }
    }

    // lines: split '\n', space-trim, drop empties
    val lines = new mutable.ArrayBuffer[String]
    var start = 0
    while (start <= n) {
      var end = str.indexOf('\n', start)
      if (end < 0) end = n
      var b = start
      var e = end
      while (b < e && str.charAt(b) == ' ') b += 1
      while (e > b && str.charAt(e - 1) == ' ') e -= 1
      if (b < e) lines += str.substring(b, e)
      start = end + 1
    }

    // paragraphs: split on runs of >= 2 '\n' (a lone newline stays
    // content), space-trim the ends, drop empties
    val paras = new mutable.ArrayBuffer[String]
    var pStart = 0
    i = 0
    def flushPara(endExclusive: Int): Unit = {
      var b = pStart
      var e = endExclusive
      while (b < e && str.charAt(b) == ' ') b += 1
      while (e > b && str.charAt(e - 1) == ' ') e -= 1
      if (b < e) paras += str.substring(b, e)
    }
    while (i < n) {
      if (str.charAt(i) == '\n') {
        var j = i + 1
        while (j < n && str.charAt(j) == '\n') j += 1
        if (j - i >= 2) { flushPara(i); pStart = j }
        i = j
      } else i += 1
    }
    flushPara(n)

    val (nLines, dupLines, dupLineCh) = dupStats(lines)
    val (nParas, dupParas, dupParaCh) = dupStats(paras)

    // gram stats: (topChars = maxCount * longest-argmax-gram length,
    // dupChars = sum over grams with count >= 2 of len * count)
    def gramStats(g: Int): (Long, Long) = {
      if (words.length < g) (0L, 0L)
      else {
        val counts = new mutable.HashMap[String, Long]
        val sb = new java.lang.StringBuilder
        var k = 0
        while (k + g <= words.length) {
          sb.setLength(0)
          var m = 0
          while (m < g) {
            if (m > 0) sb.append(' ')
            sb.append(words(k + m))
            m += 1
          }
          val gram = sb.toString
          counts.update(gram, counts.getOrElse(gram, 0L) + 1L)
          k += 1
        }
        var maxC = 0L
        var maxLenAtMax = 0L
        var dupCh = 0L
        counts.foreach { case (gr, c) =>
          val len = gr.length.toLong
          if (c > maxC) { maxC = c; maxLenAtMax = len }
          else if (c == maxC && len > maxLenAtMax) maxLenAtMax = len
          if (c >= 2L) dupCh += len * c
        }
        (if (maxC >= 2L) maxC * maxLenAtMax else 0L, dupCh)
      }
    }
    val (top2, _) = gramStats(2)
    val (top3, _) = gramStats(3)
    val (top4, _) = gramStats(4)
    val dups = (5 to 10).map(g => gramStats(g)._2)

    new GenericInternalRow(Array[Any](
      nLines, dupLines, dupLineCh, nParas, dupParas, dupParaCh,
      n.toLong, top2, top3, top4,
      dups(0), dups(1), dups(2), dups(3), dups(4), dups(5)))
  }
}

case class GopherRepStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GopherRepStatsExpr.schema

  override def nullSafeEval(input: Any): Any =
    GopherRepStatsExpr.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = GopherRepStatsExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $clz.eval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherRepStats =
    copy(child = newChild)
}
