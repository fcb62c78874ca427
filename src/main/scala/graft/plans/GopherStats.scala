package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass Gopher quality statistics (Rae et al., "Scaling Language
  * Models: Methods, Analysis & Insights from Training Gopher", 2021,
  * Appendix A1.1 — the non-repetition document filters; the repetition
  * family is q76's [[TextStats]] territory). Nine integer counts per
  * page, from which every published threshold is a pure integer
  * comparison (no float ratio ever enters a gate):
  *
  *  - `n_words`, `sum_word_len` — whitespace tokens (Java `\s` runs)
  *    of the raw text and their total character length (mean word
  *    length bounds test as `3·n <= sum <= 10·n`);
  *  - `n_alpha_words` — words containing at least one `[A-Za-z]`;
  *  - `n_hash`, `n_ellipsis` — `#` characters and non-overlapping
  *    `...` occurrences plus `…` characters (symbol-to-word ratios);
  *  - `n_lines`, `n_bullet_lines`, `n_ellipsis_lines` — lines (split
  *    on `\n`), those starting with a bullet (`-`, `*`, `•` after
  *    space-trim), those ending with an ellipsis;
  *  - `n_stop_hits` — how many of Gopher's 8 stop words (`the be to
  *    of and that have with`) occur as lowercased word tokens.
  *
  * Same single-pass-expression rationale as [[C4Stats]]: the counts
  * share the word/line scans, and composed builtins would re-run
  * `split` once per consumer under CollapseProject. Field accesses
  * share one evaluation only inside a projection; a pushed-down filter
  * evaluates each threshold conjunct on its own, and the per-thread
  * last-input memo on `eval` ([[LastInputMemo]]) is what keeps that to
  * one pass per page (the [[C4Stats]] scaladoc has the measurement).
  */
object GopherStatsExpr {

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("n_hash", LongType, nullable = false),
    StructField("n_ellipsis", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_bullet_lines", LongType, nullable = false),
    StructField("n_ellipsis_lines", LongType, nullable = false),
    StructField("n_stop_hits", LongType, nullable = false)))

  def apply(text: Column): Column = ExprColumn(GopherStats(ExprColumn.exprOf(text)))

  private val stops = Array("the", "be", "to", "of", "and", "that", "have", "with")

  /** Java regex \s (no UNICODE flag): [ \t\n\x0B\f\r]. */
  private def isJavaWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '\''

  /** The kernel, memoized per thread on its last input (see
    * [[LastInputMemo]]); generated code calls this.
    */
  private[plans] def eval(s: UTF8String): InternalRow = memo(s)

  private val memo = new LastInputMemo(compute)

  private def compute(s: UTF8String): InternalRow = {
    val str = s.toString
    var nWords = 0L
    var sumLen = 0L
    var nAlpha = 0L
    var nHash = 0L
    var nEll = 0L
    // whitespace-token scan over the raw text
    var i = 0
    val n = str.length
    while (i < n) {
      while (i < n && isJavaWs(str.charAt(i))) i += 1
      if (i < n) {
        val start = i
        var hasAlpha = false
        while (i < n && !isJavaWs(str.charAt(i))) {
          val c = str.charAt(i)
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hasAlpha = true
          i += 1
        }
        nWords += 1
        sumLen += (i - start)
        if (hasAlpha) nAlpha += 1
      }
    }
    // symbol counts: '#' chars; non-overlapping "..." runs (left to
    // right, the String.replace semantics both engines share) + '…'
    i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c == '#') { nHash += 1; i += 1 }
      else if (c == '…') { nEll += 1; i += 1 }
      else if (c == '.' && i + 2 < n &&
          str.charAt(i + 1) == '.' && str.charAt(i + 2) == '.') {
        nEll += 1; i += 3
      } else i += 1
    }
    // line scan (split on '\n', trailing empties kept — C4Stats rule)
    var nLines = 0L
    var nBullet = 0L
    var nEllLines = 0L
    var start = 0
    while (start <= n) {
      var end = str.indexOf('\n', start)
      if (end < 0) end = n
      nLines += 1
      var b = start
      var e = end
      while (b < e && str.charAt(b) == ' ') b += 1
      while (e > b && str.charAt(e - 1) == ' ') e -= 1
      if (b < e) {
        val first = str.charAt(b)
        if (first == '-' || first == '*' || first == '•') nBullet += 1
        if (str.charAt(e - 1) == '…' ||
            (e - b >= 3 && str.charAt(e - 1) == '.' &&
              str.charAt(e - 2) == '.' && str.charAt(e - 3) == '.'))
          nEllLines += 1
      }
      start = end + 1
    }
    // stop-word presence over lowercased word tokens
    val lower = s.toLowerCase.toString
    val seen = new Array[Boolean](stops.length)
    i = 0
    val ln = lower.length
    while (i <= ln) {
      var j = i
      while (j < ln && isWordChar(lower.charAt(j))) j += 1
      if (j > i) {
        val tok = lower.substring(i, j)
        var k = 0
        while (k < stops.length) {
          if (!seen(k) && stops(k) == tok) seen(k) = true
          k += 1
        }
        i = j
      }
      i += 1
    }
    val nStop = seen.count(identity).toLong
    new GenericInternalRow(Array[Any](
      nWords, sumLen, nAlpha, nHash, nEll, nLines, nBullet, nEllLines, nStop))
  }
}

case class GopherStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GopherStatsExpr.schema

  override def nullSafeEval(input: Any): Any =
    GopherStatsExpr.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = GopherStatsExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $clz.eval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}
