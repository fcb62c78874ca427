package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass C4 line statistics (Raffel et al., JMLR 2020 §2.2) for
  * [[graft.operators.Corpus.c4Clean]]: split a page into lines, apply
  * the three line-keep rules (terminal punctuation, >= 3 words, no
  * "javascript"), and return the cleaned text plus the line/sentence
  * counts as ONE struct.
  *
  * Why an expression and not composed builtins: the line filter is a
  * higher-order-function lambda over `split()`, and the cleaned text is
  * consumed FOUR ways (output column, kept-line count, two sides of the
  * sentence-mark count). Higher-order functions evaluate interpreted
  * with no common-subexpression elimination, so CollapseProject would
  * re-run the whole regex chain once per consumer (the re-evaluation
  * trap documented on [[graft.operators.Corpus.gramIndex]]). A single
  * codegen'd expression runs the pass once per row — the [[TextStats]]
  * posture.
  *
  * Its struct-field accesses are deduplicated only inside a PROJECTION,
  * where subexpression elimination shares one evaluation. A filter
  * pushed below the projection (a caller's `filter(kept)` over
  * [[graft.operators.Corpus.curatePages]]) evaluates each conjunct on
  * its own — `FilterExec` has no CSE — so every conjunct would re-run
  * the pass: measured on 500 pages at 4 cores, 1.5–2.0 s of executor
  * CPU for `curatePages(...).filter(kept)` vs 0.15 s to project all
  * its columns. What bounds that cost is the per-thread memo of the
  * last input on `eval` ([[LastInputMemo]]): the repeats hit it, so
  * the pass runs once per page on both paths.
  *
  * Semantics replicate the declarative formulation exactly (the q128
  * DuckDB oracle runs the character-identical rules):
  *   - lines: split on literal newline, trailing empties KEPT (Spark
  *     `split(text, "\n")` uses limit -1; DuckDB string_split agrees);
  *   - trim strips ONLY ' ' (Spark `trim` == DuckDB `trim` default);
  *   - a line is kept iff its trimmed form ends in `. ! ? "`, carries
  *     >= 3 maximal non-whitespace runs (Java `\s`: space, tab, LF,
  *     VT, FF, CR — the line split means LF never actually appears),
  *     and its lowercased form does not contain "javascript";
  *   - n_sentences counts `. ! ?` characters in the RETAINED text.
  */
object C4StatsExpr {

  val schema: StructType = StructType(Seq(
    StructField("clean", StringType, nullable = false),
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_lines_kept", IntegerType, nullable = false),
    StructField("n_sentences", IntegerType, nullable = false)))

  def apply(text: Column): Column = ExprColumn(C4Stats(ExprColumn.exprOf(text)))

  /** Java regex \s (no UNICODE flag): [ \t\n\x0B\f\r]. */
  private def isJavaWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def isTerminal(c: Char): Boolean =
    c == '.' || c == '!' || c == '?' || c == '"'

  private[plans] def keepLine(line: String): Boolean = {
    // trim spaces only
    var b = 0
    var e = line.length
    while (b < e && line.charAt(b) == ' ') b += 1
    while (e > b && line.charAt(e - 1) == ' ') e -= 1
    if (b == e || !isTerminal(line.charAt(e - 1))) return false
    // >= 3 maximal non-\s runs in the trimmed span
    var words = 0
    var i = b
    while (i < e && words < 3) {
      while (i < e && isJavaWs(line.charAt(i))) i += 1
      if (i < e) { words += 1; while (i < e && !isJavaWs(line.charAt(i))) i += 1 }
    }
    words >= 3
  }

  /** The kernel, memoized per thread on its last input (see
    * [[LastInputMemo]]); generated code calls this.
    */
  private[plans] def eval(s: UTF8String): InternalRow = memo(s)

  private val memo = new LastInputMemo(compute)

  private def compute(s: UTF8String): InternalRow = {
    val str = s.toString
    val sb = new java.lang.StringBuilder(str.length)
    var nLines = 0
    var nKept = 0
    var nSent = 0
    var start = 0
    val n = str.length
    while (start <= n) {
      var end = str.indexOf('\n', start)
      if (end < 0) end = n
      nLines += 1
      val line = str.substring(start, end)
      // per-line UTF8String lowercase — identical casing to Spark
      // lower(); a WHOLE-page lowercase could change length (e.g.
      // U+0130 → "i" + combining dot) and misalign line offsets
      if (keepLine(line) &&
          UTF8String.fromString(line).toLowerCase.toString
            .indexOf("javascript") < 0) {
        if (nKept > 0) sb.append('\n')
        sb.append(line)
        nKept += 1
        var i = 0
        while (i < line.length) {
          val c = line.charAt(i)
          if (c == '.' || c == '!' || c == '?') nSent += 1
          i += 1
        }
      }
      start = end + 1 // end == n ⇒ start = n + 1 exits after the tail
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(sb.toString), nLines, nKept, nSent))
  }
}

case class C4Stats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = C4StatsExpr.schema

  override def nullSafeEval(input: Any): Any =
    C4StatsExpr.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clz = C4StatsExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $clz.eval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): C4Stats =
    copy(child = newChild)
}
