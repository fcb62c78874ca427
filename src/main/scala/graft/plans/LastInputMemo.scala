package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Per-thread memo of a pure text kernel's most recent input and result
  * — the bound on what a pushed-down filter costs the fused stats
  * expressions ([[C4StatsExpr]], [[GopherStatsExpr]],
  * [[GopherRepStatsExpr]]).
  *
  * A filter has no subexpression elimination: once Catalyst pushes a
  * caller's `filter(kept)` below the projection and inlines the
  * aliases, each conjunct re-runs its kernel on the same text (the
  * [[C4Stats]] scaladoc has the measured cost). Those repeats arrive
  * back to back on one task thread, so remembering the last (input,
  * result) pair turns each into a content compare.
  *
  * The key is a COPY of the input: generated code re-points one row
  * buffer at the next row's bytes, so a retained reference could
  * change under the memo. It must be `copy()`, not `clone()`:
  * `clone()` goes through `getBytes`, which hands back the backing
  * array itself when the string spans all of it. Keys compare by
  * content; the cached row is shared, which is safe because Catalyst
  * never mutates an expression's result in place.
  */
private[plans] final class LastInputMemo(kernel: UTF8String => InternalRow) {

  private[this] val last = new ThreadLocal[(UTF8String, InternalRow)]

  def apply(s: UTF8String): InternalRow = {
    val hit = last.get
    if (hit != null && hit._1 == s) hit._2
    else {
      val out = kernel(s)
      last.set((s.copy(), out))
      out
    }
  }
}
