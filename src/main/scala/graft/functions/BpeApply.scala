package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernel with a static forwarder so generated Java can call it
  * directly: applies an ordered BPE merge-rule list to a token array,
  * ONE greedy left-to-right non-overlapping pass per rule — the
  * per-document-local form of the declarative windowed merge pass (the
  * shape the t20/t21 DuckDB oracles unroll, kept executable in
  * BpeTrainSpec), to which it is provably equivalent:
  *
  *  - A merge at position i consumes positions (i, i+1); the fold keeps
  *    the merged token `l||r` at the top of the output and the next
  *    comparison sees it as the new left neighbor.  It can never
  *    re-match as `l` within the same pass (that would need `l||r = l`,
  *    i.e. an empty `r` — impossible for whitespace-split tokens), so
  *    the fold merges exactly the alternate members of each maximal
  *    candidate run — the same set the windowed chain arithmetic picks.
  *  - Runs of overlapping candidates only arise when `l = r` (adjacent
  *    candidates force `r = l`), the case both forms resolve to
  *    "every other position from the run start".
  *
  * O(Σ|doc| · rules) total, ONE working buffer per document (each rule
  * compacts it in place — a pass only shrinks the array, so writing the
  * surviving token at index `out ≤ j` never clobbers an unread slot) —
  * vs the declarative form's K full-corpus window passes.  BpeTrainSpec
  * pins kernel ≡ windowed-pass ≡ plain-Scala reference on the planted
  * corpus, and the t21 oracle (which unrolls the declarative form in
  * DuckDB) hash-gates the kernel path at every driver run. */
object BpeApplyKernel {
  /** `merges`: array of (l, r) structs in rank order.  Null tokens (not
    * produced by the tokenizer, tolerated defensively) pass through
    * unmerged; a null rule side skips that rule. */
  def apply(toks: ArrayData, merges: ArrayData): ArrayData = {
    val n = toks.numElements()
    val cur = new Array[UTF8String](n)
    var curLen = n
    var i = 0
    while (i < n) {
      cur(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      i += 1
    }
    val m = merges.numElements()
    var k = 0
    while (k < m && curLen > 1) {
      if (!merges.isNullAt(k)) {
        val rule = merges.getStruct(k, 2)
        if (!rule.isNullAt(0) && !rule.isNullAt(1)) {
          val l = rule.getUTF8String(0)
          val r = rule.getUTF8String(1)
          // in-place compaction: out ≤ j throughout, so cur(out) = t
          // either rewrites the slot just read or an already-consumed one
          var out = 0
          var j = 0
          while (j < curLen) {
            val t = cur(j)
            if (out > 0 && t != null && cur(out - 1) != null &&
                cur(out - 1).equals(l) && t.equals(r)) {
              cur(out - 1) = UTF8String.concat(l, r)
            } else {
              cur(out) = t
              out += 1
            }
            j += 1
          }
          curLen = out
        }
      }
      k += 1
    }
    val res = new Array[Any](curLen)
    var p = 0
    while (p < curLen) { res(p) = cur(p); p += 1 }
    new GenericArrayData(res)
  }
}

/** Native Catalyst BPE merge application over (array<string> tokens,
  * array<struct<l,r>> merges) — the ONE-PASS production encoder behind
  * `t21_bpe_apply` (SURVEY §7.3 tier-2 preference: custom codegen'd
  * `Expression` before any UDF).  BPE application is per-document local
  * (no cross-document state), so the whole encode is a single
  * corpus-scan with the learned rule table broadcast — the 100 TB shape
  * — while the declarative K-pass form remains the spec/oracle
  * reference.  Registered as SQL function `graft_bpe_apply`. */
case class BpeApplyMerges(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType,
    left.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    })
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(st: StructType, _))
          if st.length == 2 && st.forall(_.dataType == StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "graft_bpe_apply requires (array<string>, array<struct<l:string,r:string>>), " +
          s"got $l / $r")
    }
  override def prettyName: String = "graft_bpe_apply"

  override protected def nullSafeEval(toks: Any, merges: Any): Any =
    BpeApplyKernel.apply(toks.asInstanceOf[ArrayData], merges.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (toks, merges) =>
      s"graft.functions.BpeApplyKernel.apply($toks, $merges)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeApplyMerges =
    copy(left = newLeft, right = newRight)
}
