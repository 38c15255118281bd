package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Hot loop for [[TripleCombos]]: all C(n,3) position-ordered triples of a
  * long array in one tight JIT-compiled pass. The HOF formulation this
  * replaces (`flatten(transform(sequence(...), x -> flatten(transform(
  * sequence(...), y -> transform(sequence(...), z -> struct(...))))))`)
  * allocates a sequence array, a closure frame, and two flatten copies PER
  * OUTER INDEX per row — interpretation overhead cubic in basket size that
  * dominated q_basket_triples' generation stage. Semantics are identical:
  * one struct(a, b, c) per index triple i < j < k, input order preserved.
  */
object ComboUtil {
  def triples(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val m = n.toLong * (n - 1) * (n - 2) / 6
    // the caller's contract (same as the HOF version's): basket blow-up is
    // capped upstream — but a silent int overflow here would corrupt, so
    // guard loudly at the 2^31 array ceiling
    require(m <= Int.MaxValue, s"C($n,3) combinations overflow an array")
    val out = new Array[Any](m.toInt)
    var w = 0
    var i = 0
    while (i < n - 2) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n - 1) {
        val b = arr.getLong(j)
        var k = j + 1
        while (k < n) {
          out(w) = new GenericInternalRow(Array[Any](a, b, arr.getLong(k)))
          w += 1
          k += 1
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Hot loop for [[PairCombos]] — all C(n,2) position-ordered pairs. Same
  * rationale as [[ComboUtil.triples]]: the HOF it replaces
  * (`flatten(transform(arr, (x,i) -> transform(slice(arr, i+2, n), y ->
  * struct(x, y))))`) re-sliced and re-flattened per outer element.
  * Unlike triples, the element type is generic (marketBasket pairs
  * arbitrary item types), so elements are copied opaquely.
  */
object PairComboUtil {
  def pairs(arr: ArrayData, et: DataType): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val m = n.toLong * (n - 1) / 2
    require(m <= Int.MaxValue, s"C($n,2) combinations overflow an array")
    val elems = arr.toObjectArray(et)
    val out = new Array[Any](m.toInt)
    var w = 0
    var i = 0
    while (i < n - 1) {
      val a = elems(i)
      var j = i + 1
      while (j < n) {
        out(w) = new GenericInternalRow(Array[Any](a, elems(j)))
        w += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `array<T>` → `array<struct<p1:T, p2:T>>` of all position-ordered pairs
  * (i < j) — native replacement for marketBasket's nested-HOF pair
  * generator; parity pinned in ExpressionParitySpec. Null elements pass
  * through opaquely — a null slot emits structs with a null field
  * (spec-checked in ExpressionParitySpec); engine call sites feed
  * `collect_set` output, which never holds nulls.
  */
case class PairCombos(child: Expression) extends UnaryExpression {

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("p1", elemType), StructField("p2", elemType))),
    containsNull = false)
  override def prettyName: String = "pair_combos"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    PairComboUtil.pairs(input.asInstanceOf[ArrayData], elemType)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etRef = ctx.addReferenceObj("elemType", elemType,
      classOf[DataType].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.PairComboUtil.pairs($c, $etRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `array<long>` → `array<struct<a,b,c>>` of all position-ordered triples
  * (i < j < k). Native codegen'd replacement for the nested-HOF triple
  * generator in [[graft.operators.Analytics.basketTriples]]; parity with
  * the HOF formulation is pinned by ExpressionParitySpec. Elements must be
  * non-null — enforced at ANALYSIS (`containsNull=true` input types are
  * rejected; a null slot would silently read as 0L on unsafe rows). Engine
  * call sites feed `collect_set` output, which is containsNull=false.
  */
case class TripleCombos(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "triple_combos"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    // the hot loop reads primitives (arr.getLong) — on UnsafeArrayData a
    // null slot would silently read as 0L, corrupting triples, and the
    // declared output fields are nullable=false. Reject nullable elements
    // at analysis instead: callers wrap with filter/array_compact (every
    // engine call site feeds collect_set output, containsNull=false)
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> with non-nullable elements " +
        "(a null slot would silently read as 0) — filter nulls or " +
        "array_compact first")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    ComboUtil.triples(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ComboUtil.triples($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
