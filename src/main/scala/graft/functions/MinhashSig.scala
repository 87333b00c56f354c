package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `minhash_sig(array<bigint>, k) -> array<bigint>` — the k-hash MinHash
  * signature of a hashed-shingle set as one fused codegen loop.
  *
  * The composable form (`transform(sequence(0, k-1), i =>
  * array_min(transform(sh, h => (a_i*(h%M)+b_i) % P)))`) interprets k
  * higher-order lambdas per document and allocates k intermediate arrays —
  * the dominant cost of MinHash+LSH dedup at scale. This expression computes
  * the identical signature (same `(a*(h mod 2^28)+b) mod (2^31-1)` family,
  * constants from [[graft.operators.Dedup.minhashParams]]) in a single
  * k×|sh| loop inside whole-stage codegen, no per-row allocation beyond the
  * output array.
  *
  * Empty shingle sets (unreachable via `Dedup.hashedShingleSet`, which emits
  * at least one shingle for any document) yield an all-zero signature.
  */
case class MinhashSig(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"${MinhashSig.name} requires (array<bigint>, k > 0), got " +
        s"(${child.dataType.simpleString}, $k)")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // same constants the SQL oracle interpolates — one source of truth
  private lazy val (asArr, bsArr) = {
    val (a, b) = graft.operators.Dedup.minhashParams(k)
    (a.toArray, b.toArray)
  }

  override def nullSafeEval(v: Any): Any = {
    val sh = v.asInstanceOf[ArrayData]
    val n = sh.numElements()
    val out = new Array[Long](k)
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(out)
    java.util.Arrays.fill(out, Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = sh.getLong(j) % graft.operators.Dedup.MinhashM
      var i = 0
      while (i < k) {
        val x = (asArr(i) * h + bsArr(i)) % graft.operators.Dedup.MinhashP
        if (x < out(i)) out(i) = x
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, sh => {
      val aRef = ctx.addReferenceObj("minhashA", asArr, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", bsArr, "long[]")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val x = ctx.freshName("x")
      s"""
         |int $n = $sh.numElements();
         |long[] $out = new long[$k];
         |if ($n > 0) {
         |  java.util.Arrays.fill($out, Long.MAX_VALUE);
         |  for (int $j = 0; $j < $n; $j++) {
         |    long $h = $sh.getLong($j) % ${graft.operators.Dedup.MinhashM}L;
         |    for (int $i = 0; $i < $k; $i++) {
         |      long $x = ($aRef[$i] * $h + $bRef[$i]) % ${graft.operators.Dedup.MinhashP}L;
         |      if ($x < $out[$i]) $out[$i] = $x;
         |    }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSig {
  val name = "minhash_sig"

  def apply(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinhashSig(ColumnBridge.expression(shingles), k))
}
