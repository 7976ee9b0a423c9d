package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 32-bit SimHash of a token array in ONE expression pass — per-bit
  * majority vote over md5 nibbles folded per ROW, replacing the
  * explode → 32×conditional-sum groupBy pipeline (which shuffles the
  * (docs × tokens) relation). Bit j comes from hex digit j of
  * md5(token) (MSB of the nibble ⇔ digit ≥ '8'), exactly the scheme the
  * aggregation form and the DuckDB oracle compute — duplicates counted,
  * ties (vote sum 0) vote 0.
  *
  * NULL for empty/all-null token arrays (the groupBy form emits no row).
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    SimHashSig.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("sh")
      s"""
         |Long $boxed = graft.functions.SimHashSig.compute($c);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? 0L : $boxed.longValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {

  val Bits = 32

  /** Static kernel shared by eval and generated code; null (boxed) on
    * empty input.
    */
  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    val votes = new Array[Int](Bits)
    val md = Md5Local.get()
    var seen = false
    var i = 0
    while (i < n) {
      val tok = arr.getUTF8String(i)
      if (tok != null) {
        seen = true
        val digest = md.digest(tok.getBytes) // digest() resets the instance
        var j = 0
        while (j < Bits) {
          // hex digit j = high nibble of byte j/2 when j even, low when odd;
          // digit >= '8' ⇔ nibble >= 8
          val nibble =
            if ((j & 1) == 0) (digest(j >> 1) >> 4) & 0xf
            else digest(j >> 1) & 0xf
          votes(j) += (if (nibble >= 8) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    if (!seen) null
    else {
      var sig = 0L
      var j = 0
      while (j < Bits) {
        if (votes(j) > 0) sig |= 1L << j
        j += 1
      }
      java.lang.Long.valueOf(sig)
    }
  }

  /** Shared builder for both registration paths; rejects wrong arity
    * instead of silently discarding extra arguments.
    */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "simhash_sig(arr) takes exactly 1 argument")
    SimHashSig(exprs.head)
  }

  def register(spark: SparkSession): Unit =
    Registration.once(spark, "simhash_sig", builder)
}
