package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** A request value (a window bound, a grid origin) bound at run time.
  *
  * A `Literal` is inlined into Spark's generated Java, so two requests
  * that differ only in their time window generate different classes
  * and each one pays a Janino compile. A Param's generated code reads
  * its value from the codegen `references` array instead: plans that
  * differ only in Param values generate byte-identical code, and
  * Spark's codegen cache serves every request after the first.
  *
  * Non-foldable, so `ConstantFolding` never turns it back into a
  * literal. Equality is by value (a case class), so CacheManager
  * `sameResult`, exchange and subquery reuse never take two windows
  * for one. Not translatable to a data-source filter: a scan bound
  * that must reach parquet pushdown also keeps a coarse literal next
  * to the exact parameter ([[Param.atLeast]], [[Param.below]]). */
case class Param(value: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = Param.Name
  override def sql: String = s"${Param.Name}(${value}L)"
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.longValue()", LongType))
  }
}

/** Builds Param columns. The expression reaches a DataFrame through
  * the session function `graft_param`, which takes one constant
  * integral argument (the SQL parser reads a seconds value as INT;
  * it normalises to a BIGINT parameter). */
object Param {
  val Name = "graft_param"

  /** One hour in µs, the grain of the literal that rides next to a
    * parameter `ts_us` bound. */
  val HourUs: Long = 3600L * 1000000L

  /** `v` as a parameter column on `spark`'s plans. */
  def column(spark: SparkSession, v: Long): Column = {
    register(spark)
    call_function(Name, lit(v))
  }

  /** `v` as parameter SQL text for an `expr(...)` string on `spark`. */
  def sql(spark: SparkSession, v: Long): String = {
    register(spark)
    s"$Name($v)"
  }

  /** `c >= v`: the exact parameter bound, plus a literal bound rounded
    * DOWN to a multiple of `grain`, which parquet row-group pushdown
    * prunes on and which changes at most once per grain. */
  def atLeast(spark: SparkSession, c: Column, v: Long, grain: Long): Column =
    c >= lit(Math.floorDiv(v, grain) * grain) && c >= column(spark, v)

  /** `c < v`, the same pair with the literal rounded UP. */
  def below(spark: SparkSession, c: Column, v: Long, grain: Long): Column =
    c < lit(-Math.floorDiv(-v, grain) * grain) && c < column(spark, v)

  /** Register `graft_param` on `spark`; idempotent per session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(Name)))
      reg.createOrReplaceTempFunction(Name, (args: Seq[Expression]) => args match {
        case Seq(a) if a.foldable && (a.dataType == LongType || a.dataType == IntegerType) =>
          Param(a.eval() match { case i: Int => i.toLong; case l: Long => l })
        case _ => throw new IllegalArgumentException(
          s"$Name takes one constant integral argument, got ${args.mkString(", ")}")
      }, "built-in")
  }
}
