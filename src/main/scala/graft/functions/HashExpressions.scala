package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions.{conv, encode, md5, substring}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's PORTABLE 60-bit hash
  * idiom, `conv(substring(md5(encode(x, 'UTF-8')), 1, 15), 16, 10)`:
  * the first 15 hex digits of the md5 digest, i.e. the top 60 bits.
  *
  * The declarative chain allocates a 32-char hex UTF8String, a 15-char
  * substring copy, and a generic base-16 string parse PER ROW — on the
  * bootstrap fan-outs (q164/q170: |orders| × 32 replicates) that is
  * tens of millions of short-lived strings whose only purpose is to be
  * parsed straight back into a long. This expression computes the same
  * value directly from the digest bytes: the first 15 hex chars are
  * the first 7.5 bytes, so the value is the big-endian long of bytes
  * 0..7 logically shifted right 4 — digest in, long out, zero
  * intermediate strings. Bit-identical to the conv chain (spec-pinned
  * against it), so every DuckDB oracle built on the Horner
  * `list_reduce(list_transform(...))` parse of `md5(x)` is unchanged.
  */
case class Md5Hash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_hash60"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_hash60: expected STRING, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    Md5Hash60.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Hash60.hash($c);")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}

object Md5Hash60 {
  // MessageDigest is stateful; one instance per task thread
  private val digests =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def hash(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) {
      h = (h << 8) | (d(i) & 0xffL)
      i += 1
    }
    h >>> 4
  }
}

object HashFunctions {
  /** Codegen'd portable 60-bit md5-prefix hash of a string column —
    * value-identical to `conv(substring(md5(encode(c,'UTF-8')),1,15),
    * 16, 10).cast("long")`. */
  def md5Hash60(c: Column): Column =
    GraftBridge.column(Md5Hash60(GraftBridge.expression(c)))

  /** The same hash as [[md5Hash60]] over the string form of `c`, spelled
    * as the built-in expression chain; the queries whose plans read the
    * chain use this. */
  def md5Hash60Chain(c: Column): Column =
    conv(substring(md5(encode(c.cast("string"), "UTF-8")), 1, 15), 16, 10)
      .cast("long")

  /** DuckDB twin of [[md5Hash60]] for oracle SQL: the Horner parse of
    * md5's first 15 hex chars over the VARCHAR expression `s`. The
    * lambda variable is `j`, so `s` may reference an outer `i`. */
  def md5Hash60Sql(s: String): String =
    s"""CAST(list_reduce(list_transform(generate_series(1, 15),
       |  j -> strpos('0123456789abcdef', substring(md5(($s)), j, 1)) - 1),
       |  (a, x) -> a * 16 + x) AS BIGINT)""".stripMargin
}
