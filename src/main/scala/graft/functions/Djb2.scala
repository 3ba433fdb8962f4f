package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** djb2 string hash as a native Catalyst expression: `h = 5381;
  * h = h*33 + c` over ALL of the key's bytes, accumulated in 64-bit
  * arithmetic (C `unsigned long` wraparound == Java long wraparound).
  * This is the SKETCH hash — its SQL oracles fold every byte. For
  * C `MR_Partitioner` parity (which stops at the first NUL byte) use
  * [[Djb2Partition]] / [[Djb2.partition]], which route through
  * [[Djb2.hashC]].
  *
  * Implemented with `doGenCode` so it participates in whole-stage codegen —
  * hashing a 100 TB key column never leaves the generated loop.
  */
case class Djb2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"djb2 requires a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    Djb2.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Djb2.hash($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Djb2 = copy(child = newChild)
  override def prettyName: String = "djb2"
}

/** Reference partition index: `Long.remainderUnsigned(djb2(key), numParts)`
  * — exact C unsigned-modulo semantics even when the 64-bit hash has the
  * sign bit set (keys longer than ~12 bytes).
  */
case class Djb2Partition(child: Expression, numParts: Int) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && numParts > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"djb2_partition requires a string argument and numParts > 0, got ${child.dataType}, $numParts")

  override def nullSafeEval(input: Any): Any =
    Djb2.partition(input.asInstanceOf[UTF8String].getBytes, numParts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Djb2.partition($c.getBytes(), $numParts)")

  override protected def withNewChildInternal(newChild: Expression): Djb2Partition = copy(child = newChild)
  override def prettyName: String = "djb2_partition"
}

object Djb2 {
  /** djb2 over ALL bytes (signed-char promotion, 64-bit wraparound) —
    * the sketch/base-hash variant. Every SQL oracle recomputes exactly
    * this through [[graft.operators.OracleCtes.djb2Sql]] (the same fold
    * over the key's UTF-8 bytes, mod 2⁶⁴), so this function must NOT
    * stop early. For the C partitioner's
    * `while ((c = *key++))` semantics see [[hashC]]. */
  def hash(bytes: Array[Byte]): Long = {
    var h = 5381L
    var i = 0
    while (i < bytes.length) {
      h = (h << 5) + h + bytes(i) // h*33 + c, signed-char promotion like C
      i += 1
    }
    h
  }

  /** Exact C-string semantics: like the reference's `while ((c = *key++))`
    * the hash stops at the first NUL byte — keys with embedded NULs
    * partition identically to the C library. Used only on the MapReduce
    * parity surface ([[partition]]); NUL-free keys hash identically to
    * [[hash]]. */
  def hashC(bytes: Array[Byte]): Long = {
    var h = 5381L
    var i = 0
    while (i < bytes.length && bytes(i) != 0) {
      h = (h << 5) + h + bytes(i)
      i += 1
    }
    h
  }

  def partition(bytes: Array[Byte], numParts: Int): Int =
    java.lang.Long.remainderUnsigned(hashC(bytes), numParts.toLong).toInt

  /** Raw 64-bit djb2 hash of a string column. */
  def djb2_hash(c: Column): Column =
    ColumnBridge.column(Djb2(ColumnBridge.expression(c)))

  /** Reference partition index as a column. */
  def djb2_partition(c: Column, numParts: Int): Column =
    ColumnBridge.column(Djb2Partition(ColumnBridge.expression(c), numParts))
}
