package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import java.nio.ByteBuffer

/** SURVEY §2 E1/E2 — single-buffer MinHash aggregate (TypedImperativeAggregate).
  *
  * The composed form (e02) runs k=8 independent `min()` aggregates, i.e. 8
  * aggregation buffers and 8 expression evaluations per input row. This
  * aggregate keeps one `Array[Long](8)` buffer and updates all 8 permutation
  * mins in a single tight loop per row — at 100 TB corpus scale the
  * signature computation is the dominant dedup cost, and the buffer is what
  * the shuffle carries (64 bytes/doc, partial-aggregatable and mergeable
  * across executors like any Spark aggregate).
  *
  * Same hash family as [[graft.SetSimilarity.signatures]] (a_i·H(t)+b_i
  * mod 2^31−1 over the md5-prefix token hash, constants defined there), so
  * results are identical to e02 and to the DuckDB oracle.
  */
case class MinHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  import MinHashAgg.K
  import graft.SetSimilarity.{A, B, P}

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(K)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < K) {
        val x = (A(i) * h + B(i)) % P
        if (x < buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < K) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(K * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(K)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashAgg =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash"
}

object MinHashAgg {
  val K: Int = graft.SetSimilarity.A.length

  private val FN = "graft_minhash"

  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    if (!reg.functionExists(new org.apache.spark.sql.catalyst.FunctionIdentifier(FN)))
      reg.createOrReplaceTempFunction(
        FN, exprs => MinHashAgg(exprs.head).toAggregateExpression(), "built-in")
  }

  /** Aggregate Column: 8-element minhash signature array (register first). */
  def minhash(tokenHash: Column): Column = call_function(FN, tokenHash)
}
