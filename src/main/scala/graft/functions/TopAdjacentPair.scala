package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aggregation buffer of [[TopAdjacentPair]]: weighted counts of
  * adjacent symbol pairs. Keys are cloned once on first insert (input
  * UTF8Strings may view reused row buffers); state is bounded by the
  * distinct adjacent-pair vocabulary of the group — word-table scale by
  * the BPE trainer's contract, never corpus scale. */
final class PairCounts(
    val m: java.util.HashMap[(UTF8String, UTF8String), java.lang.Long])

/** `top_adjacent_pair(weight, syms)`: the single most frequent adjacent
  * symbol pair across all rows — each position of each row's `syms`
  * array contributes `weight` (a run of k equal symbols contributes
  * k−1 positions, the reference BPE statistic; a pair with a NULL side
  * is skipped, so a NULL element contributes no pair) — with the trainer's
  * pinned total tie order (count desc, left asc, right asc, string
  * order = UTF-8 binary, exactly Spark's own string sort). Returns
  * struct(left, right, n) or NULL when no row has ≥ 2 symbols.
  *
  * This is [[graft.api.GraftOps.bpeFit]]'s former per-round
  * explode + groupBy + orderBy-limit-1 job collapsed into ONE aggregate
  * usable in `Dataset.observe`, so the argmax is harvested from the
  * same job that materializes the round's symbol table (guide §5 —
  * one pass per round instead of two). Bit-identical to the join form:
  * integer counts are order-independent and the tie comparison is the
  * same binary string order the orderBy used. */
case class TopAdjacentPair(
    weight: Expression,
    syms: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PairCounts] {

  override def children: Seq[Expression] = Seq(weight, syms)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("left", StringType, nullable = false),
    StructField("right", StringType, nullable = false),
    StructField("n", LongType, nullable = false)))
  override def prettyName: String = "top_adjacent_pair"
  override def checkInputDataTypes(): TypeCheckResult =
    (weight.dataType, syms.dataType) match {
      case (LongType, ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"top_adjacent_pair expects (bigint, array<string>), got $other")
    }

  override def createAggregationBuffer(): PairCounts =
    new PairCounts(new java.util.HashMap)

  private def add(buf: PairCounts, a: UTF8String, b: UTF8String,
      w: Long): Unit = {
    val probe = (a, b)
    val cur = buf.m.get(probe)
    if (cur != null) buf.m.put(probe, cur + w)
    else buf.m.put((a.clone(), b.clone()), w)
  }

  override def update(buf: PairCounts, input: InternalRow): PairCounts = {
    val w = weight.eval(input)
    val arr = syms.eval(input)
    if (w != null && arr != null) {
      val a = arr.asInstanceOf[ArrayData]
      val n = a.numElements()
      var i = 0
      while (i < n - 1) {
        if (!a.isNullAt(i) && !a.isNullAt(i + 1))
          add(buf, a.getUTF8String(i), a.getUTF8String(i + 1),
            w.asInstanceOf[Long])
        i += 1
      }
    }
    buf
  }

  override def merge(buf: PairCounts, other: PairCounts): PairCounts = {
    val it = other.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // other's keys are already private clones — safe to share
      val cur = buf.m.get(e.getKey)
      buf.m.put(e.getKey, if (cur == null) e.getValue else cur + e.getValue)
    }
    buf
  }

  override def eval(buf: PairCounts): Any = {
    if (buf.m.isEmpty) return null
    var bs1: UTF8String = null
    var bs2: UTF8String = null
    var bn = 0L
    val it = buf.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (s1, s2) = e.getKey
      val n = e.getValue.longValue()
      val better =
        if (bs1 == null) true
        else if (n != bn) n > bn
        else {
          val c1 = s1.compareTo(bs1) // UTF-8 binary order — Spark's sort
          if (c1 != 0) c1 < 0 else s2.compareTo(bs2) < 0
        }
      if (better) { bs1 = s1; bs2 = s2; bn = n }
    }
    new GenericInternalRow(Array[Any](bs1, bs2, bn))
  }

  override def serialize(buf: PairCounts): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.m.size())
    val it = buf.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b1 = e.getKey._1.getBytes
      val b2 = e.getKey._2.getBytes
      out.writeInt(b1.length); out.write(b1)
      out.writeInt(b2.length); out.write(b2)
      out.writeLong(e.getValue.longValue())
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): PairCounts = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = new java.util.HashMap[(UTF8String, UTF8String), java.lang.Long]
    var i = 0
    while (i < n) {
      val b1 = new Array[Byte](in.readInt()); in.readFully(b1)
      val b2 = new Array[Byte](in.readInt()); in.readFully(b2)
      val v = in.readLong()
      m.put((UTF8String.fromBytes(b1), UTF8String.fromBytes(b2)), v)
      i += 1
    }
    new PairCounts(m)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopAdjacentPair =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopAdjacentPair =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopAdjacentPair =
    copy(weight = newChildren(0), syms = newChildren(1))
}

object TopAdjacentPair {
  def asColumn(weight: Column, syms: Column): Column =
    ColumnBridge.column(TopAdjacentPair(
      ColumnBridge.expression(weight),
      ColumnBridge.expression(syms)).toAggregateExpression())
}
