package graft.agg

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-key (count, sum, count_if) tallies in ONE aggregate buffer: the
  * keyed form of `groupBy(key).agg(count(1), sum(value), count_if(flag))`
  * for a key domain small enough to ride back as one value — the files of
  * one [[graft.checks.ValidationJob]] batch, whose per-file ledger counts
  * ride the verdict write's `Observation` instead of a re-read and a
  * shuffle of the written verdicts.
  *
  * Merge adds the three counters key by key, so it is associative and
  * commutative: split-then-merge equals a single pass exactly.
  */
final class TallyBuf {
  // key -> (count, sum, count_if); a null key is its own group, as in groupBy
  val counts = new java.util.HashMap[String, Array[Long]]()
  // the rows of one input split share one key: skip the decode + probe
  private var lastKey: UTF8String = _
  private var last: Array[Long] = _

  private def slot(key: UTF8String): Array[Long] =
    if (key != null && key == lastKey) last
    else {
      val s = counts.computeIfAbsent(if (key == null) null else key.toString,
        _ => new Array[Long](3))
      // clone: an input row's string may point into a reused buffer
      if (key != null) { lastKey = key.clone(); last = s }
      s
    }

  def add(key: UTF8String, value: Long, flag: Boolean): Unit = {
    val s = slot(key)
    s(0) += 1; s(1) += value
    if (flag) s(2) += 1
  }

  def merge(o: TallyBuf): Unit =
    o.counts.forEach { (k, v) =>
      val s = counts.computeIfAbsent(k, _ => new Array[Long](3))
      s(0) += v(0); s(1) += v(1); s(2) += v(2)
    }

  /** Key-sorted (null key first) `(key, count, sum, count_if)` rows. */
  def rows: Array[Any] = {
    val keys = new Array[String](counts.size)
    counts.keySet.toArray(keys)
    keys.sortBy(Option(_)).map[Any] { k =>
      val s = counts.get(k)
      InternalRow(if (k == null) null else UTF8String.fromString(k), s(0), s(1), s(2))
    }
  }

  def serialize: Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(counts.size)
    counts.forEach { (k, v) =>
      if (k == null) out.writeInt(-1)
      else { val b = k.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
      out.writeLong(v(0)); out.writeLong(v(1)); out.writeLong(v(2))
    }
    out.flush(); bos.toByteArray
  }
}

object TallyBuf {
  def deserialize(bytes: Array[Byte]): TallyBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TallyBuf
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val key = if (len < 0) null else {
        val b = new Array[Byte](len); in.readFully(b); new String(b, UTF_8)
      }
      buf.counts.put(key, Array(in.readLong(), in.readLong(), in.readLong()))
      i += 1
    }
    buf
  }
}

object Tally {
  val entryType: StructType = StructType(Seq(
    StructField("key", StringType, nullable = true),
    StructField("count", LongType, nullable = false),
    StructField("sum", LongType, nullable = false),
    StructField("count_if", LongType, nullable = false)))
  def resultType: DataType = ArrayType(entryType, containsNull = false)

  /** `byKey($"file", size($"violations"), not($"passed"))` ->
    * array<struct<key, count, sum, count_if>> sorted by key, one element per
    * distinct key: rows, the sum of `value` (a null value adds 0, so an
    * all-null group sums to 0 where SQL `sum` gives null), and rows whose
    * `flag` is true.
    */
  def byKey(key: Column, value: Column, flag: Column): Column =
    Bridge.column(TallyAgg(Bridge.expression(key), Bridge.expression(value),
      Bridge.expression(flag), 0, 0).toAggregateExpression())
}

/** TypedImperativeAggregate building a [[TallyBuf]]; the result is the
  * key-sorted array of per-key tallies (see [[Tally.byKey]]).
  */
case class TallyAgg(
    key: Expression,
    value: Expression,
    flag: Expression,
    mutableAggBufferOffset: Int,
    inputAggBufferOffset: Int)
    extends TypedImperativeAggregate[TallyBuf] {

  override def children: Seq[Expression] = Seq(key, value, flag)
  override def nullable: Boolean = false
  override def dataType: DataType = Tally.resultType
  override def prettyName: String = "tally_by_key"

  // fail at analysis, not as a mid-job ClassCastException in update()
  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == StringType && flag.dataType == BooleanType &&
        Seq(ByteType, ShortType, IntegerType, LongType).contains(value.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "tally_by_key requires (string key, integral value, boolean flag), got (" +
        Seq(key, value, flag).map(_.dataType.catalogString).mkString(", ") + ")")

  override def createAggregationBuffer(): TallyBuf = new TallyBuf

  override def update(buf: TallyBuf, input: InternalRow): TallyBuf = {
    val v = value.eval(input)
    buf.add(key.eval(input).asInstanceOf[UTF8String],
      if (v == null) 0L else v.asInstanceOf[Number].longValue,
      flag.eval(input) == true)
    buf
  }

  override def merge(buf: TallyBuf, other: TallyBuf): TallyBuf = { buf.merge(other); buf }
  override def eval(buf: TallyBuf): Any = new GenericArrayData(buf.rows)
  override def serialize(buf: TallyBuf): Array[Byte] = buf.serialize
  override def deserialize(bytes: Array[Byte]): TallyBuf = TallyBuf.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TallyAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TallyAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TallyAgg =
    copy(key = newChildren(0), value = newChildren(1), flag = newChildren(2))
}
