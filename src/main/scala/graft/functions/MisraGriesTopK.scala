package graft.functions

import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters summary. Mutable map of item → counter;
  * `n` tracks the total stream length so the ε = n/m error bound is
  * reportable. */
private[functions] final class MGState(
    val counters: mutable.HashMap[String, Long], var n: Long)

/** Native single-pass heavy hitters — the TypedImperativeAggregate
  * surface of the engine (arbitrary mutable state, binary partial
  * buffers, map-side combine), the API every serious sketch
  * (HLL++/percentile_approx/count_min) rides inside Spark itself.
  * Misra–Gries with m counters: any item with true frequency
  * > n/m is GUARANTEED present, and every reported estimate obeys
  * est ≤ true ≤ est + n/m — deterministic bounds under ANY partition
  * or merge order (estimates themselves may vary with merge order,
  * which is why the key is oracle-N with a bound-asserting spec; the
  * `profile_heavy_hitters` groupBy key stays the exact baseline).
  *
  * update is amortized O(1): the decrement-all step pays each unit at
  * most once per increment. merge is the Agarwal et al. mergeable-
  * summaries rule — sum counters, subtract the (m+1)-th largest,
  * keep positives — which preserves the MG invariant.
  *
  * Scale shape: partial aggregation does the data-sized work in the
  * map stage; only m-entry summaries (≤ a few KB) cross the wire —
  * a top-k over 100 TB shuffles kilobytes.
  */
case class MisraGriesTopK(
    child: Expression, m: Int, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MGState] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("est_count", LongType),
    StructField("max_overcount", LongType))))

  override def createAggregationBuffer(): MGState =
    new MGState(mutable.HashMap.empty, 0L)

  override def update(buf: MGState, input: InternalRow): MGState = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      buf.n += 1
      buf.counters.get(s) match {
        case Some(c) => buf.counters.update(s, c + 1)
        case None if buf.counters.size < m => buf.counters.update(s, 1L)
        case None =>
          // classic MG overflow: decrement every counter, drop zeros —
          // each decrement cancels one past increment, so total work
          // across the stream is O(n)
          val dead = mutable.ArrayBuffer.empty[String]
          buf.counters.foreach { case (key, c) =>
            if (c == 1L) dead += key else buf.counters.update(key, c - 1)
          }
          dead.foreach(buf.counters.remove)
      }
    }
    buf
  }

  override def merge(a: MGState, b: MGState): MGState = {
    b.counters.foreach { case (key, c) =>
      a.counters.update(key, a.counters.getOrElse(key, 0L) + c)
    }
    a.n += b.n
    if (a.counters.size > m) {
      // mergeable-summaries rule: subtract the (m+1)-th largest count
      // (ties broken by item so the survivor set is deterministic
      // GIVEN the combined multiset), keep strictly positive
      val cut = a.counters.toSeq
        .sortBy { case (key, c) => (-c, key) }
        .apply(m)._2
      val dead = a.counters.collect {
        case (key, c) if c <= cut => key
      }.toSeq
      dead.foreach(a.counters.remove)
      a.counters.keys.toSeq.foreach(key =>
        a.counters.update(key, a.counters(key) - cut))
    }
    a
  }

  override def eval(buf: MGState): Any = {
    val top = buf.counters.toSeq
      .sortBy { case (key, c) => (-c, key) }
      .take(k)
    val bound = if (m > 0) buf.n / m else 0L
    new GenericArrayData(top.map { case (key, c) =>
      InternalRow(UTF8String.fromString(key), c, bound)
    })
  }

  override def serialize(buf: MGState): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeLong(buf.n)
    out.writeInt(buf.counters.size)
    buf.counters.foreach { case (key, c) =>
      val bytes = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(bytes.length); out.write(bytes); out.writeLong(c)
    }
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MGState = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readLong()
    val size = in.readInt()
    val map = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < size) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      map.update(new String(b, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong())
      i += 1
    }
    new MGState(map, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesTopK =
    copy(child = newChildren.head)
}
