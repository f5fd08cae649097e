package graft.functions

import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** t-digest state: merged centroids (mean, weight) kept sorted by mean,
  * plus an unmerged point buffer that amortizes compression. */
private[functions] final class TDState(
    var centroids: mutable.ArrayBuffer[(Double, Long)],
    var unmerged: mutable.ArrayBuffer[Double],
    var n: Long)

/** Native t-digest quantile sketch (Dunning's merging digest) — the
  * second TypedImperativeAggregate in the engine next to Misra–Gries
  * top-k: arbitrary mutable state, binary partial buffers, map-side
  * combine. Where percentile_approx rides Spark's built-in KLL-style
  * QuantileSummaries, this is the sketch a production engine reaches
  * for when tail quantiles matter: the k₁ scale function
  * k(q) = δ/(2π)·asin(2q−1) concentrates centroid resolution at the
  * extremes, so p99/p999 error shrinks exactly where monitoring needs
  * it. δ = compression; centroid count ≤ ~2δ regardless of n.
  *
  * Oracle-N by design: centroid layout depends on merge order (as does
  * every parallel sketch); the spec asserts the DISTRIBUTION-FREE
  * contracts that hold under any partitioning — rank error of each
  * reported quantile within the k₁ bound, monotone quantile output,
  * exact min/max for q→{0,1} ends, n conservation, and single-pass ≡
  * repartitioned results within the same bound.
  *
  * Scale shape: the data-sized work happens in partial aggregation
  * (map-side); only ≤ 2δ centroids (~3 KB at δ=200) cross the shuffle
  * per group — quantiles over 100 TB shuffle kilobytes per key, the
  * same contract Misra–Gries documents.
  */
case class TDigestQuantiles(
    child: Expression, delta: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TDState] {

  private val quantiles: Seq[Double] = TDigestQuantiles.probes

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("quantile", DoubleType), StructField("estimate", DoubleType),
    StructField("n", LongType), StructField("n_centroids", LongType))))

  override def createAggregationBuffer(): TDState =
    new TDState(mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty, 0L)

  private def kOf(q: Double): Double =
    delta / (2.0 * math.Pi) * math.asin(2.0 * q - 1.0)

  /** Greedy left-to-right centroid merge under the k₁ size budget: a
    * cluster may absorb its right neighbor while the k-distance its
    * combined span covers stays ≤ 1 — the invariant that caps cluster
    * weight at ~4Wδ⁻¹·q(1−q) and guarantees the rank-error bound. */
  private def compress(buf: TDState, force: Boolean = false): Unit = {
    // the early return is ONLY valid for a state whose centroids came
    // out of a previous compress (sorted): merge concatenates two
    // sorted lists into an UNSORTED one, so it must force — a ≤2δ
    // unsorted list would otherwise reach eval's interpolation, whose
    // bracketing search assumes monotone rank locations (caught by the
    // repartition(7) spec: p90 < p50 on a small group)
    if (!force && buf.unmerged.isEmpty &&
        buf.centroids.length <= 2 * delta) return
    val all = (buf.centroids ++ buf.unmerged.map((_, 1L)))
      .sortBy { case (m, _) => m }
    buf.unmerged.clear()
    if (all.isEmpty) { buf.centroids = mutable.ArrayBuffer.empty; return }
    val total = all.map(_._2).sum.toDouble
    val out = mutable.ArrayBuffer.empty[(Double, Long)]
    var (curMean, curW) = all.head
    var wSoFar = 0L
    all.drop(1).foreach { case (m, w) =>
      val qLeft = wSoFar / total
      val qRight = (wSoFar + curW + w) / total
      if (kOf(qRight) - kOf(qLeft) <= 1.0) {
        // weighted mean keeps the cluster centroid exact for its mass
        curMean = (curMean * curW + m * w) / (curW + w)
        curW += w
      } else {
        out += ((curMean, curW)); wSoFar += curW
        curMean = m; curW = w
      }
    }
    out += ((curMean, curW))
    buf.centroids = out
  }

  override def update(buf: TDState, input: InternalRow): TDState = {
    val v = child.eval(input)
    if (v != null) {
      buf.n += 1
      buf.unmerged += (v match {
        case d: Double => d
        case f: Float => f.toDouble
        case l: Long => l.toDouble
        case i: Int => i.toDouble
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case other => other.toString.toDouble
      })
      if (buf.unmerged.length >= 4 * delta) compress(buf)
    }
    buf
  }

  override def merge(a: TDState, b: TDState): TDState = {
    a.centroids ++= b.centroids
    a.unmerged ++= b.unmerged
    a.n += b.n
    compress(a, force = true)
    a
  }

  override def eval(buf: TDState): Any = {
    compress(buf)
    val cs = buf.centroids
    val rows: Seq[InternalRow] =
      if (cs.isEmpty) quantiles.map(q =>
        InternalRow(q, null, 0L, 0L))
      else {
        val total = cs.map(_._2).sum.toDouble
        // centroid i sits at the midpoint rank of its mass
        val locs = {
          var c = 0L
          cs.map { case (m, w) => val at = c + w / 2.0; c += w; (at, m) }
        }
        quantiles.map { q =>
          val target = q * total
          val est =
            if (target <= locs.head._1) locs.head._2
            else if (target >= locs.last._1) locs.last._2
            else {
              val i = locs.lastIndexWhere(_._1 <= target)
              val (r0, m0) = locs(i); val (r1, m1) = locs(i + 1)
              m0 + (m1 - m0) * (target - r0) / (r1 - r0)
            }
          InternalRow(q, est, buf.n, cs.length.toLong)
        }
      }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TDState): Array[Byte] = {
    compress(buf)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeLong(buf.n)
    out.writeInt(buf.centroids.length)
    buf.centroids.foreach { case (m, w) =>
      out.writeDouble(m); out.writeLong(w)
    }
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TDState = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readLong()
    val size = in.readInt()
    val cs = mutable.ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < size) { cs += ((in.readDouble(), in.readLong())); i += 1 }
    new TDState(cs, mutable.ArrayBuffer.empty, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TDigestQuantiles =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TDigestQuantiles =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TDigestQuantiles =
    copy(child = newChildren.head)
}

object TDigestQuantiles {
  /** Probed quantiles: the median plus the tail the k₁ scale function
    * exists for. */
  private[graft] val probes: Seq[Double] = Seq(0.5, 0.9, 0.99)
}
