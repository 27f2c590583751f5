package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable quantile sketch [EXT] — the order-statistics member of
  * the engine's sketch family (q114 count-min, q130 HLL, q131
  * Misra–Gries): a bounded multi-level compactor in the
  * Manku–Rajagopalan–Lindsay / KLL line (Karnin–Lang–Liberty, FOCS
  * 2016), kept DETERMINISTIC (no random coin: compaction always keeps
  * the higher element of each sorted pair) so a fixed reduce/merge
  * order reproduces bit-identical state.
  *
  * The cluster-grade guarantee is SELF-CERTIFYING: the sketch carries
  * `errBound`, the exact sum of `weight(l) = 2^l` over every
  * compaction it (or any merged-in sketch) ever performed. For ANY
  * partitioning and ANY merge tree,
  *
  *   | trueRank(estimate(p)) − p·n |  ≤  errBound
  *
  * because one compaction of a weight-w level perturbs every rank by
  * at most w (the classic compactor argument), and the perturbations
  * add across compactions and merges. Like q131's Misra–Gries, only
  * the BOUND is merge-order-free — the retained values legitimately
  * vary with Spark's shuffle order — so queries publish facts that
  * hold under the bound (band membership vs exact quantiles), never
  * the raw retained values. With buffer size k, errBound/n ≈
  * H/(2k) for H ≈ log2(n/k) levels: k = 400 keeps rank error under
  * ~1.5% at any tested scale, comfortably inside the 5% band q141
  * publishes.
  *
  * Scale story: state is ≤ k·H doubles per group (~30 KB at k=400,
  * n=10^12) regardless of input size; reduce is O(1) amortized;
  * merge is level-wise concatenation + the same compactor — the
  * mergeable-summaries shape that lets 1000 executors sketch 100 TB
  * with one partial-combined aggregate and no data-sized state.
  */
final class QSketchState(val k: Int) extends Serializable {
  var n: Long = 0L
  var errBound: Long = 0L
  /** levels(l) holds unsorted items of weight 2^l. */
  val levels: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(ArrayBuffer.empty[Double])

  private def levelAt(l: Int): ArrayBuffer[Double] = {
    while (levels.length <= l) levels += ArrayBuffer.empty[Double]
    levels(l)
  }

  def add(x: Double): Unit = {
    levels(0) += x
    n += 1
    if (levels(0).length >= k) compact(0)
  }

  /** Sort level l, keep the HIGHER of each consecutive pair into level
    * l+1 (odd leftover stays); deterministic, adds 2^l to the bound. */
  private def compact(l: Int): Unit = {
    val buf = levels(l)
    if (buf.length < 2) return
    val arr = buf.toArray
    java.util.Arrays.sort(arr)
    val odd = arr.length % 2
    buf.clear()
    if (odd == 1) buf += arr(0) // unpaired minimum stays at this level
    val up = levelAt(l + 1)
    var i = odd
    while (i < arr.length) { up += arr(i + 1); i += 2 }
    errBound += 1L << l
    if (up.length >= k) compact(l + 1)
  }

  def merge(other: QSketchState): QSketchState = {
    n += other.n
    errBound += other.errBound
    var l = 0
    while (l < other.levels.length) {
      if (other.levels(l).nonEmpty) levelAt(l) ++= other.levels(l)
      l += 1
    }
    l = 0
    while (l < levels.length) { // cascade any overflow bottom-up
      if (levels(l).length >= k) compact(l)
      l += 1
    }
    this
  }

  /** Smallest retained value whose cumulative weight reaches
    * max(1, ceil(p·n)) — rank-correct within [[errBound]]. */
  def quantile(p: Double): Double = {
    require(p >= 0.0 && p <= 1.0, s"p=$p")
    if (n == 0) return Double.NaN
    val items = ArrayBuffer.empty[(Double, Long)]
    var l = 0
    while (l < levels.length) {
      val w = 1L << l
      levels(l).foreach(v => items += ((v, w)))
      l += 1
    }
    val sorted = items.sortBy(_._1)
    val target = math.max(1L, math.ceil(p * n).toLong)
    var cum = 0L
    var i = 0
    while (i < sorted.length) {
      cum += sorted(i)._2
      if (cum >= target) return sorted(i)._1
      i += 1
    }
    sorted.last._1
  }
}

/** Spark Aggregator: doubles in, `(n, err_bound, q…)` struct out.
  * Probed quantiles are fixed at construction (SQL aggregates take no
  * per-call config), published alongside the certified bound so
  * downstream can judge the band for itself. */
class QuantileSketch(k: Int, probes: Seq[Double])
    extends Aggregator[Double, QSketchState, Seq[Double]] {
  require(k >= 8, s"QuantileSketch k must be >= 8, got $k")
  require(probes.nonEmpty, "need at least one probe quantile")

  override def zero: QSketchState = new QSketchState(k)
  override def reduce(b: QSketchState, x: Double): QSketchState = { b.add(x); b }
  override def merge(a: QSketchState, b: QSketchState): QSketchState = a.merge(b)
  /** (n, errBound, quantile(p1), quantile(p2)…) — flat doubles so the
    * column explodes relationally without a struct encoder. */
  override def finish(b: QSketchState): Seq[Double] =
    b.n.toDouble +: b.errBound.toDouble +: probes.map(b.quantile)

  override def bufferEncoder: Encoder[QSketchState] = Encoders.kryo[QSketchState]
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

object QuantileSketch {
  /** Column API: `df.agg(QuantileSketch.summary($"x", 400, Seq(0.5, 0.9)))`
    * → `array<double>` of (n, err_bound, q(0.5), q(0.9)). */
  def summary(c: Column, k: Int, probes: Seq[Double]): Column =
    udaf(new QuantileSketch(k, probes)).apply(c)
}
