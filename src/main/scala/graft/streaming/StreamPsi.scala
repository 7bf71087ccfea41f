package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.queries.DriverMath

/** One streamed value observation (cents already extracted, like the
  * batch `events_psi_drift` entry's first projection). */
case class ValueArrival(series: String, cents: Long)

/** The frozen per-series reference profile a PSI monitor compares
  * against — bin counts over 10 equal-width bins of [mn, mx]. In
  * production this comes from the batch profile job over the training
  * window (bins are FROZEN at deploy time — the standard drift-monitor
  * contract); the parity spec derives it from the batch entry's own
  * first-half/full-range definitions so stream PSI == batch PSI
  * exactly. */
case class PsiRef(counts: Array[Long], mn: Long, mx: Long)

/** Per-series monitor state: current-window bin counts — 10 longs per
  * series no matter the stream volume. */
case class PsiState(counts: Array[Long])

/** The stream's per-batch emission: observation counts and the PSI of
  * the accumulated current window against the frozen reference, in the
  * batch entry's exact nano-quantized arithmetic. */
case class PsiEstimate(series: String, nRef: Long, nCur: Long,
    psiNano: Long)

/** `events_psi_drift` as a LIVE MONITOR via `mapGroupsWithState`: the
  * reference histogram is frozen (broadcast with the task closure —
  * |series|·10 longs), arriving values fold into a 10-counter state,
  * and each micro-batch emits the PSI of the accumulated window
  * against the reference. The PSI arithmetic restates the batch
  * entry's column expression TERM FOR TERM — same +1/+10 Laplace
  * smoothing, same (10⁹·Δp)·ln(ratio) evaluation order on exact-
  * integer-valued doubles, same HALF_UP rounding to the nano lattice,
  * same observed-bins-only sum — so when the reference is the batch
  * entry's first half and the stream carries its second half, the
  * stream PSI equals the batch entry's `psi_nano` bit for bit
  * (StreamPsiSpec). Values outside the frozen [mn, mx] clamp into the
  * edge bins — the production contract for post-deploy outliers; the
  * batch entry never sees them because its range is corpus-wide.
  *
  * Scale: 10 longs of state per series; additive, split-anywhere
  * (order-insensitive), effectively-exactly-once like every streaming
  * count. */
object StreamPsi {

  val Bins = 10

  private[streaming] def bin(ref: PsiRef, x: Long): Int = {
    if (ref.mx == ref.mn) 0
    else {
      val b = ((x - ref.mn) * Bins) / (ref.mx - ref.mn + 1)
      math.max(0, math.min(Bins - 1, b.toInt))
    }
  }

  /** The batch entry's nano-quantized PSI between the frozen reference
    * counts and the current counts: observed bins only (a bin empty on
    * BOTH sides carries no term, matching the batch entry's cell
    * relation), Laplace +1/+10, Spark's `round(term, 0)` per term
    * ([[DriverMath.roundHalfUp]]). */
  private[streaming] def psiNano(ref: Array[Long], cur: Array[Long]): Long = {
    val na = ref.sum
    val nb = cur.sum
    var s = 0L
    var i = 0
    while (i < Bins) {
      if (ref(i) > 0L || cur(i) > 0L) {
        val ca = (ref(i) + 1).toDouble
        val cb = (cur(i) + 1).toDouble
        val da = (na + 10).toDouble
        val db = (nb + 10).toDouble
        val term = (1e9 * (ca / da - cb / db)) *
          math.log((ca * db) / (cb * da))
        s += DriverMath.roundHalfUp(term)
      }
      i += 1
    }
    s
  }

  def psiStream(ds: Dataset[ValueArrival],
      refs: Map[String, PsiRef]): Dataset[PsiEstimate] = {
    implicit val outEnc = Encoders.product[PsiEstimate]
    implicit val stEnc = Encoders.product[PsiState]
    implicit val keyEnc = Encoders.STRING
    ds.groupByKey(_.series)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[ValueArrival],
            state: GroupState[PsiState]) =>
          val ref = refs.getOrElse(series, PsiRef(new Array[Long](Bins), 0L, 0L))
          // clone: the state store may hand back a shared/cached
          // object — mutating it in place before update() aliases
          // store-held state (StreamBootstrap.add clones for the same
          // reason)
          val counts = state.getOption.map(_.counts.clone())
            .getOrElse(new Array[Long](Bins))
          rows.foreach(r => counts(bin(ref, r.cents)) += 1L)
          state.update(PsiState(counts))
          PsiEstimate(series, ref.counts.sum, counts.sum,
            psiNano(ref.counts, counts))
      }
  }
}
