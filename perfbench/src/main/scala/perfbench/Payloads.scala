package perfbench

import java.util.Locale

import scala.collection.mutable

/** One `/live` response: `quotes` maps a target to its rate text, or to
  * `None` for a JSON null. A failed response carries no quotes. */
final case class Payload(base: String, success: Boolean, ts: Long,
    quotes: Seq[(String, Option[String])]) {

  def json: String =
    if (!success)
      s"""{"success":false,"error":{"code":104,"info":"usage limit reached"}}"""
    else {
      val q = quotes.map { case (t, r) => s""""$base$t":${r.getOrElse("null")}""" }
      s"""{"success":true,"source":"$base","timestamp":$ts,"quotes":{${q.mkString(",")}}}"""
    }
}

/** One micro-batch: the payloads one scheduled fetch returns, stamped
  * with the fetch time (`retrievedAt`, epoch seconds). */
final case class Batch(id: Long, retrievedAt: Long, payloads: Seq[Payload])

/** One warehouse row as the pipeline should produce it. */
final case class RateRow(base: String, target: String, rate: Double,
    ts: Long, retrievedAt: Long) {
  def key: (String, String) = (base, target)
}

/** Seeded `/live` payload stream for `ingest_refresh`: 8 bases with
  * ~170 quotes each per batch, 5% failed payloads, 2% null rates, 10%
  * late timestamps, and 2 of the 8 bases fetched twice in every batch
  * (duplicate keys, some tied on the timestamp). Batch `i` depends only on
  * `(seed, i)`, so any batch can be regenerated on its own. */
final class PayloadGen(seed: Long) {
  import PayloadGen._

  def batch(i: Long): Batch = {
    val rnd = new scala.util.Random(seed * 1000003L + i)
    val clock = T0 + i * 3600L
    // the seed picks which bases repeat and which payload fails, not how
    // many: every batch has 10 payloads and every other batch one failed
    // payload (5%), so runs under different seeds commit nearly the same
    // number of rows
    val repeated = rnd.shuffle(Bases).take(RepeatedBases).toSet
    val failing = if (i % 2 == 1) rnd.nextInt(Bases.size + RepeatedBases) else -1
    var n = -1
    def next(base: String, ts: Long): Payload = { n += 1; payload(rnd, base, ts, n == failing) }
    val payloads = Bases.flatMap { base =>
      val first = next(base, clock)
      // a repeated fetch of the same base: same timestamp (a tie the
      // rate breaks) or a minute apart either way
      if (repeated(base)) Seq(first, next(base, first.ts + 60L * (rnd.nextInt(3) - 1)))
      else Seq(first)
    }
    Batch(i, clock + 300L, payloads)
  }

  private def payload(rnd: scala.util.Random, base: String, clock: Long, failed: Boolean): Payload = {
    val ts = if (rnd.nextDouble() < LateShare) clock - 3600L * (1 + rnd.nextInt(3)) else clock
    val quotes = Targets.filter(_ => rnd.nextDouble() < QuoteShare).map { t =>
      val rate =
        if (rnd.nextDouble() < NullShare) None
        else Some("%.6f".formatLocal(Locale.ROOT,
          level(base, t) * (1.0 + 0.01 * rnd.nextGaussian())))
      t -> rate
    }
    Payload(base, !failed, ts, if (failed) Nil else quotes)
  }
}

object PayloadGen {
  val Bases: Seq[String] = Seq("USD", "EUR", "GBP", "JPY", "CHF", "CAD", "AUD", "CNY")
  /** 170 synthetic target codes; none collides with a base. */
  val Targets: Seq[String] =
    for (a <- 'A' to 'G'; b <- 'A' to 'Z' if !(a == 'G' && b > 'N')) yield s"Q$a$b"
  val T0 = 1704067200L // 2024-01-01T00:00:00Z
  val NullShare = 0.02
  val LateShare = 0.10
  /** Bases fetched twice in every batch: a quarter of them. */
  val RepeatedBases = 2
  val QuoteShare = 0.97

  private def level(base: String, target: String): Double =
    0.05 + (((base + target).hashCode & 0x7fffffff) % 100000) / 100.0

  /** The rows `Fetch.parseLive` followed by the null-rate drop should
    * yield for a batch: successful payloads only, null rates removed. */
  def rows(b: Batch): Seq[RateRow] =
    for {
      p <- b.payloads if p.success
      (t, r) <- p.quotes
      rate <- r
    } yield RateRow(p.base, t, rate.toDouble, p.ts, b.retrievedAt)
}

/** Plain-Scala model of the two warehouse tables under the reference's
  * MERGE (`load_to_bigquery.py`): a batch's newest row per key is taken
  * first (a timestamp tie goes to the higher rate, the pipeline's tie
  * column), and it replaces the stored row only if strictly newer
  * (`S.ts > T.ts`); on a tie the stored row stays. History keeps every
  * row. */
final class MergeModel {
  private val current = mutable.HashMap.empty[(String, String), RateRow]
  private val newestInHistory = mutable.HashMap.empty[(String, String), RateRow]
  private var history = 0L

  private def newer(a: RateRow, b: RateRow): Boolean =
    a.ts > b.ts || (a.ts == b.ts && a.rate > b.rate)

  /** Applies one batch; returns the number of keys it inserted or updated. */
  def apply(rows: Seq[RateRow]): Int = {
    history += rows.size
    val best = mutable.HashMap.empty[(String, String), RateRow]
    rows.foreach { r =>
      if (best.get(r.key).forall(newer(r, _))) best(r.key) = r
      if (newestInHistory.get(r.key).forall(newer(r, _))) newestInHistory(r.key) = r
    }
    var changed = 0
    best.values.foreach { r =>
      if (current.get(r.key).forall(r.ts > _.ts)) { current(r.key) = r; changed += 1 }
    }
    changed
  }

  def snapshot: Map[(String, String), RateRow] = current.toMap
  def historyRows: Long = history
  /** The dashboard's "latest rate for a pair" read over history. */
  def latest(key: (String, String)): Option[RateRow] = newestInHistory.get(key)
}
