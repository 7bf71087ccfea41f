package graft.queries

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round state that fits on the driver (a 64-cell direction, a few
  * centers, one merge winner) is collected after each corpus pass, updated
  * here and handed to the next pass as a literal. Each function is the JVM
  * arithmetic of the Spark expression it replaces, so the driver walks the
  * same integers the distributed aggregate did (`DriverMathSpec` checks
  * every one against Spark on random inputs). */
object DriverMath {

  /** Spark's `round(d, 0)` cast to bigint: HALF_UP on the shortest
    * decimal rendering of `d`, back to the nearest double (above 2⁵³ that
    * can move the integer), then an exact bigint. */
  def roundHalfUp(d: Double): Long = new JBigDecimal(
    JBigDecimal.valueOf(d).setScale(0, RoundingMode.HALF_UP).doubleValue).longValueExact()

  /** Spark's `a div b` on decimal(38,0): truncates toward zero and
    * returns a bigint (ANSI: an out-of-range quotient throws). */
  def div(a: JBigDecimal, b: JBigDecimal): Long =
    a.toBigIntegerExact.divide(b.toBigIntegerExact).longValueExact()

  /** Spark's cast of a decimal(38,0) to double (correctly rounded). */
  def toDouble(a: JBigDecimal): Double = a.doubleValue

  /** The micro-quantized unit vector of the exact sums `w`:
    * round(w / sqrt(Σw²) · 10⁶), the renormalization of every power
    * iteration round. */
  def unitMicro(w: Seq[JBigDecimal]): Array[Long] = {
    val norm = math.sqrt(toDouble(w.foldLeft(JBigDecimal.ZERO)((n, x) => n.add(x.multiply(x)))))
    w.map(x => roundHalfUp(toDouble(x) / norm * 1e6)).toArray
  }

  /** A micro-quantized direction as the `array<double>` literal of its
    * values in units (v_micro / 10⁶). */
  def microLit(v: Array[Long]): Column = typedLit(v.toSeq.map(_ / 1e6))

  /** Nano-quantized dot product of each `array<float>` row with `dir`:
    * Σᵢ round(xᵢ·dirᵢ·10⁹) in bigint, order-free. */
  def dotNano(vecs: Column, dir: Column): Column =
    aggregate(zip_with(vecs, dir, (x, vi) =>
      round(x.cast("double") * vi * lit(1e9), 0).cast("long")),
      lit(0L), (acc, t) => acc + t)

  /** Nano-quantized squared L2 distance of two `array<float>` columns:
    * Σᵢ round((aᵢ − bᵢ)²·10⁹) in bigint, order-free — the k-means,
    * k-center and product-quantizer distance. */
  def l2Nano(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val diff = x.cast("double") - y.cast("double")
      round(diff * diff * lit(1e9), 0).cast("long")
    }), lit(0L), (acc, t) => acc + t)
}
