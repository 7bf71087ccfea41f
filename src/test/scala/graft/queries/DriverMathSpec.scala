package graft.queries

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** The driver twins in [[DriverMath]] against the Spark expressions they
  * stand in for, on generated inputs that include negatives, exact .5
  * rounding boundaries and values near 10¹⁸: a HALF_EVEN round or a
  * flooring `div` fails here before it moves a catalog result.
  *
  * Raw ScalaCheck (`Prop.forAll` + `Test.check`), one Spark query per
  * generated batch; fixed seed so a failure reproduces. */
class DriverMathSpec extends SparkTestBase {
  import spark.implicits._

  /** Generated rows as an RDD-backed frame, so the expressions run as
    * generated code like a corpus pass (a local relation's projection
    * would be evaluated by the optimizer instead). */
  private def rows[A: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](xs: Seq[A]) =
    spark.createDataset(spark.sparkContext.parallelize(xs, 2))

  private def check(name: String, prop: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(12)
      .withInitialSeed(Seed(20261018L))
    val res = SCTest.check(params, prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val nearE18: Gen[Long] = Gen.choose(-1000000L, 1000000L).map(_ + 1000000000000000000L)
  private val signed: Gen[Long] => Gen[Long] = g => Gen.zip(g, Gen.oneOf(1L, -1L)).map { case (x, s) => x * s }

  private val doubles: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-1000000000L, 1000000000L).map(_ + 0.5), // exact .5 boundaries
    2 -> Gen.choose(-1e12, 1e12),
    1 -> Gen.choose(-10L, 10L).map(_ / 2.0),
    1 -> signed(nearE18).map(_.toDouble),
    1 -> Gen.choose(-1e6, 1e6).map(x => x * 1e6 / 7.0))

  private def bigIntOf(digits: Int): Gen[BigInteger] =
    Gen.listOfN(digits, Gen.choose(0, 9)).map(ds => new BigInteger("0" + ds.mkString))

  /** (a, b) with b ≠ 0 and a = q·b + r, |q| ≤ 10¹⁸, |r| < |b|: every
    * sign combination of a non-exact quotient, where truncation and
    * floor differ, plus exact ones. */
  private val divPairs: Gen[(BigInteger, BigInteger)] = for {
    b <- Gen.frequency(2 -> Gen.choose(1L, 1000L), 2 -> Gen.choose(1L, Long.MaxValue),
      1 -> nearE18).map(BigInteger.valueOf)
    bs <- Gen.oneOf(1, -1)
    q <- Gen.frequency(2 -> Gen.choose(-1000L, 1000L), 2 -> signed(nearE18),
      2 -> Gen.choose(-1000000000000000000L, 1000000000000000000L)).map(BigInteger.valueOf)
    r <- Gen.choose(0L, Long.MaxValue).map(x => BigInteger.valueOf(x).mod(b))
    rs <- Gen.oneOf(1, -1, 0)
  } yield {
    val bb = if (bs < 0) b.negate else b
    (q.multiply(bb).add(r.multiply(BigInteger.valueOf(rs.toLong))), bb)
  }

  private val decimals: Gen[BigInteger] = Gen.frequency(
    2 -> signed(nearE18).map(BigInteger.valueOf),
    2 -> Gen.choose(0L, 1L << 20).map(x => BigInteger.ONE.shiftLeft(53).add(BigInteger.valueOf(x))),
    2 -> Gen.choose(1, 37).flatMap(bigIntOf),
    1 -> Gen.choose(-1000000L, 1000000L).map(BigInteger.valueOf))
    .flatMap(x => Gen.oneOf(x, x.negate))

  test("roundHalfUp equals Spark's round(double, 0) cast to bigint") {
    check("round", Prop.forAll(Gen.listOfN(200, doubles)) { xs =>
      val got = rows(xs).toDF("d").select($"d", round($"d", 0).cast("long"))
        .collect().map(r => r.getDouble(0) -> r.getLong(1))
      got.forall { case (d, l) => DriverMath.roundHalfUp(d) == l }
    })
  }

  test("div equals Spark's decimal(38,0) div (truncation, bigint result)") {
    check("div", Prop.forAll(Gen.listOfN(200, divPairs)) { ps =>
      val got = rows(ps.map { case (a, b) => (a.toString, b.toString) }).toDF("a", "b")
        .select($"a", $"b",
          expr("cast(a as decimal(38,0)) div cast(b as decimal(38,0))"))
        .collect()
      got.forall(r => DriverMath.div(new JBigDecimal(r.getString(0)),
        new JBigDecimal(r.getString(1))) == r.getLong(2))
    })
  }

  test("toDouble equals Spark's decimal(38,0) to double cast") {
    check("toDouble", Prop.forAll(Gen.listOfN(200, decimals)) { xs =>
      val got = rows(xs.map(_.toString)).toDF("s")
        .select($"s", $"s".cast("decimal(38,0)").cast("double")).collect()
      got.forall(r => DriverMath.toDouble(new JBigDecimal(r.getString(0))) == r.getDouble(1))
    })
  }

  test("unitMicro equals Spark's renormalization of a 64-cell decimal(38,0) vector") {
    val cell = Gen.frequency(3 -> Gen.choose(-1000000000000L, 1000000000000L),
      1 -> Gen.choose(-1000L, 1000L))
    check("unitMicro", Prop.forAll(Gen.listOfN(64, cell)) { w =>
      val df = rows(w.zipWithIndex.map { case (x, i) => (i, x.toString) }).toDF("pos", "s")
        .select($"pos", $"s".cast("decimal(38,0)").as("w"))
      val n2 = df.agg(sum($"w" * $"w")).head().getDecimal(0)
      val got = df.select($"pos", round($"w".cast("double") /
        sqrt(lit(n2).cast("double")) * lit(1e6), 0).cast("long"))
        .collect().sortBy(_.getInt(0)).map(_.getLong(1))
      DriverMath.unitMicro(w.map(JBigDecimal.valueOf)).toSeq == got.toSeq
    })
  }
}
