package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Layout

class ZOrderKeySpec extends SparkTestBase {
  import spark.implicits._

  private def z(x: Column, y: Column) = call_function("z_order2", x, y)

  /** Bit-by-bit reference interleave. */
  private def ref(x: Long, y: Long): Long =
    (0 until 32).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  test("matches the bit-by-bit reference; ignores bits above 32") {
    val rnd = new scala.util.Random(3)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (0xFFFFFFFFL, 0xFFFFFFFFL),
      (0x1_0000_0005L, 7L)) ++ Seq.fill(200)((rnd.nextLong().abs, rnd.nextLong().abs))
    cases.foreach { case (x, y) =>
      assert(ZOrderKey.interleave(x, y) == ref(x, y), s"($x, $y)")
    }
  }

  test("expression evaluates through codegen identically to the Scala impl") {
    val df = Seq((3L, 5L), (123456789L, 987654321L)).toDF("x", "y")
    val got = df.select(z($"x", $"y")).as[Long].collect()
    assert(got.toSeq == Seq(ZOrderKey.interleave(3L, 5L),
      ZOrderKey.interleave(123456789L, 987654321L)))
  }

  test("null in either dimension yields a null key") {
    val df = Seq((Some(1L), None: Option[Long]), (None: Option[Long], Some(2L)),
      (Some(1L), Some(2L))).toDF("x", "y")
    val nulls = df.select(z($"x", $"y").as("k")).collect().count(_.isNullAt(0))
    assert(nulls == 2)
  }

  test("z-ordered layout prunes files for single-dimension stripes and 2-D boxes") {
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val base = tempDir("zorder")

    Layout.writeZOrdered(grid.withColumn("zk", z($"x", $"y")),
      s"$base/bz", nFiles = 16, zCol = "zk")
    Layout.writeZOrdered(grid.withColumn("xk", $"x"),
      s"$base/bx", nFiles = 16, zCol = "xk")

    def filesHit(path: String, pred: Column): Int =
      spark.read.parquet(path).filter(pred)
        .select(input_file_name()).distinct().count().toInt

    // y-stripe: the x-sorted layout cannot cluster it — every file has
    // y<8 rows; the z-ordered layout confines it to the files holding
    // the 8 (x-block, y-block 0) quadrants
    val stripe = $"y" < 8
    assert(filesHit(s"$base/bx", stripe) == 16, "x-sort cannot prune a y-stripe")
    assert(filesHit(s"$base/bz", stripe) <= 6,
      "z-order must confine a y-stripe to few files")

    // 2-D box: quadrant (x<16, y<16) is one contiguous z-range
    val box = $"x" < 16 && $"y" < 16
    assert(filesHit(s"$base/bz", box) <= 2,
      "a quadrant must land in at most 2 z-range files")
  }
}
