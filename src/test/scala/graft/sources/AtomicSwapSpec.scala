package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkTestBase

/** Every crash window of the snapshot-swap protocol, driven to its
  * recovery post-condition: the destination directory exists and holds
  * the correct snapshot after `recover`, whatever state the crash left. */
class AtomicSwapSpec extends SparkTestBase {
  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def write(dir: String, rows: Seq[Int]): Unit =
    rows.toDF("v").coalesce(1).write.mode("overwrite").parquet(dir)

  private def readVals(dir: String): Set[Int] =
    spark.read.parquet(dir).as[Int].collect().toSet

  private def tmp() = tempDir("graft_swap") + "/snap"

  test("crash after commit point: complete staging installs, __old is dropped") {
    val dest = tmp()
    write(dest + "__staging", Seq(1, 2, 3)) // new snapshot, fully committed
    write(dest + "__old", Seq(1)) // previous snapshot, renamed aside
    AtomicSwap.recover(fs, new Path(dest))
    assert(readVals(dest) == Set(1, 2, 3))
    assert(!fs.exists(new Path(dest + "__old")))
    assert(!fs.exists(new Path(dest + "__staging")))
  }

  test("crash before commit point: uncommitted staging is discarded, dest kept") {
    val dest = tmp()
    write(dest, Seq(1, 2))
    write(dest + "__staging", Seq(9, 9, 9))
    fs.delete(new Path(dest + "__staging", "_SUCCESS"), false) // incomplete
    AtomicSwap.recover(fs, new Path(dest))
    assert(readVals(dest) == Set(1, 2))
    assert(!fs.exists(new Path(dest + "__staging")))
  }

  test("staging lost with dest renamed aside: __old is restored") {
    val dest = tmp()
    write(dest + "__old", Seq(1, 2))
    AtomicSwap.recover(fs, new Path(dest))
    assert(readVals(dest) == Set(1, 2))
    assert(!fs.exists(new Path(dest + "__old")))
  }

  test("leftover __old next to a live dest is cleaned up") {
    val dest = tmp()
    write(dest, Seq(3, 4))
    write(dest + "__old", Seq(1, 2))
    AtomicSwap.recover(fs, new Path(dest))
    assert(readVals(dest) == Set(3, 4))
    assert(!fs.exists(new Path(dest + "__old")))
  }

  test("swapIn: dest readable before (old data) and after (new data), no leftovers") {
    val dest = tmp()
    write(dest, Seq(1, 2))
    AtomicSwap.swapIn(fs, new Path(dest)) { stg =>
      // read-modify-write: the old snapshot must still be readable here
      assert(readVals(dest) == Set(1, 2))
      write(stg.toString, Seq(1, 2, 3))
    }
    assert(readVals(dest) == Set(1, 2, 3))
    assert(!fs.exists(new Path(dest + "__old")))
    assert(!fs.exists(new Path(dest + "__staging")))
  }
}
