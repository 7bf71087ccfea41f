package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase

/** Partition-scoped MERGE ([[Load.upsertLatestPartitioned]] — the
  * `replaceWhere` shape): merge semantics must equal whole-table
  * [[Load.upsertLatest]], untouched partition FILES must be physically
  * untouched by the commit, and applying the same batch twice must be
  * a no-op (idempotence — the strict `>` late-data guard at the file
  * level). */
class UpsertPartitionedSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // bucket = key hash — functionally determined by the key, as the
  // operator's contract requires
  private def snap(rows: (Long, Double, String)*): DataFrame =
    rows.map { case (k, v, t) => (k, v, ts(t), (k % 4).toInt) }
      .toDF("k", "v", "ts", "bucket")

  private def fileList(dir: Path): Map[String, (Long, Long)] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toMap

  private def readBack(path: String): Map[Long, (Double, Timestamp)] =
    spark.read.parquet(path)
      .select($"k", $"v", $"ts").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getTimestamp(2)))
      .toMap

  test("partition-scoped merge equals whole-table merge; untouched " +
      "partitions are physically untouched; reapplying is a no-op") {
    val dir = Paths.get(tempDir("graft_upsert_part_spec"))
    val path = dir.toString
    val current = snap(
      (0L, 1.0, "2024-01-02 00:00:00"), // bucket 0 — untouched
      (1L, 2.0, "2024-01-02 00:00:00"), // bucket 1 — touched, older
      (5L, 3.0, "2024-01-05 00:00:00"), // bucket 1 — touched, newer
      (2L, 4.0, "2024-01-02 00:00:00")) // bucket 2 — untouched
    current.write.mode("overwrite").partitionBy("bucket").parquet(path)
    val untouched0 = fileList(dir.resolve("bucket=0"))
    val untouched2 = fileList(dir.resolve("bucket=2"))

    val batch = snap(
      (1L, 20.0, "2024-01-03 00:00:00"), // newer → updates k=1
      (5L, 30.0, "2024-01-04 00:00:00"), // older → must NOT clobber k=5
      (9L, 90.0, "2024-01-03 00:00:00")) // unseen key, bucket 1 → insert
    Load.upsertLatestPartitioned(spark, path, batch,
      Seq("k"), "ts", "v", "bucket")

    val expected = Load.upsertLatest(current, batch, Seq("k"), "ts", "v")
      .select($"k", $"v", $"ts").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getTimestamp(2)))
      .toMap
    val got = readBack(path)
    assert(got == expected)
    assert(got(1L) == (20.0, ts("2024-01-03 00:00:00")))
    assert(got(5L) == (3.0, ts("2024-01-05 00:00:00")))
    assert(got(9L) == (90.0, ts("2024-01-03 00:00:00")))
    assert(got(0L) == (1.0, ts("2024-01-02 00:00:00")))

    // the dynamic-overwrite commit must not have touched buckets 0/2
    assert(fileList(dir.resolve("bucket=0")) == untouched0)
    assert(fileList(dir.resolve("bucket=2")) == untouched2)

    // idempotence: the same batch again changes nothing (strict >)
    Load.upsertLatestPartitioned(spark, path, batch,
      Seq("k"), "ts", "v", "bucket")
    assert(readBack(path) == expected)
  }
}
