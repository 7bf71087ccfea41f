package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase}

/** split_leakage_safe's one guarantee: byte-identical copies of a text
  * can NEVER straddle the train/eval boundary, because the split hash
  * reads the group key (md5 of the text), not the document id. The
  * doc-id split demonstrably lacks that property on the same corpus —
  * that contrast is the reason the entry exists. */
class LeakageSplitSpec extends SparkTestBase {

  private lazy val dir: String = {
    val d = tempDir("leak-fixture")
    val s = spark
    import s.implicits._
    // 40 distinct texts, each duplicated under two far-apart doc_ids
    val docs = (0 until 40).flatMap { i =>
      val text = s"document body number $i with shared content"
      Seq((i.toLong, text, "en", "src0", text.length.toLong),
        (1000L + i, text, "en", "src1", text.length.toLong))
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def bucketOf(u: org.apache.spark.sql.Column) =
    when(u < 80, "train").when(u < 90, "val").otherwise("test")

  test("group-keyed split keeps every duplicate pair on one side") {
    val s = spark
    import s.implicits._
    // replay the entry's assignment at DOC level and assert atomicity
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val assigned = docs.select($"text",
      bucketOf(conv(substring(md5(concat(md5($"text"), lit("|split"))),
        1, 15), 16, 10).cast("long") % 100L).as("bucket"))
    val split = assigned.groupBy($"text")
      .agg(countDistinct($"bucket").as("nb"))
      .where($"nb" > 1).count()
    assert(split == 0L)
    // and the catalog entry's census accounts for every doc and group
    val census = SparkEntry.queries("split_leakage_safe")(spark, dir)
      .collect()
    assert(census.map(_.getLong(2)).sum == 80L) // n_docs
    assert(census.map(_.getLong(1)).sum == 40L) // n_groups
  }

  test("doc-id split leaks: some duplicate pair straddles the boundary") {
    val s = spark
    import s.implicits._
    val docs = s.read.parquet(s"$dir/documents.parquet")
    // the split_train_val_test arithmetic (hash of the ID, not the text)
    val assigned = docs.select($"text",
      bucketOf(conv(substring(md5(concat($"doc_id".cast("string"),
        lit("|split"))), 1, 15), 16, 10).cast("long") % 100L).as("bucket"))
    val split = assigned.groupBy($"text")
      .agg(countDistinct($"bucket").as("nb"))
      .where($"nb" > 1).count()
    assert(split > 0L,
      "fixture should exhibit at least one leaked duplicate pair")
  }
}
