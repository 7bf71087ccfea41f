package graft.queries

import scala.io.Source

import graft.{SparkEntry, SparkTestBase, Tables}
import graft.obs.RunMetrics

/** The iterative entries whose round state lives on the driver: at
  * sf0.001 each returns the rows of the oracle-green dump taken before
  * the state moved there (`driver-rounds-golden/<entry>.tsv`, sorted),
  * within its job budget for one construct + execute, and on empty
  * `embeddings`/`documents` tables each returns no rows with its usual
  * schema. */
class DriverRoundsSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  /** entry -> (schema, construct + execute jobs at most). */
  private val entries = Seq(
    "embed_pca_power_iter" -> ("struct<pos:int,v_micro:bigint>", 13),
    "embed_abtt_residual" ->
      ("struct<vec_id:bigint,dot_nano:bigint,cos2_ppm:bigint>", 16),
    "embed_pca_deflate" -> ("struct<pos:int,v1_micro:bigint,v2_micro:bigint," +
      "lam2_ppm:bigint,ortho_micro2:bigint>", 28),
    "sample_kcenter_coreset" -> ("struct<rnk:int,vec_id:bigint,d2q_sel:bigint>", 11),
    "retrieval_mmr_diversify" -> ("struct<rnk:int,vec_id:bigint,rel_ppm:bigint>", 5),
    "vocab_bpe_merges" -> ("struct<round:bigint,pair:string,cnt:bigint>", 15),
    "vocab_bpe_apply" -> ("struct<doc_id:bigint,n_words:bigint,n_tokens:bigint," +
      "n_chars:bigint,tokens_per_char_ppm:bigint>", 20),
    "vocab_fertility_by_lang" -> ("struct<lang:string,n_words:bigint," +
      "n_tokens:bigint,n_chars:bigint,tokens_per_word_ppm:bigint," +
      "chars_per_token_ppm:bigint>", 20))

  private def golden(name: String): Seq[String] = {
    val src = Source.fromResource(s"driver-rounds-golden/$name.tsv")
    try src.getLines().toSeq finally src.close()
  }

  for ((name, (schema, maxJobs)) <- entries)
    test(s"$name: the golden rows at sf0.001, in at most $maxJobs jobs") {
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sf)
      val rows = df.collect().map(_.toSeq.map(v => if (v == null) "" else v.toString)
        .mkString("\t"))
      assert(df.schema.simpleString == schema)
      assert(df.columns.mkString("\t") +: rows.toSeq.sorted ==
        golden(name).head +: golden(name).tail.sorted)
      val rec = new RunMetrics.Recorder(keepPlans = false)
      val jobs = RunMetrics.recording(spark, rec) {
        RunMetrics.inGroup(spark, "driver-rounds")(
          fn(spark, sf).write.format("noop").mode("overwrite").save())
        RunMetrics.settle(spark, rec)
        rec.take("driver-rounds").jobs
      }
      assert(jobs <= maxJobs, s"$name ran $jobs jobs")
    }

  test("empty embeddings and documents tables: no rows, the same schemas") {
    val d = tempDir("driver-rounds-empty")
    for (t <- Seq("embeddings", "documents"))
      Tables.table(spark, sf, t).limit(0).write.parquet(s"$d/$t.parquet")
    for ((name, (schema, _)) <- entries) {
      val df = SparkEntry.queries(name)(spark, d)
      assert(df.schema.simpleString == schema, name)
      assert(df.collect().isEmpty, name)
    }
  }
}
