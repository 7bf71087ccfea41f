package perfbench

/** Per-layer metrics of a traced run, from the spans of its traced ops.
  * Every metric is per op: times are the median over ops of the time
  * the op spent in that layer, counts the mean over ops. Every workload
  * reports every metric; a layer a workload does not call reads 0. */
object Layers {

  def metrics(tracer: Tracer, ops: Seq[Op]): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.traced)
    val byOp = tracer.spans.groupBy(_.op)
    def spans(o: Op, layer: Option[String]) =
      byOp.getOrElse(o.id, Nil).filter(s => layer.forall(_ == s.name))
    def med(os: Seq[Op])(f: Op => Double) = if (os.isEmpty) 0.0 else Stats.median(os.map(f))
    def avg(os: Seq[Op])(f: Op => Double) = Stats.mean(os.map(f))
    def time(layer: String) = med(traced)(o => spans(o, Some(layer)).map(_.seconds).sum)
    def count(layer: Option[String])(f: Counters => Double) =
      avg(traced)(o => spans(o, layer).map(s => f(s.counters)).sum)
    def total(layer: String)(f: Counters => Double) =
      traced.flatMap(o => spans(o, Some(layer))).map(s => f(s.counters)).sum
    def extra(key: String) = avg(traced)(_.extras.getOrElse(key, 0.0))
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val upsert = Some("streaming.upsert")
    val all = None

    Seq(
      ("sources.parse_s", time("sources.parse"), "s"),
      ("etl.transform_s", time("etl.transform"), "s"),
      ("streaming.materialize_s", time("streaming.materialize"), "s"),
      ("streaming.materialize_jobs", count(Some("streaming.materialize"))(_.jobs.toDouble), "count"),
      ("streaming.append_s", time("streaming.append"), "s"),
      ("streaming.append_jobs", count(Some("streaming.append"))(_.jobs.toDouble), "count"),
      ("streaming.append_files", extra("append_files"), "count"),
      ("streaming.upsert_s", time("streaming.upsert"), "s"),
      ("streaming.upsert_jobs", count(upsert)(_.jobs.toDouble), "count"),
      ("streaming.upsert_shuffle_bytes", count(upsert)(_.shuffleWriteBytes.toDouble), "bytes"),
      ("streaming.upsert_rows_rewritten", count(upsert)(_.recordsWritten.toDouble), "count"),
      ("streaming.upsert_changed_ratio",
        ratio(traced.map(_.extras.getOrElse("changed_keys", 0.0)).sum,
          total("streaming.upsert")(_.recordsWritten.toDouble)), "ratio"),
      ("streaming.write_amp",
        ratio(total("streaming.append")(_.bytesWritten.toDouble) +
          total("streaming.upsert")(_.bytesWritten.toDouble),
          total("streaming.append")(_.bytesWritten.toDouble)), "ratio"),
      ("tables.refresh_s", time("tables.refresh"), "s"),
      ("tables.refresh_jobs", count(Some("tables.refresh"))(_.jobs.toDouble), "count"),
      ("tables.history_files", extra("history_files"), "count"),
      ("queries.construct_s", time("queries.construct"), "s"),
      ("queries.construct_jobs", count(Some("queries.construct"))(_.jobs.toDouble), "count"),
      ("spark.plan_s", med(traced)(o => spans(o, all).map(_.counters.planS).sum), "s"),
      ("spark.execute_s", time("spark.execute"), "s"),
      ("spark.execute_jobs", count(Some("spark.execute"))(_.jobs.toDouble), "count"),
      ("spark.stages", count(all)(_.stages.toDouble), "count"),
      ("spark.tasks", count(all)(_.tasks.toDouble), "count"),
      ("spark.shuffle_write_bytes", count(all)(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.shuffle_read_bytes", count(all)(_.shuffleReadBytes.toDouble), "bytes"),
      ("spark.spill_bytes", count(all)(_.spillBytes.toDouble), "bytes"),
      ("spark.task_cpu_s", count(all)(_.cpuS), "s"),
      ("spark.gc_s", count(all)(_.gcS), "s"),
      ("spark.scheduler_wait_s", count(all)(_.schedulerWaitS), "s"),
      ("spark.single_task_stages", count(all)(_.singleTaskStages.toDouble), "count"),
      ("spark.task_skew", med(traced)(o => spans(o, all).map(_.counters.skew).maxOption.getOrElse(1.0)), "ratio"),
      ("spark.failed_tasks", count(all)(_.failedTasks.toDouble), "count"),
      ("trace.overhead_s",
        med(traced)(_.seconds) - med(ops.filterNot(_.traced))(_.seconds), "s"))
  }
}
