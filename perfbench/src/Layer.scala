package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of the traced run, from the recorder's spans and the
  * Spark jobs attributed to them. Figures are per measured batch unless
  * named otherwise (mirror_read: per query; Backfill: per set-up). Every
  * workload reports every metric; a layer it does not exercise reads 0. */
object Layer {
  val Metrics: Seq[(String, String)] = Seq(
    "MergeSink.rows_read" -> "count", "MergeSink.rows_written" -> "count",
    "MergeSink.write_amp" -> "ratio", "MergeSink.busy_s" -> "s",
    "MergeSink.jobs" -> "count", "MergeSink.bytes_written" -> "B",
    "MergeSink.shuffle_bytes" -> "B", "MergeSink.tables_touched" -> "count",
    "MergeSink.files_per_table" -> "count",
    "mirror_read.files_scanned" -> "count", "mirror_read.rows_scanned" -> "count",
    "mirror_read.bytes_scanned" -> "B", "mirror_read.tasks" -> "count") ++
    Mirror.queries.map(q => s"mirror_read.${q.name}_s" -> "s") ++ Seq(
    "WebhookPipeline.batch_s" -> "s", "WebhookPipeline.jobs" -> "count",
    "WebhookPipeline.driver_only_s" -> "s",
    "StripeEvents.parse_route_s" -> "s", "StripeEvents.jobs" -> "count",
    "ReplayGuard.busy_s" -> "s", "ReplayGuard.jobs" -> "count",
    "ReplayGuard.ledger_rows_read" -> "count", "ReplayGuard.bytes_written" -> "B",
    "ReplayGuard.fresh_ratio" -> "ratio",
    "loadgen.batch_events" -> "count", "loadgen.backlog_max" -> "count",
    "Backfill.sync_s" -> "s", "Backfill.chunks" -> "count",
    "Backfill.merge_s_per_chunk" -> "s", "Backfill.rows_read_per_row_synced" -> "ratio",
    "Backfill.fetch_s" -> "s", "Backfill.missing_parents_s" -> "s",
    "executor.busy_frac" -> "ratio", "executor.task_wait_s" -> "s",
    "executor.gc_s" -> "s", "executor.tasks" -> "count",
    "ops_failed_frac" -> "ratio")

  def report(run: Run, rec: Recorder, cores: Int): Unit = {
    val L = run.layer
    val calls = rec.calls.toSeq
    def measured(kind: String) = calls.filter(_.kind == kind)
    def wall(c: Call) = (c.end - c.start) / 1e9
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.pct(xs, 50)
    def mean(xs: Seq[Double]) = Stats.mean(xs)

    val batches = measured("processBatch")
    val syncs = measured("setup:syncAll")
    val queries = measured("query")
    val jobsOf = (batches ++ syncs).map(c => c -> rec.jobsOf(c)).toMap
    val ops = batches.size.toDouble
    def layerJobs(c: Call, layer: String) = {
      val js = jobsOf(c)
      // the first pipeline job of a batch is the route-stats aggregate that
      // materializes the parsed envelope: it is StripeEvents' work
      val parse = if (batches.contains(c)) js.find(_.layer == "WebhookPipeline") else None
      layer match {
        case "StripeEvents" => parse.toSeq ++ js.filter(_.layer == "StripeEvents")
        case "WebhookPipeline" => js.filter(j => j.layer == layer && !parse.contains(j))
        case l => js.filter(_.layer == l)
      }
    }
    def perOp(f: Call => Double): Double = if (ops == 0) 0.0 else batches.map(f).sum / ops
    def sum(layer: String)(g: StageAgg => Long): Call => Double =
      c => rec.stageSum(layerJobs(c, layer))(g).toDouble

    L("MergeSink.rows_read") = perOp(sum("MergeSink")(_.inRecords))
    L("MergeSink.rows_written") = perOp(sum("MergeSink")(_.outRecords))
    L("MergeSink.write_amp") =
      if (run.keys == 0) 0.0 else L("MergeSink.rows_written") * ops / run.keys
    L("MergeSink.busy_s") = perOp(c => rec.busy(layerJobs(c, "MergeSink")))
    L("MergeSink.jobs") = perOp(c => layerJobs(c, "MergeSink").size)
    L("MergeSink.bytes_written") = perOp(sum("MergeSink")(_.outBytes))
    L("MergeSink.shuffle_bytes") = perOp(sum("MergeSink")(_.shuffleWrite))
    L("MergeSink.tables_touched") = mean(run.tablesTouched.toSeq)

    val qJobs = queries.map(rec.jobsOf)
    L("mirror_read.files_scanned") = mean(run.filesScanned.toSeq)
    L("mirror_read.rows_scanned") = mean(qJobs.map(js => rec.stageSum(js)(_.inRecords).toDouble))
    L("mirror_read.bytes_scanned") = mean(qJobs.map(js => rec.stageSum(js)(_.inBytes).toDouble))
    L("mirror_read.tasks") = mean(qJobs.map(js => rec.stageSum(js)(_.tasks).toDouble))
    Mirror.queries.foreach { q =>
      L(s"mirror_read.${q.name}_s") = med(queries.filter(_.label == q.name).map(wall))
    }

    L("WebhookPipeline.batch_s") = med(batches.map(wall))
    L("WebhookPipeline.jobs") = mean(batches.map(c => layerJobs(c, "WebhookPipeline").size.toDouble))
    L("WebhookPipeline.driver_only_s") = mean(batches.map(c => wall(c) - rec.busy(jobsOf(c))))
    L("StripeEvents.parse_route_s") = mean(batches.map(c => rec.busy(layerJobs(c, "StripeEvents"))))
    L("StripeEvents.jobs") = mean(batches.map(c => layerJobs(c, "StripeEvents").size.toDouble))
    L("ReplayGuard.busy_s") = mean(batches.map(c => rec.busy(layerJobs(c, "ReplayGuard"))))
    L("ReplayGuard.jobs") = mean(batches.map(c => layerJobs(c, "ReplayGuard").size.toDouble))
    L("ReplayGuard.ledger_rows_read") = mean(batches.map(sum("ReplayGuard")(_.inRecords)))
    L("ReplayGuard.bytes_written") = mean(batches.map(sum("ReplayGuard")(_.outBytes)))

    if (syncs.nonEmpty) L("Backfill.rows_read_per_row_synced") =
      syncs.map(sum("MergeSink")(_.inRecords)).sum / math.max(1.0, run.bulkRows.toDouble)

    val work = batches ++ queries ++ measured("missingParents")
    val allJobs = work.flatMap(rec.jobsOf).distinct
    val wallS = work.map(wall).sum
    val workOps = ops + queries.size
    L("executor.busy_frac") =
      if (wallS == 0) 0.0 else rec.stageSum(allJobs)(_.runMs) / 1000.0 / (wallS * cores)
    L("executor.task_wait_s") = rec.stageSum(allJobs)(_.waitMs) / 1000.0 / math.max(1.0, workOps)
    L("executor.gc_s") = rec.stageSum(allJobs)(_.gcMs) / 1000.0 / math.max(1.0, workOps)
    L("executor.tasks") = rec.stageSum(allJobs)(_.tasks) / math.max(1.0, workOps)
    L("ops_failed_frac") = run.failed.toDouble / math.max(1L, run.attempted)
    run.info("layers_seen") = rec.jobs.values.asScala.map(_.layer).toSeq.distinct.sorted
  }
}
