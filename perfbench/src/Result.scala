package perfbench

object Stats {
  /** Linear-interpolated percentile `p` (0-100) of `xs`; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least ten samples above it,
    * floored at the median (fewer than ~21 samples give no tail). */
  def tailPct(n: Int): Int =
    if (n < 21) 50 else math.min(99, math.max(50, math.floor(100.0 * (n - 11) / (n - 1)).toInt))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** The run's result: an info line (environment, sizes, sample counts,
  * failures), then the one-line JSON result, which is the last line. */
object Result {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "commit_p50_s" -> "s", "commit_tail_s" -> "s",
    "events_per_s" -> "1/s", "freshness_p50_s" -> "s", "freshness_tail_s" -> "s",
    "backfill_rows_per_s" -> "1/s", "query_p50_s" -> "s", "query_tail_s" -> "s",
    "mirror_bytes_per_row" -> "B", "live_heap_mb" -> "MB")

  def write(run: Run, cores: Int): Unit = {
    val spark = run.spark
    val qs = run.queries.map(_._2).toSeq
    def tail(xs: Seq[Double]) = Stats.pct(xs, Stats.tailPct(xs.size))
    val e2e: Map[String, Double] = Map(
      "setup_s" -> Stats.pct(run.setup.toSeq, 50),
      "commit_p50_s" -> Stats.pct(run.commits.toSeq, 50),
      "commit_tail_s" -> tail(run.commits.toSeq),
      "events_per_s" -> run.applied / math.max(1e-9, run.engineS),
      "freshness_p50_s" -> Stats.pct(run.freshness.toSeq, 50),
      "freshness_tail_s" -> tail(run.freshness.toSeq),
      "backfill_rows_per_s" -> run.bulkRows / math.max(1e-9, run.bulkS),
      "query_p50_s" -> Stats.pct(qs, 50),
      "query_tail_s" -> tail(qs),
      "mirror_bytes_per_row" -> run.mirrorBytes.toDouble / math.max(1L, run.mirrorRows),
      "live_heap_mb" -> run.heap.mb)
    val samples = Json.obj(
      "setup" -> run.setup.size.toLong, "commit" -> run.commits.size.toLong,
      "freshness" -> run.freshness.size.toLong, "query" -> qs.size.toLong)
    val tails = Json.obj(
      "commit_tail_pct" -> Stats.tailPct(run.commits.size).toLong,
      "freshness_tail_pct" -> Stats.tailPct(run.freshness.size).toLong,
      "query_tail_pct" -> Stats.tailPct(qs.size).toLong)
    val info = Json.obj((Seq(
      "workload" -> run.opts.workload, "seed" -> run.opts.seed,
      "trace" -> run.opts.trace,
      "nproc" -> cores.toLong,
      "default_parallelism" -> spark.sparkContext.defaultParallelism.toLong,
      "spark_version" -> spark.version,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "source_sha" -> sys.props.getOrElse("perfbench.source", "unknown"),
      "git_sha" -> sys.props.getOrElse("perfbench.git", "unknown"),
      "samples" -> samples, "tails" -> tails,
      "mirror_rows" -> run.mirrorRows,
      "failures" -> run.failures.toSeq) ++
      run.info.toSeq ++
      (if (run.opts.trace) Seq("traced_end_to_end" -> metrics(e2e)) else Nil)): _*)
    println(Json.render(Json.obj("info" -> info)))
    val reported: Obj =
      if (run.opts.trace) Json.obj(Layer.Metrics.map { case (n, u) =>
        n -> Json.obj("value" -> run.layer.getOrElse(n, 0.0), "unit" -> u)
      }: _*)
      else metrics(e2e)
    val result = Json.render(Json.obj(
      "correct" -> (run.failed == 0L), "attempted" -> run.attempted,
      "failed" -> run.failed, "metrics" -> reported))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(run.opts.out), result + "\n")
    println(result)
  }

  private def metrics(e2e: Map[String, Double]): Obj =
    Json.obj(EndToEnd.map { case (n, u) => n -> Json.obj("value" -> e2e(n), "unit" -> u) }: _*)
}
