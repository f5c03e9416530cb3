package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One call the benchmark made into the program: a span with its kind
  * (`processBatch`, `syncAll`, `query`, ...), label and wall interval (ns
  * on the driver's monotonic clock). Calls do not nest. */
final case class Call(id: Int, kind: String, label: String, start: Long, end: Long)

/** Per-job record: which call launched it, which program layer its call
  * site names, its interval, and the task metrics of its stages. */
final class JobRec(val id: Int, val call: Int, val layer: String, val site: String,
                   val start: Long, val stages: Seq[Int]) {
  @volatile var end: Long = start
}

final class StageAgg {
  var tasks = 0L; var runMs = 0L; var gcMs = 0L; var waitMs = 0L
  var inRecords = 0L; var inBytes = 0L; var outRecords = 0L; var outBytes = 0L
  var shuffleWrite = 0L
}

/** Layer attribution: the first program frame of a recorded call site
  * names the layer. Utility frames (lineage staging, the thread pool
  * helper) are skipped so their caller decides. */
object Layers {
  private val byFile: Map[String, String] = Map(
    "MergeSink" -> "MergeSink", "MergeOps" -> "MergeSink", "TableDefs" -> "MergeSink",
    "WebhookPipeline" -> "WebhookPipeline", "Enrichment" -> "WebhookPipeline",
    "StripeEvents" -> "StripeEvents", "ReplayGuard" -> "ReplayGuard",
    "BucketedBloom" -> "ReplayGuard", "Backfill" -> "Backfill",
    "Mirror" -> "mirror_read")
  private val skipped = Set("Stage", "Concurrently")
  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\(([\w$]+)\.scala:\d+\)""".r.unanchored

  def of(callSite: String): String = {
    if (callSite == null) return "other"
    callSite.split("\n").iterator.map {
      case Frame(cls, file) if cls.startsWith("graft.") || cls.startsWith("perfbench.") =>
        if (skipped(file)) None
        else Some(byFile.getOrElse(file, if (cls.startsWith("perfbench.")) "bench" else s"other.$file"))
      case _ => None
    }.collectFirst { case Some(l) => l }.getOrElse("other")
  }
}

/** The traced run's recorder. The benchmark wraps each call into the
  * program in [[call]], which sets a Spark job tag for the call's duration;
  * threads the call spawns inherit the tag, so every Spark job is
  * attributed to its call, and to the layer its call site names. Spans
  * and jobs stay in memory and are written once, at the end. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val TagPrefix = "perfbench-call-"
  private val nextCall = new AtomicInteger(0)
  val calls = mutable.ArrayBuffer.empty[Call]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execSite = new ConcurrentHashMap[Long, String]()

  spark.sparkContext.addSparkListener(this)

  def call[T](kind: String, label: String)(body: => T): T = {
    val id = nextCall.incrementAndGet()
    val tag = TagPrefix + id
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.removeJobTag(tag)
      calls.synchronized(calls += Call(id, kind, label, t0, t1))
    }
  }

  /** Listener events arrive asynchronously: wait until every job is in. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (jobs.values.asScala.exists(j => j.end == j.start) ||
        spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty))
      Thread.sleep(20)
    Thread.sleep(200)
  }

  // listener clock: event timestamps are epoch ms; spans use nanoTime —
  // convert at receipt, the bus lag is far below a job's duration
  private def nowNs(epochMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execSite.put(e.executionId, e.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
    val callId = tags.split(",").collectFirst {
      case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt
    }.getOrElse(-1)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(s => s.toLongOption).flatMap(id => Option(execSite.get(id)))
    val site = exec.orElse(e.stageInfos.headOption.map(_.details)).orNull
    val rec = new JobRec(e.jobId, callId, Layers.of(site),
      Option(site).map(_.split("\n").find(l => l.contains("graft.") || l.contains("perfbench."))
        .getOrElse("").trim).getOrElse(""),
      nowNs(e.time), e.stageIds)
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = nowNs(e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val agg = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    val m = e.taskMetrics
    agg.synchronized {
      agg.tasks += 1
      val submitted = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
      submitted.foreach(s => agg.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      if (m != null) {
        agg.runMs += m.executorRunTime
        agg.gcMs += m.jvmGCTime
        agg.inRecords += m.inputMetrics.recordsRead
        agg.inBytes += m.inputMetrics.bytesRead
        agg.outRecords += m.outputMetrics.recordsWritten
        agg.outBytes += m.outputMetrics.bytesWritten
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Jobs launched by `c`, in start order. */
  def jobsOf(c: Call): Seq[JobRec] =
    jobs.values.asScala.filter(_.call == c.id).toSeq.sortBy(_.start)

  def stageSum(js: Seq[JobRec])(f: StageAgg => Long): Long =
    js.flatMap(_.stages).distinct.map(s => Option(stages.get(s)).map(f).getOrElse(0L)).sum

  /** Wall time (s) covered by at least one of the intervals. */
  def busy(js: Seq[JobRec]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    js.map(j => (j.start, math.max(j.start, j.end))).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }

  /** Spans and jobs as one JSON document. */
  def spansJson(t0: Long): String = {
    val cs = calls.toSeq.map(c => Json.obj("name" -> c.kind, "label" -> c.label,
      "span" -> c.id.toLong, "parent" -> 0L,
      "start_s" -> (c.start - t0) / 1e9, "end_s" -> (c.end - t0) / 1e9))
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map(j => Json.obj("name" -> s"job:${j.layer}",
      "job" -> j.id.toLong, "parent" -> j.call.toLong, "site" -> j.site,
      "start_s" -> (j.start - t0) / 1e9, "end_s" -> (j.end - t0) / 1e9,
      "tasks" -> stageSum(Seq(j))(_.tasks),
      "rows_read" -> stageSum(Seq(j))(_.inRecords),
      "rows_written" -> stageSum(Seq(j))(_.outRecords)))
    Json.render(Json.obj("calls" -> cs, "jobs" -> js))
  }
}
