package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import graft.GraftSession

/** Run options, as passed by `run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, out: String, traceOut: String)

/** Timings and counts one workload run collects. */
final class Run(val opts: Opts, val spark: SparkSession, val rec: Option[Recorder]) {
  val setup = mutable.ArrayBuffer.empty[Double]
  val commits = mutable.ArrayBuffer.empty[Double]
  val freshness = mutable.ArrayBuffer.empty[Double]
  val queries = mutable.ArrayBuffer.empty[(String, Double)]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var applied = 0L        // deliveries or entities the engine applied
  var engineS = 0.0       // wall of the calls that applied them
  var keys = 0L           // distinct keys those deliveries carried
  var bulkRows = 0L
  var bulkS = 0.0
  var mirrorRows = 0L
  var mirrorBytes = 0L
  val info = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val heap = new Heap
  /** "setup", "warmup" or "measure": calls outside "measure" are traced
    * as "<phase>:<kind>", apart from the measured ones. */
  var phase = "setup"
  /** Mirror tables rewritten per measured batch (traced run only). */
  val tablesTouched = mutable.ArrayBuffer.empty[Double]
  /** Parquet files under the tables each measured query reads. */
  val filesScanned = mutable.ArrayBuffer.empty[Double]

  private val born = System.nanoTime()
  /** Seconds since the run began at which each named phase ended. */
  def mark(phase: String): Unit =
    info(s"${phase}_end_s") = math.round((System.nanoTime() - born) / 1e7) / 100.0

  def fail(what: String): Unit = { failed += 1; if (failures.size < 20) failures += what }

  /** Time one call into the program; in the traced run it is also a span
    * whose Spark jobs are attributed to it. Exceptions count as failures. */
  def call[T](kind: String, label: String)(body: => T): (Option[T], Double) = {
    attempted += 1
    val k = if (phase == "measure") kind else s"$phase:$kind"
    val t0 = System.nanoTime()
    val r = try Some(rec.fold(body)(_.call(k, label)(body)))
    catch { case e: Exception =>
      fail(s"$kind $label threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      None
    }
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** In the traced run, count the mirror tables `body` rewrote. */
  def touched[T](dir: String)(body: => T): T =
    if (rec.isEmpty || phase != "measure") body
    else {
      def stamps = Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .map(f => f.getName -> f.lastModified).toMap
      val before = stamps
      val r = body
      tablesTouched += stamps.count { case (t, m) => !before.get(t).contains(m) }
      r
    }

  def df(ds: Seq[Delivery]): DataFrame =
    spark.createDataset(ds.map(_.json))(Encoders.STRING).toDF("value")

  /** The five mirror queries, each checked against the oracle's answer. */
  def runQueries(dir: String, o: Oracle): Unit =
    Mirror.queries.foreach { q =>
      if (rec.isDefined)
        filesScanned += Mirror.layout(spark, dir, q.tables).values.map(_._1).sum
      val (got, s) = call("query", q.name)(Mirror.run(spark, dir, q))
      got.foreach { rows =>
        queries += q.name -> s
        val want = q.expected(o).sorted
        if (rows != want)
          fail(s"query ${q.name}: got ${rows.take(3).mkString(";")} (${rows.size} rows), " +
            s"expected ${want.take(3).mkString(";")} (${want.size} rows)")
      }
    }

  /** Compare the stored mirror with the oracle; take the mirror's size
    * and file figures. */
  def verifyMirror(dir: String, o: Oracle): Unit = {
    attempted += 1
    Mirror.verify(spark, dir, o).foreach(m => fail(s"mirror $m"))
    val lay = Mirror.layout(spark, dir, o.tables.keys)
    mirrorRows = o.tables.values.map(_.size.toLong).sum
    mirrorBytes = lay.values.map(_._2).sum
    layer("MergeSink.files_per_table") =
      lay.values.map(_._1).sum.toDouble / math.max(1, lay.count(_._2._1 > 0))
  }
}

/** Live heap: heap in use right after a forced full collection at the end
  * of the run, when the oracle and the mirror are at their largest.
  * Forcing the collection keeps the figure independent of when the
  * collector happened to run. */
final class Heap {
  private var maxMb = 0.0
  def checkpoint(): Unit = {
    // the second collection runs after Spark's cleaner has dropped the
    // blocks of RDDs the first one found unreachable
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    maxMb = math.max(maxMb, used / 1048576.0)
  }
  def mb: Double = maxMb
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("out"), kv.getOrElse("trace-out", ""))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val rec = if (opts.trace) Some(new Recorder(spark)) else None
    val run = new Run(opts, spark, rec)
    val t0 = System.nanoTime()
    try {
      Oracle.selfCheck().foreach(f => run.fail(s"oracle self-check: $f"))
      opts.workload match {
        case "webhook_catchup" => Workloads.catchup(run)
        case "webhook_live" => Workloads.live(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.heap.checkpoint()
      run.mark("verify")
      rec.foreach { r =>
        r.drain()
        Layer.report(run, r, cores)
        if (opts.traceOut.nonEmpty)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(opts.traceOut), r.spansJson(t0))
      }
      Result.write(run, cores)
    } finally spark.stop()
  }
}
