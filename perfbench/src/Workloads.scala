package perfbench

import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.model.TableDefs
import graft.operators.{Backfill, MergeSink}
import graft.streaming.{SyncConfig, WebhookPipeline}

/** The two workloads. Each drives the engine only through its public entry
  * points. Sizes are fixed, and the measured work follows from `--seconds`
  * alone, so every seed and every commit does the same amount of work. */
object Workloads {
  /** Set-up loads the initial mirror in this many slices, each a fixed
    * group of tables; `setup_s` is the median slice. */
  val SetupSlices = 3

  /** Tables dealt round-robin into `SetupSlices` groups, largest first, so
    * every run forms the same groups. */
  private def slices(sizes: Map[String, Int]): Seq[Set[String]] = {
    val order = sizes.toSeq.sortBy { case (t, n) => (-n, t) }.map(_._1)
    (0 until SetupSlices).map(i => order.zipWithIndex.collect { case (t, k) if k % SetupSlices == i => t }.toSet)
  }

  // webhook_catchup: closed loop of fixed-size batches over a large mirror
  val CatchupRows = 15000
  val CatchupBatch = 1000
  val WarmupBatch = 100
  /** Nominal seconds per measured batch: `--seconds` buys this many. */
  val CatchupBatchS = 4.0

  // webhook_live: backfilled small mirror, then an open loop at a fixed
  // offered rate with the events ledger and event-id dedup on
  val LiveRows = 1000
  val LiveRate = 8.0
  /** The open loop starts with this many seconds of deliveries already
    * due, and starts again with the same backlog when the warm-up batch
    * commits. */
  val LiveBacklogS = 3.0
  /** Unmeasured batches before the measured ones: the warm-up batch, then
    * the one cut right after the schedule restarts. */
  val LiveUnmeasured = 2
  /** Nominal seconds per measured live batch: `--seconds` buys this many. */
  val LiveBatchS = 4.0
  /** Every LiveRetryEvery-th batch runs twice (an at-least-once retry). */
  val LiveRetryEvery = 3
  val ChunkSize = 250 // Backfill.syncAll's flush size

  /** Set-up for webhook_catchup: bulk-load the seed state into one mirror
    * through `MergeSink.upsertParquet`, a guarded upsert per table into an
    * empty directory. The input frames are built outside the timed calls. */
  private def bulkLoad(run: Run, o: Oracle): String = {
    import scala.jdk.CollectionConverters._
    val dir = s"${run.opts.work}/mirror"
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val groups = slices(o.tables.map { case (t, rows) => t -> rows.size }.toMap)
      .map(_.toSeq.sorted.map { name =>
        val t = TableDefs.byTable(name)
        val data = o.tables(name).values.map(r =>
          Row.fromSeq(r.values.toSeq :+ now :+ new java.sql.Timestamp(r.ts / 1000L))).toSeq
        t -> run.spark.createDataFrame(data.asJava, t.schema)
      })
    groups.zipWithIndex.foreach { case (frames, i) =>
      val (_, s) = run.call("bulkLoad", s"slice ${i + 1}")(
        frames.foreach { case (t, df) => MergeSink.upsertParquet(df, dir, t) })
      run.setup += s
    }
    run.bulkRows = o.tables.values.map(_.size.toLong).sum
    run.bulkS = run.setup.sum
    dir
  }

  def catchup(run: Run): Unit = {
    val o = run.opts
    val account = new Account(o.seed, Sizes.forRows(CatchupRows), Gen.Backlog)
    // the billing core only (no catalog, so no hard deletes): each extra
    // table is another full rewrite per batch
    val traffic = new Traffic(account, Traffic.Catchup)
    val oracle = new Oracle(dedup = false, ledger = false)
    val seed = traffic.seedBatch()
    oracle(seed)
    val dir = bulkLoad(run, oracle)
    run.mark("setup")
    run.phase = "warmup"
    val p = new WebhookPipeline(dir)
    var batchId = 1L
    def step(size: Int): Unit = {
      val b = traffic.batch(size)
      val raw = run.df(b)
      val id = batchId
      val (_, s) = run.touched(dir)(run.call("processBatch", s"batch $id")(p.processBatch(raw, id)))
      oracle(b)
      if (run.phase == "measure") {
        // closed loop: a delivery is due when its batch starts
        run.commits += s; run.freshness += s
        run.applied += b.size; run.engineS += s
        run.keys += oracle.lastKeys
      }
      batchId += 1
    }
    step(WarmupBatch)
    run.mark("warmup")
    run.phase = "measure"
    val batches = math.max(2, math.ceil(o.seconds / CatchupBatchS).toInt)
    // the five mirror queries right after warm-up (they also warm the
    // planner the measured batches use), then after each measured batch
    run.runQueries(dir, oracle)
    (1 to batches).foreach { _ =>
      step(CatchupBatch)
      run.runQueries(dir, oracle)
    }
    run.mark("measure")
    run.verifyMirror(dir, oracle)
    run.info("batch_deliveries") = CatchupBatch
    run.info("measured_batches") = batches
    run.info("seed_deliveries") = seed.size
  }

  def live(run: Run): Unit = {
    val o = run.opts
    val spark = run.spark
    val account = new Account(o.seed, Sizes.forRows(LiveRows), Gen.Live)
    val traffic = new Traffic(account, Traffic.Live)
    val oracle = new Oracle(dedup = true, ledger = true)
    val config = SyncConfig(eventsLedger = true, dedupEventIds = true)
    val dir = s"${o.work}/mirror"

    // set-up: Backfill.syncAll of the account, one slice of tables at a time
    val catalog = Catalog.of(account)
    Catalog.register("main", catalog)
    val fetcher = new CatalogFetcher("main")
    val fetch0 = Catalog.fetchNanos.get()
    slices(catalog.listed.map { case (t, rows) => t -> rows.size }).zipWithIndex.foreach { case (tables, i) =>
      val key = s"slice$i"
      Catalog.register(key, catalog.only(tables))
      val (synced, s) = run.call("syncAll", s"slice ${i + 1}")(
        Backfill.syncAll(spark, dir, new CatalogFetcher(key)))
      run.setup += s
      run.bulkRows += synced.map(_.values.sum).getOrElse(0L)
    }
    run.bulkS = run.setup.sum
    catalog.listed.foreach { case (t, rows) =>
      oracle.load(TableDefs.byTable(t), rows.iterator.map(_._3()))
    }
    val chunks = chunkTimes()
    run.layer("Backfill.sync_s") = run.setup.sum
    run.layer("Backfill.chunks") = chunks.size
    run.layer("Backfill.merge_s_per_chunk") = Stats.mean(chunks)
    run.layer("Backfill.fetch_s") = (Catalog.fetchNanos.get() - fetch0) / 1e9
    run.mark("setup")

    // the rest of a backfill: the missing-parent pass, then the five
    // queries over the freshly written layout
    run.phase = "measure"
    // J2: fetch the parents the charges reference but the mirror lacks
    val child = TableDefs.charges
    val (_, ms) = run.call("missingParents", child.table)(
      Backfill.backfillParents(spark, dir, spark.read.parquet(s"$dir/${child.table}"),
        child, fetcher))
    child.fkEdges.toSeq.sortBy(_._1).foreach { case (fk, parent) =>
      val have = oracle.table(parent).keySet
      val missing = oracle.table(child.table).values
        .map(_.values(child.columns.indexOf(fk))).collect { case id: String => id }
        .filterNot(have).toSet
      oracle.load(TableDefs.byTable(parent),
        missing.toSeq.sorted.iterator.flatMap(id => catalog.byId.get(id).map(_())))
    }
    run.layer("Backfill.missing_parents_s") = ms

    run.runQueries(dir, oracle)
    run.mark("reads")

    run.phase = "warmup"
    val p = new WebhookPipeline(dir, config = config)
    val stream = Iterator.continually(traffic.batch(8)).flatten
    var batchId = 1L
    def process(b: Seq[Delivery]): (Double, Long) = {
      val raw = run.df(b)
      val id = batchId
      val (_, s) = run.touched(dir)(run.call("processBatch", s"batch $id")(p.processBatch(raw, id)))
      val done = System.nanoTime()
      oracle(b)
      if (run.phase == "measure") run.keys += oracle.lastKeys
      if (id % LiveRetryEvery == 0) {
        // at-least-once: the whole batch runs again under its batch id;
        // an attempted operation, not a commit sample
        run.call("retry", s"batch $id")(p.processBatch(raw, id))
        oracle(b)
      }
      batchId += 1
      (s, done)
    }

    // open loop: one delivery due every 1/LiveRate s, the first
    // LiveBacklogS seconds' worth already due at the start; each micro-batch
    // takes every delivery already due; freshness runs from a delivery's due
    // time to the commit of its batch. The schedule starts again when the
    // warm-up batch commits, so the deliveries that fell due during warm-up
    // never reach a measured batch; the batch cut right after the restart
    // is not measured either. The next max(2, ceil(seconds / LiveBatchS))
    // batches are measured; each takes the deliveries that fell due while
    // its predecessor ran.
    val gap = (1e9 / LiveRate).toLong
    val backlog = (LiveBacklogS * 1e9).toLong
    val measured = math.max(2, math.ceil(o.seconds / LiveBatchS).toInt)
    var nextDue = System.nanoTime() - backlog
    var backlogMax = 0
    val batchSizes = mutable.ArrayBuffer.empty[Double]
    val lag = mutable.ArrayBuffer.empty[Double]
    (0 until LiveUnmeasured + measured).foreach { n =>
      if (n == 1) nextDue = System.nanoTime() - backlog
      if (nextDue > System.nanoTime()) Thread.sleep((nextDue - System.nanoTime()) / 1000000L + 1)
      val now = System.nanoTime()
      val b = mutable.ArrayBuffer.empty[(Delivery, Long)]
      while (nextDue <= now) { b += (stream.next() -> nextDue); nextDue += gap }
      if (n == LiveUnmeasured) {
        run.mark("warmup")
        run.phase = "measure"
        oracle.probed = 0; oracle.admitted = 0
      }
      val (s, doneAt) = process(b.map(_._1).toSeq)
      if (run.phase == "measure") {
        backlogMax = math.max(backlogMax, b.size)
        lag += (now - b.head._2) / 1e9
        run.commits += s; run.engineS += s
        run.applied += b.size
        batchSizes += b.size
        b.foreach { case (_, t) => run.freshness += (doneAt - t) / 1e9 }
      }
    }

    run.mark("measure")
    run.verifyMirror(dir, oracle)
    verifyQuarantine(run, dir, oracle)
    run.info("offered_rate_per_s") = LiveRate
    run.info("loadgen_lag_p50_s") = Stats.pct(lag.toSeq, 50)
    run.info("backfilled_rows") = run.bulkRows
    run.layer("loadgen.batch_events") = Stats.mean(batchSizes.toSeq)
    run.layer("loadgen.backlog_max") = backlogMax
    run.layer("ReplayGuard.fresh_ratio") = oracle.admitted.toDouble / math.max(1L, oracle.probed)
  }

  private def verifyQuarantine(run: Run, dir: String, o: Oracle): Unit = {
    run.attempted += 1
    val path = s"$dir/_quarantine"
    val (ids, texts) =
      if (!Mirror.exists(run.spark, path)) (Set.empty[String], Set.empty[String])
      else {
        val q = run.spark.read.parquet(path)
        (q.filter(col("event_id").isNotNull).select("event_id").distinct()
          .collect().map(_.getString(0)).toSet,
          q.filter(col("event_id").isNull).select("raw_value").distinct()
            .collect().map(_.getString(0)).toSet)
      }
    if (ids != o.quarantinedIds || texts != o.quarantinedText)
      run.fail(s"quarantine: ${ids.size} event ids and ${texts.size} texts stored, " +
        s"expected ${o.quarantinedIds.size} and ${o.quarantinedText.size}")
  }

  /** Per-chunk commit times from the fetcher's list events: chunk k of a
    * scan commits between its last element and the first element of chunk
    * k+1; the last chunk commits between the first and the last exhausted
    * pull of the scan. */
  private def chunkTimes(): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    val scans = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[(Long, Int)]]
    Catalog.pulls.asScala.foreach { e =>
      if (e._2 == Catalog.Start || scans.isEmpty) scans += mutable.ArrayBuffer.empty
      if (e._2 != Catalog.Start) scans.last += e
    }
    scans.toSeq.flatMap { scan =>
      val elems = scan.filter(_._2 == Catalog.Element).map(_._1)
      val ex = scan.filter(_._2 == Catalog.Exhausted).map(_._1)
      elems.grouped(ChunkSize).zipWithIndex.flatMap { case (chunk, k) =>
        val next = (k + 1) * ChunkSize
        val window =
          if (next < elems.size) Some((chunk.last, elems(next)))
          else if (elems.size % ChunkSize == 0 && ex.nonEmpty) Some((chunk.last, ex.last))
          else if (ex.size >= 2) Some((ex.head, ex.last))
          else None
        window.map { case (s, e) => (e - s) / 1e9 }
      }
    }
  }
}
