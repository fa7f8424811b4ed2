package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.pipeline.{BackfillJob, EventStatements, OptOutRouting}
import graft.sinks.{BatchSink, ParquetSink}
import graft.sources.Sources
import graft.streaming.{Dlq, StreamingPipeline, TenantRunner}
import graft.streaming.StreamingPipeline.{RetryPolicy, SinkTables}

/** Workload `cdc`: the paper's pipeline in three phases.
  *
  *  1. Backfill: `BackfillJob.run` over a 400k-row events history into a
  *     `ParquetSink`, one bulk batch job per time range (the reference's
  *     historical binary is run per range). The first day is the warm-up;
  *     the three ten-day ranges after it are timed.
  *  2. Live tail: two tenants under `TenantRunner`, each a
  *     `StreamingPipeline.start` over a file-stream source. An open-loop
  *     generator moves pre-written 250-row drops into the tenants' source
  *     directories at 5,000 rows/s in total for `seconds`; each trigger
  *     admits at most 40 files (10,000 rows, the reference's live batch
  *     cap) and the trigger interval is 0. Lag is measured from each
  *     drop's due time to the commit of the micro-batch that wrote it.
  *  3. Catch-up: a burst of 80 drops (20,000 rows, one full trigger per
  *     tenant) is released at once and timed until its last drop is
  *     committed.
  *
  * End-to-end metrics under the names shared with `curate`:
  * `throughput_rows_per_s` is the backfill rate, `latency_p50_ms` and
  * `latency_p95_ms` the live-tail lag.
  *
  * The live sink fails every 20th first write attempt (which one depends
  * on the seed); `writeWithRetry` retries it after a 20 ms backoff, so no
  * row may be dead-lettered or duplicated. */
object Cdc {
  val Users = 1500
  val HistoryRows = 400000L
  val DropRows = 250
  val RowsPerSecond = 5000.0
  val FilesPerTrigger = 40
  val BurstDrops = 80
  val Bursts = 1
  val WarmDrops = 8
  val FailEvery = 20
  val Policy = RetryPolicy(maxRetries = 3, initialDelayMs = 20)
  val Tenants = Seq("t0", "t1")
  /** The history's time ranges: the first day warms the backfill up, the
    * rest are timed, one `BackfillJob.run` each. */
  val BackfillRanges = Seq("2024-01-01T00:00" -> "2024-01-02T00:00",
    "2024-01-02T00:00" -> "2024-01-12T00:00", "2024-01-12T00:00" -> "2024-01-22T00:00",
    "2024-01-22T00:00" -> "2024-02-01T00:00")
  /** Generator lateness past which a run is flagged as not open-loop. */
  val LateBoundMs = 100.0

  private def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Sink timing and counting calls into `sinks` (spans in traced runs). */
  final class TracedSink(delegate: BatchSink) extends BatchSink {
    val calls = new AtomicLong(0)
    override def write(df: DataFrame, table: String): Unit = {
      calls.incrementAndGet()
      Trace.span("sinks", "ParquetSink.write")(delegate.write(df, table))
    }
  }

  /** Fails every `every`-th first write attempt (offset by the seed); the
    * retry of a failed frame goes through. */
  final class FaultSink(delegate: BatchSink, every: Int, seed: Long) extends BatchSink {
    val injected = new AtomicLong(0)
    private val firsts = new AtomicLong(0)
    private val failedFrames = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]()))
    override def write(df: DataFrame, table: String): Unit = {
      if (!failedFrames.remove(df) && (firsts.incrementAndGet() + seed) % every == 0) {
        failedFrames.add(df)
        injected.incrementAndGet()
        throw new RuntimeException(s"injected first-attempt failure ($table)")
      }
      delegate.write(df, table)
    }
  }

  /** Drop file name -> commit time (epoch µs) of the micro-batch that read
    * it, from the query's checkpoint: the file source log maps files to
    * batch ids, and `commits/<id>` is written when the batch commits.
    * Log files of committed batches never change, so each is parsed once. */
  private val parsedLogs = new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long)]]()
  def committed(ckpt: String): Map[String, Long] = {
    val srcLog = Paths.get(ckpt, "sources", "0")
    val commits = Paths.get(ckpt, "commits")
    if (!Files.isDirectory(srcLog) || !Files.isDirectory(commits)) return Map.empty
    val commitUs = Files.list(commits).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .map(p => p.getFileName.toString.toLong ->
        Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS)).toMap
    val entry = "\"path\":\"([^\"]+)\".*?\"batchId\":(\\d+)".r
    def parse(p: java.nio.file.Path): Seq[(String, Long)] =
      // a log file can vanish or be half-written while the query runs
      try Files.readAllLines(p).asScala.toSeq.flatMap(entry.findFirstMatchIn)
        .map(m => m.group(1).split('/').last -> m.group(2).toLong)
      catch { case NonFatal(_) => Nil }
    Files.list(srcLog).iterator().asScala
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap { p =>
        val batch = p.getFileName.toString.takeWhile(_.isDigit).toLong
        if (commitUs.contains(batch)) parsedLogs.computeIfAbsent(p.toString, _ => parse(p)) else parse(p)
      }
      .flatMap { case (name, batch) => commitUs.get(batch).map(name -> _) }.toMap
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String, r: Main.Report): Unit = {
    val sc = spark.sparkContext
    val history = s"$work/history"
    val dropsDir = s"$work/drops"
    val sinkDir = s"$work/sink"
    val optOut = s"$work/optout"
    val nLive = math.ceil(seconds * RowsPerSecond / DropRows).toInt
    val nDrops = WarmDrops * Tenants.size + nLive + Bursts * BurstDrops
    val bfSink = new TracedSink(new ParquetSink(sinkDir))
    def backfill(range: (String, String)): BackfillJob.Result =
      Trace.span("pipeline", "BackfillJob.run") {
        val src = Trace.span("sources", "Sources.fileScan")(Sources.fileScan(spark, history))
        BackfillJob.run(src, range._1, range._2, bfSink,
          SinkTables("bf", "bf", "statements", "statements_opt_out"), new Dlq(spark, s"$work/dlq/bf"), Policy)
      }

    // ---- set-up: inputs, opt-out dimension, warm-up ------------------------
    var warmBackfill: BackfillJob.Result = null
    Trace.op(sc, "setup") {
      Gen.run(
        Map("kind" -> "events", "seed" -> seed, "first_id" -> 0L, "n" -> HistoryRows,
          "users" -> Users, "out" -> history, "parts" -> 32),
        Map("kind" -> "events", "seed" -> seed, "first_id" -> HistoryRows,
          "n" -> nDrops.toLong * DropRows, "users" -> Users, "out" -> dropsDir, "drop_rows" -> DropRows))
      Main.log("inputs written")
      // the dimension table the live pipeline re-reads every micro-batch
      EventStatements.optOutHashes(spark.read.parquet(history)).write.parquet(optOut)
      Main.log("opt-out dimension written")
    }
    val schema = spark.read.parquet(history).schema
    val srcDir = Tenants.map(t => t -> s"$work/src/$t").toMap
    srcDir.values.foreach(d => Files.createDirectories(Paths.get(d)))
    val ckpt = Tenants.map(t => t -> s"$work/ckpt/$t").toMap
    def release(i: Int, tenant: String): String = {
      val name = f"drop_$i%05d.parquet"
      val target = Paths.get(srcDir(tenant), name)
      Files.move(Paths.get(dropsDir, name), target, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(target, FileTime.fromMillis(System.currentTimeMillis()))
      name
    }
    def awaitCommitted(expected: Map[String, Set[String]], timeoutS: Double): Map[String, Map[String, Long]] = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      var seen = Map.empty[String, Map[String, Long]]
      while ({
        seen = Tenants.map(t => t -> committed(ckpt(t))).toMap
        !expected.forall { case (t, names) => names.subsetOf(seen(t).keySet) } &&
          System.nanoTime() < deadline
      }) Thread.sleep(25)
      seen
    }

    val liveSink = new TracedSink(new ParquetSink(sinkDir))
    val faultSink = new FaultSink(liveSink, FailEvery, seed)
    val runner = new TenantRunner(spark, restartDelayMs = 1000)
    val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    if (Trace.enabled) spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.add(e)
    })
    Trace.op(sc, "setup") {
      Tenants.foreach { t =>
        Trace.span("streaming", "TenantRunner.run") {
          runner.run(t) { () =>
            val source = Trace.span("sources", "Sources.fileStream")(
              Sources.fileStream(spark, srcDir(t), schema, FilesPerTrigger))
            Trace.span("streaming", "StreamingPipeline.start")(
              StreamingPipeline.start(source, () => spark.read.parquet(optOut), faultSink,
                SinkTables(t, t, "statements", "statements_opt_out"), new Dlq(spark, s"$work/dlq/$t"),
                ckpt(t), Policy, Trigger.ProcessingTime(0), queryName = Some(s"cdc_$t")))
          }
        }
      }
      Main.log("tenants started")
      // warm-up: a few drops through each tenant's query
      val warm = Tenants.zipWithIndex.map { case (t, k) =>
        t -> (0 until WarmDrops).map(j => release(k * WarmDrops + j, t)).toSet
      }.toMap
      val seen = awaitCommitted(warm, 120)
      require(warm.forall { case (t, n) => n.subsetOf(seen(t).keySet) }, "warm-up drops never committed")
      // the first day of the history is the backfill's warm-up
      warmBackfill = backfill(BackfillRanges.head)
    }
    Heap.sample()
    r.put("setup_s", Main.sinceStartS, "s")
    Main.log("set-up done")
    progress.clear()
    if (Trace.enabled) Engine.quiesce(sc)
    val streamJobs0 = Engine.snapshot.get("stream_batch").map(_.jobs).getOrElse(0L)

    // ---- phase 1: backfill, one job per time range ---------------------------
    val ranges = BackfillRanges.tail.map { range =>
      Stats.timeMs(Trace.op(sc, "backfill")(backfill(range)))
    }
    val bfResults = warmBackfill +: ranges.map(_._1)
    r.put("throughput_rows_per_s", Stats.median(ranges.map { case (b, ms) => b.input / (ms / 1000) }), "rows/s")
    Main.log(s"backfill done: ${ranges.map(_._2.round).mkString(" ")} ms")
    r.attempted += bfResults.size
    bfResults.filter(b => b.deadLettered != 0 || b.written + b.skipped != b.input)
      .foreach(b => r.fail(s"backfill result $b"))
    if (bfResults.map(_.input).sum != HistoryRows)
      r.fail(s"backfill ranges read ${bfResults.map(_.input).sum} of $HistoryRows rows")
    Heap.sample()

    // ---- phase 2: live tail, open loop --------------------------------------
    val firstLive = WarmDrops * Tenants.size
    val intervalUs = (DropRows / RowsPerSecond * 1e6).toLong
    val due = new Array[Long](nLive)
    val late = new Array[Double](nLive)
    val names = new Array[String](nLive)
    val gen = new Thread(() => {
      val t0Ns = System.nanoTime()
      val t0Us = nowUs
      var i = 0
      while (i < nLive) {
        val dueNs = t0Ns + i * intervalUs * 1000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        due(i) = t0Us + i * intervalUs
        late(i) = (System.nanoTime() - dueNs) / 1e6
        names(i) = release(firstLive + i, Tenants(i % Tenants.size))
        i += 1
      }
    }, "graftbench-generator")
    gen.start()
    gen.join()
    val liveExpected = Tenants.indices.map(k =>
      Tenants(k) -> (k until nLive by Tenants.size).map(names(_)).toSet).toMap
    Main.log("live drops released")
    val afterLive = awaitCommitted(liveExpected, 120)
    Main.log("live drops committed")
    val lagsMs = (0 until nLive).flatMap { i =>
      afterLive(Tenants(i % Tenants.size)).get(names(i)).map(c => (c - due(i)) / 1000.0)
    }
    if (lagsMs.size < nLive) r.fail(s"${nLive - lagsMs.size} live drops never committed", nLive - lagsMs.size)
    r.attempted += nLive
    if (lagsMs.nonEmpty) {
      r.put("latency_p50_ms", Stats.median(lagsMs), "ms")
      r.put("latency_p95_ms", Stats.quantile(lagsMs, 0.95), "ms")
    }
    r.info("cdc_lag_samples") = lagsMs.size
    val lateMax = late.max
    r.info("generator_late_ms_max") = lateMax
    if (lateMax > LateBoundMs) r.info("generator_flag") = s"generator ran ${lateMax} ms late (bound $LateBoundMs ms)"

    Heap.sample()

    // ---- phase 3: catch-up bursts ---------------------------------------------
    val catchup = (0 until Bursts).flatMap { b =>
      val first = firstLive + nLive + b * BurstDrops
      val releaseUs = nowUs
      val burst = (0 until BurstDrops).map { j =>
        val t = Tenants(j % Tenants.size)
        t -> release(first + j, t)
      }
      val afterBurst = awaitCommitted(burst.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }, 120)
      val commits = burst.flatMap { case (t, n) => afterBurst(t).get(n) }
      r.attempted += BurstDrops
      if (commits.size < BurstDrops) {
        r.fail("burst drops never committed", BurstDrops - commits.size)
        None
      } else Some(BurstDrops.toLong * DropRows / ((commits.max - releaseUs) / 1e6))
    }
    if (catchup.nonEmpty) r.put("cdc_catchup_rows_per_s", Stats.median(catchup), "rows/s")

    Main.log("burst committed")
    Heap.sample()
    runner.stopAll()
    runner.activeQueries.values.foreach(q => try q.awaitTermination(30000) catch { case NonFatal(_) => false })

    // dead letters: none expected (every injected failure is retried)
    val dead = (Tenants :+ "bf").flatMap { t =>
      new Dlq(spark, s"$work/dlq/$t").pending().map(p => spark.read.parquet(p).count())
    }.sum
    if (dead > 0) r.fail(s"$dead rows dead-lettered", dead)

    if (Trace.enabled) {
      traceLayers(spark, history, optOut, r)
      val ps = progress.asScala.toSeq.map(_.progress)
      def phase(k: String) = Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      val streamJobs = Engine.snapshot.get("stream_batch").map(_.jobs).getOrElse(0L) - streamJobs0
      r.put("streaming.batches", ps.size.toDouble, "count")
      if (ps.nonEmpty) {
        r.put("streaming.rows_per_batch", Stats.median(ps.map(_.numInputRows.toDouble)), "rows")
        r.put("streaming.jobs_per_batch", streamJobs.toDouble / ps.size, "count")
        r.put("streaming.add_batch_ms", phase("addBatch"), "ms")
        r.put("streaming.query_planning_ms", phase("queryPlanning"), "ms")
        r.put("streaming.latest_offset_ms", phase("latestOffset"), "ms")
        r.put("streaming.wal_commit_ms", phase("walCommit"), "ms")
        r.put("streaming.commit_offsets_ms", phase("commitOffsets"), "ms")
      }
      r.put("streaming.dead_lettered_rows", dead.toDouble, "rows")
      r.put("sinks.write_calls", (liveSink.calls.get + bfSink.calls.get).toDouble, "count")
      r.put("sinks.retries", faultSink.injected.get.toDouble, "count")
      val written = Files.walk(Paths.get(sinkDir)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
      r.put("sinks.files_written", written.size.toDouble, "count")
      r.put("sinks.bytes_written", written.map(Files.size).sum.toDouble, "bytes")
      val sinkSpans = Trace.all.filter(_.layer == "sinks")
      r.put("sinks.write_ms", sinkSpans.map(_.ms).sum, "ms")
      r.put("generator.late_ms_max", lateMax, "ms")
      r.put("bulk.jobs", Layers.jobsPerOp("backfill"), "count")
      r.put("op.jobs", streamJobs.toDouble / math.max(ps.size, 1), "count")
    }
    r.info("paths") = Map("history" -> history, "src" -> s"$work/src", "sink" -> sinkDir)
    r.info("backfill_ranges") = BackfillRanges.map { case (a, b) => Seq(a, b) }
    r.info("tenants") = Tenants
  }

  /** The transform, opt-out dimension and routing stages over the history,
    * each materialized on its own (traced runs only). */
  private def traceLayers(spark: SparkSession, history: String, optOut: String, r: Main.Report): Unit = {
    val sc = spark.sparkContext
    val ev = spark.read.parquet(history)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (_, tMs) = Stats.timeMs(Trace.op(sc, "pipeline.transform")(
      Trace.span("pipeline", "EventStatements.statements")(noop(EventStatements.statements(ev)))))
    val (_, dMs) = Stats.timeMs(Trace.op(sc, "pipeline.optout_dim")(
      Trace.span("pipeline", "EventStatements.optOutHashes")(noop(EventStatements.optOutHashes(ev)))))
    val (_, rMs) = Stats.timeMs(Trace.op(sc, "pipeline.route")(
      Trace.span("pipeline", "OptOutRouting.withOptOutFlag+split") {
        val routed = OptOutRouting.withOptOutFlag(EventStatements.statements(ev), "hashed_id",
          spark.read.parquet(optOut), "hashed_id")
        val (main, opt) = OptOutRouting.split(routed)
        noop(main); noop(opt)
      }))
    r.put("pipeline.transform_ms", tMs, "ms")
    r.put("pipeline.optout_dim_ms", dMs, "ms")
    r.put("pipeline.route_ms", rMs, "ms")
  }
}
