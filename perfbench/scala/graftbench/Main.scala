package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `Main <workload> <seed> <seconds> <trace 0|1> <workDir>`.
  *
  * Builds a `local[4]` session, generates the workload's inputs from the
  * seed, sets up and warms up, measures for `seconds`, checks outputs, and
  * writes `<workDir>/result.json` (metrics, units, operation counts and
  * failures). `perfbench/run.py` adds the checks that run outside the JVM
  * and prints the final line. */
object Main {
  /** Process start, so that set-up time includes JVM and session start. */
  private val startNs: Long = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    System.nanoTime() - up * 1000000L
  }
  def sinceStartS: Double = (System.nanoTime() - startNs) / 1e9
  def log(msg: String): Unit = System.err.println(f"[graftbench $sinceStartS%7.2f s] $msg")

  /** What a workload reports. `metrics` holds name -> (value, unit). */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def fail(what: String, n: Long = 1): Unit = { failed += n; failures += what }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 5, "usage: Main <workload> <seed> <seconds> <trace> <workDir>")
    val Array(workload, seedS, secondsS, traceS, work) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    Trace.enabled = traceS == "1"
    Files.createDirectories(Paths.get(work))

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.minBatchesToRetain", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session started")
    if (Trace.enabled) Engine.install(spark.sparkContext)

    val report = new Report
    try {
      workload match {
        case "cdc" => Cdc.run(spark, seed, seconds, work, report)
        case "index_rw" => IndexRw.run(spark, seed, seconds, work, report)
        case "curate" => Curate.run(spark, seed, seconds, work, report)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      report.put("peak_heap_mb", Heap.peakMiB, "MiB")
      if (Trace.enabled) {
        Engine.quiesce(spark.sparkContext)
        Layers.report(report)
        Trace.write(s"$work/spans.jsonl")
      }
    } finally {
      spark.stop()
    }
    val out = Json.obj(
      "workload" -> workload,
      "metrics" -> report.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "order" -> report.metrics.keys.toSeq,
      "attempted" -> report.attempted,
      "failed" -> report.failed,
      "failures" -> report.failures.take(50).toSeq,
      "info" -> report.info.toMap)
    Files.writeString(Paths.get(s"$work/result.json"), out)
    // streaming and listener threads are non-daemon in places; the run is over
    System.exit(0)
  }
}

/** Per-layer report of a traced run: self time and span count per layer,
  * and the `spark` layer's counters per operation type. */
object Layers {
  val Names = Seq("sources", "pipeline", "streaming", "sinks", "analytics", "functions", "queries")

  def report(r: Main.Report): Unit = {
    val self = Trace.selfMsByLayer
    Names.foreach { l =>
      val (ms, n) = self.getOrElse(l, (0.0, 0))
      r.put(s"$l.self_ms", ms, "ms")
      r.put(s"$l.spans", n.toDouble, "count")
    }
    r.put("layers.self_ms", self.values.map(_._1).sum, "ms")
    r.put("layers.spans", self.values.map(_._2).sum.toDouble, "count")
    val eng = Engine.snapshot
    val timed = eng.filter { case (op, _) => !op.startsWith("setup") && op != "other" }
    def sum(f: Engine.Counters => Long) = timed.values.map(f).sum.toDouble
    r.put("spark.jobs", sum(_.jobs), "count")
    r.put("spark.task_ms", sum(_.taskMs), "ms")
    r.put("spark.shuffle_write_bytes", sum(_.shuffleWriteBytes), "bytes")
    r.put("spark.gc_ms", sum(_.gcMs), "ms")
    // per operation type, for the run's own log
    r.info("spark_by_op") = eng.map { case (op, c) =>
      op -> Map("ops" -> c.ops, "jobs" -> c.jobs, "task_ms" -> c.taskMs, "gc_ms" -> c.gcMs,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "bytes_written" -> c.bytesWritten)
    }
  }

  /** Jobs per operation of `op` (an exact count for a fixed seed). */
  def jobsPerOp(op: String): Double =
    Engine.snapshot.get(op).filter(_.ops > 0).map(c => c.jobs.toDouble / c.ops).getOrElse(0.0)
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }
}
