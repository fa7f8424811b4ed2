package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{SparkEntry, Tables}
import graft.analytics.{Dedup, Sampling}
import graft.functions.GraftFunctions

/** Workload `curate`: the five composed curation pipelines through
  * `SparkEntry.queries`, over a 4× documents corpus generated from the seed
  * in the Heaps-law vocabulary mode of `graft.tools.ScaleUp`. Each result
  * is fully materialized (written as parquet, which the DuckDB oracle check
  * in `run.py` then reads). One pass runs the five pipelines in turn; a
  * pass over a small corpus is the warm-up, and timed passes over the main
  * corpus repeat for `seconds`, at least once.
  *
  * `setup_s` runs from process start to the end of the warm-up pass.
  * End-to-end metrics under the names shared with `cdc`:
  * `throughput_rows_per_s` is corpus documents × pipelines ÷ pass time,
  * `latency_p50_ms` and `latency_p95_ms` are over the wall times of the
  * single pipeline runs (construct + plan + write). */
object Curate {
  val BaseDocs = 400L
  val Replicas = 4
  val WarmDocs = 100L
  /** Pipelines whose DuckDB oracle is quadratic in the corpus (all-pairs
    * Jaccard: over a minute at 2,400 documents) are checked on the output
    * of the warm-up pass over a 100-document corpus from the same
    * generator; the rest are checked on the output of the last timed pass. */
  val CheckedOnWarm = Set("pipeline_full", "pipeline_curate")
  val Pipelines = Seq("pipeline_full", "pipeline_curate", "pipeline_pack", "pipeline_admit",
    "pipeline_web_ingest")

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String, r: Main.Report): Unit = {
    val sc = spark.sparkContext
    val corpus = s"$work/corpus"
    val warm = s"$work/warm"
    /** Construct, plan and write one pipeline; operations of the warm-up
      * pass are tagged `setup.` so that they stay out of the counters. */
    def materialize(p: String, dir: String, out: String, tag: String = ""): (Double, Double, Double) = {
      val (df, cMs) = Stats.timeMs(Trace.op(sc, s"$tag$p.construct")(
        Trace.span("queries", s"SparkEntry.queries($p)")(SparkEntry.queries(p)(spark, dir))))
      val (_, pMs) = Stats.timeMs(Trace.op(sc, s"$tag$p.plan")(df.queryExecution.executedPlan))
      val (_, eMs) = Stats.timeMs(Trace.op(sc, s"$tag$p.execute")(
        Trace.span("queries", s"$p.write")(df.write.mode("overwrite").parquet(out))))
      (cMs, pMs, eMs)
    }

    Trace.op(sc, "setup") {
      Gen.run(
        Map("kind" -> "documents", "seed" -> seed, "n" -> BaseDocs, "replicas" -> Replicas,
          "out" -> s"$corpus/documents.parquet", "parts" -> 8),
        Map("kind" -> "documents", "seed" -> (seed + 1), "n" -> WarmDocs,
          "out" -> s"$warm/documents.parquet", "parts" -> 2))
      Main.log("corpus written")
      Trace.span("functions", "GraftFunctions.register")(GraftFunctions.register(spark))
      Pipelines.foreach(p => materialize(p, warm, s"$warm/out/$p", "setup."))
    }
    Heap.sample()
    r.put("setup_s", Main.sinceStartS, "s")
    Main.log("set-up done")

    val passes = mutable.ArrayBuffer.empty[Double]
    val runsMs = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double, Double)]]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      var passMs = 0.0
      Pipelines.foreach { p =>
        r.attempted += 1
        try {
          val ph = materialize(p, corpus, s"$work/out/$p")
          phases.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += ph
          val ms = ph._1 + ph._2 + ph._3
          runsMs += ms
          passMs += ms
        } catch { case NonFatal(e) => r.fail(s"$p threw ${e.getMessage}".take(300)) }
      }
      passes += passMs / 1000
      Heap.sample()
      Main.log(s"pass ${passes.size}: ${passMs / 1000} s")
    }
    val docs = BaseDocs * Replicas
    r.put("throughput_rows_per_s", Stats.median(passes.toSeq.map(s => docs * Pipelines.size / s)), "rows/s")
    if (runsMs.nonEmpty) {
      r.put("latency_p50_ms", Stats.median(runsMs.toSeq), "ms")
      r.put("latency_p95_ms", Stats.quantile(runsMs.toSeq, 0.95), "ms")
    }
    r.put("curate_pass_s", Stats.median(passes.toSeq), "s")
    r.info("passes") = passes.size
    r.info("oracle") = Pipelines.map { p =>
      val (in, out) = if (CheckedOnWarm(p)) (warm, s"$warm/out/$p") else (corpus, s"$work/out/$p")
      p -> Map("sql" -> SparkEntry.oracleSql(p), "corpus" -> in, "out" -> out)
    }.toMap

    if (Trace.enabled) {
      val eng = Engine.snapshot
      def perOp(op: String, f: Engine.Counters => Long) =
        eng.get(op).filter(_.ops > 0).map(c => f(c).toDouble / c.ops).getOrElse(0.0)
      Pipelines.foreach { p =>
        val ph = phases.getOrElse(p, mutable.ArrayBuffer.empty)
        if (ph.nonEmpty) {
          r.put(s"$p.construct_ms", Stats.median(ph.map(_._1).toSeq), "ms")
          r.put(s"$p.plan_ms", Stats.median(ph.map(_._2).toSeq), "ms")
          r.put(s"$p.execute_ms", Stats.median(ph.map(_._3).toSeq), "ms")
        }
        val phaseOps = Seq("construct", "plan", "execute").map(x => s"$p.$x")
        r.put(s"$p.jobs", phaseOps.map(perOp(_, _.jobs)).sum, "count")
        r.put(s"$p.eager_jobs", perOp(s"$p.construct", _.jobs), "count")
        r.put(s"$p.shuffle_write_bytes", phaseOps.map(perOp(_, _.shuffleWriteBytes)).sum, "bytes")
      }
      val passJobs = Pipelines.flatMap(p => Seq("construct", "plan", "execute").map(x => perOp(s"$p.$x", _.jobs))).sum
      r.put("bulk.jobs", passJobs, "count")
      r.put("op.jobs", passJobs / Pipelines.size, "count")
      fullStages(spark, corpus, r)
    }
  }

  /** `pipeline_full`'s stages as separate calls, each persisted and counted
    * so that its time is its own (traced runs only). */
  private def fullStages(spark: SparkSession, dir: String, r: Main.Report): Unit = {
    val sc = spark.sparkContext
    val lvl = StorageLevel.MEMORY_AND_DISK
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String)(build: => DataFrame): DataFrame = {
      val ((df, n), ms) = Stats.timeMs(Trace.op(sc, name)(Trace.span("analytics", name) {
        val d = build.persist(lvl)
        held += d
        (d, d.count())
      }))
      r.put(s"${name}_ms", ms, "ms")
      r.put(s"${name}_rows_out", n.toDouble, "rows")
      df
    }
    val docs = Trace.span("sources", "Tables.documents")(Tables(spark, dir).documents)
    val clean = stage("Dedup.decontaminate")(
      Dedup.decontaminate(docs.filter(col("doc_id") >= 5), docs.filter(col("doc_id") < 5)))
    val spanned = stage("Dedup.spanDedupMaterialize")(
      Dedup.spanDedupMaterialize(clean, spanTokens = 16)
        .select(col("doc_id"), col("kept_text").as("text"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"))
    val nSpanned = spanned.count()
    val pairs = stage("Dedup.ngramJaccardPairs")(
      Dedup.ngramJaccardPairs(spanned.select(col("doc_id"), col("text")),
        minJaccard = 0.6, maxDf = Some(Dedup.dfCapFor(nSpanned))))
    val kept = stage("Dedup.qualityKeepers")(
      Dedup.qualityKeepers(spanned, pairs, GraftFunctions.qualityFast(col("text")))
        .select(col("doc_id"), col("text"), col("lang")))
    val mixed = stage("Sampling.materializeMixSelf")(
      Sampling.materializeMixSelf(kept, "lang", carry = Seq("text")))
    stage("Sampling.packSequences")(
      Sampling.packSequences(mixed.select((col("doc_id") * 1000 + col("epoch")).as("mix_id"),
        col("text")), windowTokens = 1024, nShards = 8, idCol = "mix_id"))
    held.foreach(_.unpersist())
  }
}
