package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.analytics.{PqIndex, Search, SearchIndex, Similarity}

/** Workload `index_rw`: search served from persisted indexes while they
  * are updated.
  *
  * `SearchIndex` (BM25) is built over the first 80 % of the documents and
  * `PqIndex` over the first 80 % of the embeddings, both in id order (the
  * arrival order). One closed-loop client then runs a seeded mix for
  * `seconds`: 70 % BM25 searches with 1-3 terms drawn Zipf-skewed from the
  * corpus vocabulary, 15 % single-vector kNN, and 15 % updates (append the
  * next held-out shard, or forget a seeded id set) alternating between the
  * two indexes; each index is compacted after every 4th of its updates.
  *
  * Known defect, kept visible: `PqIndex.build` seeds its coarse centroids
  * with `vec_id % 25 == 0`, so a corpus without such ids builds an empty
  * index without error and every later query throws. A build that comes
  * out empty counts as a failed operation here, never as a skip. */
object IndexRw {
  val Docs = 2000L
  val Vecs = 1000L
  val Vocab = 2000
  val BuiltShare = 0.8
  val ShardDocs = 25
  val ShardVecs = 10
  val ForgetDocs = 10
  val ForgetVecs = 5
  val CompactEvery = 4
  val K = 10
  /** Lowest accepted kNN recall@10 of `PqIndex.query` against exact search. */
  val RecallFloor = 0.5
  val CheckedSearches = 3
  val CheckedKnn = 3

  private val QuerySchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def storeFiles(dir: String): Map[String, (Int, Long)] =
    Files.list(Paths.get(dir)).iterator().asScala.filter(Files.isDirectory(_)).map { store =>
      val files = Files.walk(store).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
      store.getFileName.toString -> (files.size, files.map(Files.size).sum)
    }.toMap

  private def dirBytes(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String, r: Main.Report): Unit = {
    val sc = spark.sparkContext
    val docsPath = s"$work/docs"
    val embPath = s"$work/emb"
    val sDir = s"$work/index/search"
    val pDir = s"$work/index/pq"
    val nBuiltD = (Docs * BuiltShare).toLong
    val nBuiltV = (Vecs * BuiltShare).toLong
    val rng = new scala.util.Random(seed)

    Trace.op(sc, "setup") {
      Gen.run(
        Map("kind" -> "documents", "seed" -> seed, "n" -> Docs, "zipf_vocab" -> Vocab,
          "out" -> docsPath, "parts" -> 4),
        Map("kind" -> "embeddings", "seed" -> seed, "n" -> Vecs, "out" -> embPath, "parts" -> 2))
    }
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(embPath)
    val vectors: Map[Long, Array[Float]] = emb.select("vec_id", "embedding").collect()
      .map(row => row.getLong(0) -> row.getSeq[Float](1).toArray).toMap

    // live state, tracked by the client
    var docsUpTo = nBuiltD // exclusive
    var vecsUpTo = nBuiltV
    val forgottenDocs = mutable.LinkedHashSet.empty[Long]
    val forgottenVecs = mutable.LinkedHashSet.empty[Long]
    def liveDoc(id: Long) = id < docsUpTo && !forgottenDocs(id)
    def liveVec(id: Long) = id < vecsUpTo && !forgottenVecs(id)

    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def record(op: String, ms: Double): Unit = lat.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
    val partFilesMax = mutable.Map.empty[String, Int]
    def sampleParts(): Unit = Seq("SearchIndex" -> sDir, "PqIndex" -> pDir).foreach { case (ix, d) =>
      storeFiles(d).foreach { case (store, (n, _)) =>
        val k = s"$ix/$store"
        partFilesMax(k) = math.max(partFilesMax.getOrElse(k, 0), n)
      }
    }

    /** Run one operation; a throw counts as a failed operation. */
    def attempt(op: String)(body: => Unit): Unit = {
      r.attempted += 1
      try Trace.op(sc, op)(body)
      catch { case NonFatal(e) => r.fail(s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    }

    def zipfTerms(): Seq[String] = {
      val n = 1 + rng.nextInt(3)
      Iterator.continually(s"w${(math.floor(math.pow(Vocab + 1.0, rng.nextDouble())) - 1).toLong}")
        .distinct.take(n).toSeq.sorted
    }
    def search(terms: Seq[String]): Unit = attempt("search") {
      val (df, cMs) = Stats.timeMs(Trace.span("analytics", "SearchIndex.query")(
        SearchIndex.query(spark, sDir, terms, K)))
      val (rows, eMs) = Stats.timeMs(Trace.span("analytics", "SearchIndex.query.collect")(
        df.select("doc_id").collect()))
      record("search", cMs + eMs); record("search.construct", cMs); record("search.execute", eMs)
      val ids = rows.map(_.getLong(0))
      if (ids.length > K || !ids.forall(liveDoc)) r.fail(s"search $terms answered ${ids.mkString(",")}")
    }
    def queryVector(qid: Long): DataFrame = {
      val live = (0L until vecsUpTo).filter(liveVec)
      val base = vectors(live(rng.nextInt(live.size)))
      val v = base.map(x => x + (rng.nextGaussian() * 0.05).toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      spark.createDataFrame(java.util.List.of(Row(qid, v.map(_ / norm).toSeq)), QuerySchema)
    }
    def knn(qid: Long): Unit = {
      val q = queryVector(qid)
      attempt("knn") {
        val (df, cMs) = Stats.timeMs(Trace.span("analytics", "PqIndex.query")(
          PqIndex.query(spark, pDir, q, K)))
        val (rows, eMs) = Stats.timeMs(Trace.span("analytics", "PqIndex.query.collect")(
          df.select("vec_id").collect()))
        record("knn", cMs + eMs); record("knn.construct", cMs); record("knn.execute", eMs)
        val ids = rows.map(_.getLong(0))
        if (ids.length > K || !ids.forall(liveVec)) r.fail(s"knn answered ${ids.mkString(",")}")
      }
    }
    def timedUpdate(op: String)(body: => Unit): Unit = attempt(op) {
      val (_, ms) = Stats.timeMs(Trace.span("analytics", op)(body))
      record(op, ms)
      sampleParts()
    }
    var searchUpdates = 0
    var pqUpdates = 0
    def update(onSearch: Boolean): Unit = {
      val append = rng.nextBoolean()
      if (onSearch) {
        if (append && docsUpTo < Docs) {
          val (a, b) = (docsUpTo, math.min(Docs, docsUpTo + ShardDocs))
          timedUpdate("SearchIndex.append")(SearchIndex.append(
            docs.filter(col("doc_id") >= a && col("doc_id") < b), sDir))
          docsUpTo = b
        } else {
          val ids = rng.shuffle((0L until docsUpTo).filter(liveDoc)).take(ForgetDocs)
          timedUpdate("SearchIndex.forget")(SearchIndex.forget(spark, sDir,
            spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")))
          forgottenDocs ++= ids
        }
        searchUpdates += 1
        if (searchUpdates % CompactEvery == 0)
          timedUpdate("SearchIndex.compact")(SearchIndex.compact(spark, sDir))
      } else {
        if (append && vecsUpTo < Vecs) {
          val (a, b) = (vecsUpTo, math.min(Vecs, vecsUpTo + ShardVecs))
          timedUpdate("PqIndex.append")(PqIndex.append(
            emb.filter(col("vec_id") >= a && col("vec_id") < b), pDir))
          vecsUpTo = b
        } else {
          val ids = rng.shuffle((0L until vecsUpTo).filter(liveVec)).take(ForgetVecs)
          timedUpdate("PqIndex.forget")(PqIndex.forget(spark, pDir,
            spark.createDataFrame(ids.map(Tuple1(_))).toDF("vec_id")))
          forgottenVecs ++= ids
        }
        pqUpdates += 1
        if (pqUpdates % CompactEvery == 0)
          timedUpdate("PqIndex.compact")(PqIndex.compact(spark, pDir))
      }
    }

    // ---- set-up: build both indexes, then warm every operation once --------
    var buildS = 0.0
    attempt("SearchIndex.build") {
      val (_, ms) = Stats.timeMs(Trace.span("analytics", "SearchIndex.build")(
        SearchIndex.build(docs.filter(col("doc_id") < nBuiltD), sDir)))
      record("SearchIndex.build", ms); buildS += ms / 1000
    }
    attempt("PqIndex.build") {
      val (_, ms) = Stats.timeMs(Trace.span("analytics", "PqIndex.build")(
        PqIndex.build(emb.filter(col("vec_id") < nBuiltV), pDir)))
      record("PqIndex.build", ms); buildS += ms / 1000
      if (spark.read.parquet(s"$pDir/coarse").isEmpty)
        r.fail("PqIndex.build produced an empty index (no coarse centroids)")
    }
    r.put("index_build_s", buildS, "s")
    Main.log("indexes built")
    val inputBytes = dirBytes(docsPath) + dirBytes(embPath)
    Trace.op(sc, "setup.warm") {
      search(zipfTerms()); knn(-1)
      update(onSearch = true); update(onSearch = false)
    }
    lat.keys.filterNot(_.endsWith(".build")).foreach(lat.remove)
    Heap.sample()
    r.put("setup_s", Main.sinceStartS, "s")
    Main.log("set-up done")

    // ---- measured: closed loop ---------------------------------------------
    val t0 = System.nanoTime()
    var qid = -2L
    var nextUpdateOnSearch = true
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val u = rng.nextDouble()
      if (u < 0.70) search(zipfTerms())
      else if (u < 0.85) { knn(qid); qid -= 1 }
      else { update(nextUpdateOnSearch); nextUpdateOnSearch = !nextUpdateOnSearch }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    Heap.sample()
    Main.log("loop done")

    def series(op: String) = lat.getOrElse(op, mutable.ArrayBuffer.empty[Double]).toSeq
    val searches = series("search")
    if (searches.nonEmpty) {
      r.put("search_p50_ms", Stats.median(searches), "ms")
      r.put("search_p90_ms", Stats.quantile(searches, 0.9), "ms")
    }
    if (series("knn").nonEmpty) r.put("knn_p50_ms", Stats.median(series("knn")), "ms")
    val updates = Seq("SearchIndex.append", "SearchIndex.forget", "PqIndex.append", "PqIndex.forget")
      .flatMap(series)
    if (updates.nonEmpty) r.put("update_p50_ms", Stats.median(updates), "ms")
    r.info("samples") = lat.map { case (k, v) => k -> v.size }.toMap
    r.info("loop_s") = loopS

    // ---- output checks (outside the timed loop) -----------------------------
    val liveDocs = docs.filter(col("doc_id") < docsUpTo)
      .join(spark.createDataFrame(forgottenDocs.toSeq.map(Tuple1(_))).toDF("doc_id"), Seq("doc_id"), "left_anti")
    (0 until CheckedSearches).foreach { _ =>
      val terms = zipfTerms()
      r.attempted += 1
      try {
        val got = SearchIndex.query(spark, sDir, terms, K).select("doc_id", "score").collect()
          .map(x => (x.getLong(0), x.getDouble(1))).toSeq.sortBy(x => (-x._2, x._1))
        val want = Search.bm25TopDocs(liveDocs, terms, K).select("doc_id", "score").collect()
          .map(x => (x.getLong(0), x.getDouble(1))).toSeq.sortBy(x => (-x._2, x._1))
        if (got != want) r.fail(s"search $terms: index ${got.take(3)} vs bm25TopDocs ${want.take(3)}")
      } catch { case NonFatal(e) => r.fail(s"search check threw ${e.getMessage}".take(300)) }
    }
    val liveVecs = emb.filter(col("vec_id") < vecsUpTo)
      .join(spark.createDataFrame(forgottenVecs.toSeq.map(Tuple1(_))).toDF("vec_id"), Seq("vec_id"), "left_anti")
    val recalls = (0 until CheckedKnn).flatMap { i =>
      val q = queryVector(-1000000L - i)
      r.attempted += 1
      try {
        val got = PqIndex.query(spark, pDir, q, K).select("vec_id").collect().map(_.getLong(0)).toSet
        val want = Similarity.bruteForceTopK(liveVecs, q, K).select("vec_id").collect().map(_.getLong(0)).toSet
        Some(got.intersect(want).size.toDouble / math.max(1, want.size))
      } catch { case NonFatal(e) => r.fail(s"knn check threw ${e.getMessage}".take(300)); None }
    }
    if (recalls.nonEmpty) {
      val recall = recalls.sum / recalls.size
      r.info("knn_recall_at_10") = recall
      if (recall < RecallFloor) r.fail(s"kNN recall@10 $recall below the floor $RecallFloor")
    }

    if (Trace.enabled) {
      def med(op: String) = if (series(op).isEmpty) 0.0 else Stats.median(series(op))
      Seq("search", "knn").foreach { op =>
        r.put(s"$op.construct_ms", med(s"$op.construct"), "ms")
        r.put(s"$op.execute_ms", med(s"$op.execute"), "ms")
        r.put(s"$op.jobs", Layers.jobsPerOp(op), "count")
      }
      Seq("SearchIndex", "PqIndex").foreach { ix =>
        Seq("append", "forget", "compact", "build").foreach { u =>
          r.put(s"$ix.${u}_ms", med(s"$ix.$u"), "ms")
          r.put(s"$ix.$u.jobs", Layers.jobsPerOp(s"$ix.$u"), "count")
        }
        r.put(s"$ix.part_files_max",
          partFilesMax.collect { case (k, n) if k.startsWith(ix + "/") => n }.maxOption.getOrElse(0).toDouble,
          "count")
      }
      val eng = Engine.snapshot
      r.put("index.bytes_rewritten", Seq("SearchIndex.compact", "PqIndex.compact")
        .flatMap(eng.get).map(_.bytesWritten).sum.toDouble, "bytes")
      r.put("index.disk_bytes_per_input_byte", (dirBytes(sDir) + dirBytes(pDir)).toDouble / inputBytes, "ratio")
      r.info("part_files_max") = partFilesMax.toMap
    }
  }
}
