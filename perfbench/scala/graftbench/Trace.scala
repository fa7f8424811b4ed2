package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Benchmark-side tracing. A span wraps one call into a layer of the
  * program (name, start, end, parent span, operation id). Spans stay in
  * memory and are written out when the run ends. With tracing off,
  * [[span]] only evaluates its body, so the untraced run measures the
  * program alone. */
object Trace {
  @volatile var enabled = false

  final case class Span(id: Long, parent: Long, layer: String, name: String,
                        op: Long, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val ops = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var currentOp = 0L
  private[graftbench] val OpKey = "graftbench.op"

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), layer, name, currentOp, t0, t1))
      }
    }

  /** Run one operation of type `opType`: jobs the calling thread (and the
    * threads it starts) submit meanwhile are attributed to it. */
  def op[T](sc: SparkContext, opType: String)(body: => T): T = {
    val prev = sc.getLocalProperty(OpKey)
    currentOp = ops.incrementAndGet()
    sc.setLocalProperty(OpKey, opType)
    Engine.countOp(opType)
    try body finally sc.setLocalProperty(OpKey, prev)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus its children's. */
  def selfMsByLayer: Map[String, (Double, Int)] = {
    val s = all
    val childMs = s.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    s.groupBy(_.layer).map { case (layer, ls) =>
      layer -> (ls.map(x => x.ms - childMs.getOrElse(x.id, 0.0)).sum, ls.size)
    }
  }

  def write(path: String): Unit = {
    val lines = all.sortBy(_.startNs).map { x =>
      Json.obj("id" -> x.id, "parent" -> x.parent, "layer" -> x.layer, "name" -> x.name,
        "op" -> x.op, "start_ns" -> x.startNs, "end_ns" -> x.endNs)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n")): Unit
  }
}

/** The `spark` layer: engine counters read through a SparkListener and
  * attributed to the operation type in flight. Streaming micro-batch jobs
  * carry the query id property and count as `stream_batch`. */
object Engine {
  final class Counters {
    var ops = 0L; var jobs = 0L; var taskMs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var bytesWritten = 0L
  }
  private val byOp = new ConcurrentHashMap[String, Counters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()

  private def counters(op: String): Counters = byOp.computeIfAbsent(op, _ => new Counters)

  def countOp(op: String): Unit = if (Trace.enabled) {
    val c = counters(op); c.synchronized { c.ops += 1 }
  }

  def snapshot: Map[String, Counters] = byOp.asScala.toMap

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val op =
        if (p != null && p.getProperty("sql.streaming.queryId") != null) "stream_batch"
        else Option(p).flatMap(x => Option(x.getProperty(Trace.OpKey))).getOrElse("other")
      e.stageIds.foreach(stageOp.put(_, op))
      val c = counters(op); c.synchronized { c.jobs += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = counters(Option(stageOp.get(e.stageId)).getOrElse("other"))
        c.synchronized {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  def install(sc: SparkContext): Unit = sc.addSparkListener(listener)

  /** Wait until the listener has seen every event posted so far. */
  def quiesce(sc: SparkContext): Unit = org.apache.spark.GraftBenchBridge.drainListeners(sc)
}

/** Driver heap in use after a full collection, sampled at operation
  * boundaries outside the timed windows; the run reports the highest
  * sample. Young-collection readings are not used: they include old-
  * generation garbage that has not been collected yet, so they vary with
  * collection timing rather than with what the program retains. */
object Heap {
  @volatile private var peak = 0L

  def sample(): Unit = {
    // the first collection lets Spark's ContextCleaner drop the blocks of
    // unreachable cached frames; the second frees them
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { if (used > peak) peak = used }
  }

  def peakMiB: Double = peak / (1024.0 * 1024.0)
}

/** Minimal JSON writer for the result file and the span log. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => value(o.toString)
  }
  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
