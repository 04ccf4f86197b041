package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BusSync, SparkContext}
import org.apache.spark.scheduler._

/** Cumulative Spark work counters, fed by [[Counters.listener]]. */
final class Counters {
  val jobs, tasks, runMs, gcMs, shuffleBytes, spillBytes = new AtomicLong

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "run_ms" -> runMs.get,
    "gc_ms" -> gcMs.get, "shuffle_bytes" -> shuffleBytes.get,
    "spill_bytes" -> spillBytes.get)
}

/** One timed call into a layer. `counts` are the Spark counter deltas over
  * the span (empty when no listener is attached). */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long, counts: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call order on the calling thread;
  * nothing is written until [[write]] at the end of the run. With a null
  * `sc` spans carry no counters (the listener is not attached). */
final class Tracer(val run: String, sc: SparkContext) {
  val counters = new Counters
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1

  def attach(): Unit = if (sc != null) sc.addSparkListener(counters.listener)
  def detach(): Unit = if (sc != null) sc.removeSparkListener(counters.listener)

  private def counts(): Map[String, Long] = {
    if (sc == null) Map.empty else { BusSync.drain(sc); counters.snapshot() }
  }

  def span[A](name: String)(body: => A): (A, Span) = {
    val id = nextId; nextId += 1
    val parent = stack.head
    stack = id :: stack
    val before = counts()
    val t0 = System.nanoTime()
    val out = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    val after = counts()
    val s = Span(id, parent, name, run, t0, t1,
      after.map { case (k, v) => k -> (v - before(k)) })
    spans += s
    (out, s)
  }

  def all: Seq[Span] = spans.toSeq.sortBy(_.startNs)

  /** Span duration minus the part its direct children cover (children run
    * one after another on the calling thread, so they never overlap). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def write(path: String): Unit =
    Json.write(path, all.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "run" -> s.run, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> selfSeconds(s), "counts" -> s.counts)))
}
