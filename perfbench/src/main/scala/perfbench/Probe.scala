package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the harness's result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A value as the checks compare it: timestamps as epoch
    * microseconds, dates as ISO strings, non-finite doubles as
    * strings. */
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => str(d.toString)
    case d: Double => java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case d: java.sql.Date => str(d.toString)
    case d: java.math.BigDecimal => d.toPlainString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => row(r)
    case other => str(other.toString)
  }

  def row(r: Row): String = r.toSeq.map(value).mkString("[", ",", "]")

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** One span per call into a module, plus the pass or request that
  * holds it. Spans stay in memory until the run ends. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  /** Runs `body` inside a span named `name`; with tracing off it only
    * runs `body`. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Span duration minus the time its children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def toJson: String = spans.map(s => Json.obj(
    "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
    "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
    "self_ms" -> selfMs(s).toString)).mkString("[", ",\n", "]")
}

/** Spark counters read from a listener the benchmark registers on its
  * own session: jobs, tasks, task run time, shuffle write and spill,
  * and the analysis + optimisation + planning time of each executed
  * query (from its QueryExecution tracker). */
final class SparkCounters(spark: SparkSession) {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val planMicros = new AtomicLong
  val queries = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      planMicros.addAndGet(ms * 1000L)
      queries.incrementAndGet()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** (jobs, tasks, task ms, shuffle bytes, spill bytes, plan µs). */
  def snapshot(): Array[Long] = {
    drain()
    Array(jobs.get, tasks.get, taskRunMs.get, shuffleWriteBytes.get, spillBytes.get,
      planMicros.get)
  }
}

/** Live heap after GC, sampled at pass boundaries with an explicit
  * collection (outside every timed interval), plus JVM GC time. */
object Heap {
  private val mem = ManagementFactory.getMemoryMXBean
  private var peak = 0L
  private var explicitMs = 0L

  def sample(): Unit = {
    val g0 = totalGcMs
    System.gc()
    explicitMs += totalGcMs - g0
    peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)

  private def totalGcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** GC time of the JVM so far, without the explicit collections. */
  def gcMs: Long = totalGcMs - explicitMs
}
