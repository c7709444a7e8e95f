package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Engine

/** Command line of one benchmark run (see run.py, which builds it). */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
    gen: String, scale: Double)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("gen"), m("scale").toDouble)
  }
}

/** Calls into the program's modules. Each call is the build plus the
  * action (a noop sink, or a collect that returns the rows to the
  * caller); it counts as one operation, a thrown exception as a failed
  * one. Every call is recorded with its pass and wall time; in traced
  * mode it is also a span, with the Spark counters read around it. */
final class Runner(spark: SparkSession, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  private val counters = if (tracer.on) Some(new SparkCounters(spark)) else None
  val records = ArrayBuffer.empty[String]
  /** Sequence number of the running pass. */
  var pass = -1

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs one call; returns its result (None if it failed) and its
    * wall time in milliseconds. `probe` marks calls made only in traced
    * mode, to attribute time to one layer. */
  def op[T](name: String, probe: Boolean = false)(body: => T): (Option[T], Double) = {
    attempted += 1
    val before = counters.map(_.snapshot())
    val gc0 = Heap.gcMs
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.span(name)(body))
      catch {
        case e: Exception =>
          failed += 1
          if (errors.size < 20) errors += s"$name: ${e.toString.take(500)}"
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val counted = for (c <- counters.toSeq; b <- before.toSeq) yield {
      val d = c.snapshot().zip(b).map { case (x, y) => x - y }
      Seq("jobs" -> d(0).toString, "tasks" -> d(1).toString, "task_ms" -> d(2).toString,
        "shuffle_bytes" -> d(3).toString, "spill_bytes" -> d(4).toString,
        "plan_us" -> d(5).toString, "gc_ms" -> (Heap.gcMs - gc0).toString)
    }
    records += Json.obj((Seq(
      "name" -> Json.str(name), "pass" -> pass.toString, "probe" -> probe.toString,
      "collect" -> r.exists(_.isInstanceOf[Array[_]]).toString, "ok" -> r.isDefined.toString,
      "ms" -> ms.toString) ++ counted.flatten): _*)
    (r, ms)
  }
}

/** A workload: what a pass does and what the run reports. */
trait Workload {
  /** Generator command for the inputs set-up makes. */
  def genSetup: Seq[String]
  /** Resolves the first operation's inputs (file listing, footers). */
  def ready(spark: SparkSession): Unit
  /** One pass; returns its wall time in seconds. */
  def pass(i: Int): Double
  /** Redoes work on inputs this session has already processed (those
    * of the first two passes, which every run makes); returns its wall
    * time in seconds. */
  def revisit(): Double
  /** False once the inputs for further passes are used up. */
  def more: Boolean = true
  /** Untimed work after the revisit: the check outputs. */
  def finish(): Unit
  /** Workload-specific entries of the result file. */
  def result: Seq[(String, String)]
}

object Harness {
  /** Timed passes a run makes at least, however short `seconds` is. */
  val MinTimedPasses = 2

  /** CPU time of the whole JVM so far (JIT and GC threads too), in
    * nanoseconds. */
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val work = new File(a.work).getAbsoluteFile
    val in = new File(work, "in")
    in.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(a.trace)

    def gen(cmd: Seq[String]): Unit = {
      val pb = new ProcessBuilder((Seq("python3", a.gen) ++ cmd ++
        Seq("--seed", a.seed.toString, "--scale", a.scale.toString,
          "--out", in.getPath)): _*)
      pb.redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val rc = p.waitFor()
      require(rc == 0, s"input generator failed ($rc): ${cmd.mkString(" ")}")
    }

    def session(): SparkSession = {
      val s = Engine.builder(s"local[$cores]", cores)
        .appName(s"perfbench-${a.workload}")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .getOrCreate()
      Engine.configure(s)
    }

    // Set-up, from JVM start: start the session, generate the inputs,
    // resolve the first operation's inputs.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val mainS = sinceStart
    val spark = session()
    val sessionS = sinceStart
    val runner = new Runner(spark, tracer)
    val wl = Workloads(a, spark, runner, in)
    gen(wl.genSetup)
    val genS = sinceStart
    wl.ready(spark)
    val setupS = sinceStart
    runner.attempted = 0
    runner.failed = 0

    // The first pass (cold), then passes timed until `seconds` are
    // measured and at least MinTimedPasses are made, then the revisit.
    // The cold pass is the only warm-up. The JVM does not level off
    // within a run (its JIT threads still burn about a core in the
    // timed passes), and on a shared host runs differ mostly by how
    // fast the host is while they run. Over ten runs per workload on a
    // 4-core box, a pass timed after one more untimed pass spread as
    // widely (quartiles 19-23% apart) as the pass right after the cold
    // one (20-24%), so the run times the two passes it can afford and
    // reports totals over them.
    // Every pass gets a sequence number and records the CPU time the
    // whole JVM spent in it, so a slow pass shows whether it did more
    // work or waited for a core.
    final class Pass(val seq: Int, val phase: String, val s: Double, val cpuS: Double)
    val passes = ArrayBuffer.empty[Pass]
    def run(phase: String): Double = {
      val seq = passes.size
      runner.pass = seq
      val cpu0 = cpuNs
      val s = tracer.span(s"pass:$seq")(if (phase == "revisit") wl.revisit() else wl.pass(seq))
      val cpuS = (cpuNs - cpu0) / 1e9
      Heap.sample()
      passes += new Pass(seq, phase, s, cpuS)
      s
    }
    run("first")
    var measured = 0.0
    var timed = 0
    while ((measured < a.seconds || timed < MinTimedPasses) && wl.more) {
      measured += run("timed")
      timed += 1
    }
    run("revisit")
    runner.pass = -1
    wl.finish()

    val memoMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
    val confs = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k.startsWith("graft.") ||
        k == "spark.master" || k.startsWith("spark.driver") || k.startsWith("spark.local") }
    val heapMax = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
    val out = Json.obj((Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> a.trace.toString,
      "env" -> Json.obj(
        "cores" -> cores.toString,
        "master" -> Json.str(spark.sparkContext.master),
        "heap_max_mb" -> heapMax.toString,
        "spark_version" -> Json.str(spark.version),
        "java" -> Json.str(System.getProperty("java.version")),
        "confs" -> Json.obj(confs.map { case (k, v) => k -> Json.str(v) }: _*)),
      "setup_s" -> setupS.toString,
      // where set-up's time went: seconds from JVM start to main, to
      // the session, to the generated inputs
      "setup_marks" -> Json.obj("main" -> mainS.toString, "session" -> sessionS.toString,
        "inputs" -> genS.toString),
      "passes" -> passes.map(p => Json.obj("seq" -> p.seq.toString,
        "phase" -> Json.str(p.phase), "s" -> p.s.toString, "cpu_s" -> p.cpuS.toString))
        .mkString("[", ",", "]"),
      "attempted" -> runner.attempted.toString,
      "failed" -> runner.failed.toString,
      "errors" -> runner.errors.map(Json.str).mkString("[", ",", "]"),
      "peak_heap_mb" -> Heap.peakMb.toString,
      "memo_cached_mb" -> memoMb.toString,
      "ops" -> runner.records.mkString("[", ",\n", "]")) ++ wl.result): _*)
    write(new File(work, "result.json"), out)
    if (a.trace) write(new File(work, "spans.json"), tracer.toJson)
    spark.stop()
  }

  def write(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }

  def move(from: File, to: File): Unit =
    Files.move(from.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE)
}
