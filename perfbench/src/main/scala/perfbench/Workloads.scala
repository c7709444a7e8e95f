package perfbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.{Row, SparkSession}

import graft.Tables
import graft.operators.{Corpus, Dedup, Ingest, Normalize, Persist, QueryApi, Similarity,
  TextAnalysis}
import graft.sources.Adapters

object Workloads {
  def apply(a: Args, spark: SparkSession, r: Runner, in: File): Workload = a.workload match {
    case "etl_serve" => new EtlServe(a, spark, r, in)
    case "corpus_curate" => new CorpusCurate(a, spark, r, in)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Passes a run can make: the first and the timed ones (`seconds`
    * of passes of at least a second each, or the minimum). Set-up
    * stages the inputs of every one, so no generator runs between
    * passes. */
  def rounds(a: Args): Int = 1 + math.max(Harness.MinTimedPasses, math.ceil(a.seconds).toInt)

  def checkDir(in: File): File = {
    val d = new File(in.getParentFile, "check")
    d.mkdirs()
    d
  }
}

/** The reference flow, landing to serving. Each pass lands a staged
  * batch of new observations in the events table, runs the batch
  * flow over the table (adapters, ingest, normalize, persist), then
  * serves the pass's Query API reads: first a read of the landed
  * rows, then one read of each kind, as one closed-loop client. */
final class EtlServe(a: Args, spark: SparkSession, r: Runner, in: File) extends Workload {
  private val dir = in.getPath
  private case class Read(round: Int, kind: String, patient: Long, code: String,
                          from: String, to: String, limit: Int)
  private case class Served(pass: Int, landed: Int, q: Read, ms: Double,
                            rows: Option[Array[Row]])
  private var schedule: IndexedSeq[IndexedSeq[Read]] = IndexedSeq.empty
  private val served = ArrayBuffer.empty[Served]
  private var landed = 0

  def genSetup: Seq[String] = Seq("serve", "--rounds", Workloads.rounds(a).toString)

  def ready(spark: SparkSession): Unit = {
    val src = Source.fromFile(new File(in, "schedule.tsv"), "UTF-8")
    try schedule = src.getLines().map(_.split("\t")).map(f =>
      Read(f(0).toInt, f(1), f(2).toLong, f(3), f(4), f(5), f(6).toInt)).toIndexedSeq
      .groupBy(_.round).toIndexedSeq.sortBy(_._1).map(_._2)
    finally src.close()
    Tables.events(spark, dir).schema
    Tables.customer(spark, dir).schema
  }

  override def more: Boolean = landed < schedule.size

  private def call(q: Read): Array[Row] = {
    val t = QueryApi.tenantOf(q.patient)
    q.kind match {
      case "fresh" | "obsByPatient" =>
        QueryApi.obsByPatient(spark, dir, t, q.patient, q.code, q.from, q.to, q.limit).collect()
      case "getPatient" => QueryApi.getPatient(spark, dir, t, q.patient).collect()
      case "patientBundle" =>
        QueryApi.patientBundle(spark, dir, t, q.patient, q.code, q.from, q.to).collect()
      case "latestObservation" => QueryApi.latestObservation(spark, dir, t).collect()
      case "obsStats" => QueryApi.obsStats(spark, dir, t).collect()
    }
  }

  private val opName = Map(
    "fresh" -> "query_api.obs_by_patient", "obsByPatient" -> "query_api.obs_by_patient",
    "getPatient" -> "query_api.get_patient", "patientBundle" -> "query_api.patient_bundle",
    "latestObservation" -> "query_api.latest_observation",
    "obsStats" -> "query_api.obs_stats")

  private def serve(reads: Seq[Read]): Unit =
    for (q <- reads) {
      val (rows, ms) = r.op(opName(q.kind))(call(q))
      served += Served(r.pass, landed, q, ms, rows)
    }

  def pass(i: Int): Double = {
    val batch = f"batch-$landed%05d.parquet"
    Harness.move(new File(new File(in, "landing"), batch),
      new File(new File(in, "events.parquet"), batch))
    val reads = schedule(landed)
    landed += 1
    val t0 = System.nanoTime()
    flow()
    serve(reads)
    val s = Workloads.secondsSince(t0)
    if (r.tracer.on) {
      r.op("tables.events_scan", probe = true)(r.noop(Tables.events(spark, dir)))
      r.op("persist.patient_meta", probe = true)(r.noop(Persist.patientMeta(spark, dir)))
    }
    s
  }

  /** The batch flow over the events table as it stands. */
  private def flow(): Unit = {
    r.op("adapters.csv_labx")(r.noop(Adapters.csvLabx(spark, dir)))
    r.op("adapters.hl7_obx")(r.noop(Adapters.hl7Obx(spark, dir)))
    r.op("adapters.json_generic")(r.noop(Adapters.jsonGeneric(spark, dir)))
    r.op("ingest.envelope")(r.noop(Ingest.envelope(spark, dir)))
    r.op("ingest.dedup_idempotency")(r.noop(Ingest.dedupIdempotency(spark, dir)))
    rejects = r.op("normalize.reject_counts")(Normalize.rejectCounts(spark, dir).collect())
      ._1.getOrElse(Array.empty)
    r.op("normalize.end_to_end")(r.noop(Normalize.endToEnd(spark, dir)))
    r.op("persist.upsert_version")(r.noop(Persist.upsertVersion(spark, dir)))
  }

  /** The last pass again without landing a batch: the batch flow over
    * the table it has already processed, then its reads but for the
    * fresh one. Every answer equals the last pass's, so this is the
    * work a cache of persisted and served state would save. */
  def revisit(): Double = {
    val t0 = System.nanoTime()
    flow()
    serve(schedule(landed - 1).filter(_.kind != "fresh"))
    Workloads.secondsSince(t0)
  }

  /** The reject report of the last batch flow (the revisit's), over
    * the table as it stands at the end of the run. */
  private var rejects: Array[Row] = Array.empty

  /** Check outputs, computed outside every timed pass. */
  def finish(): Unit = {
    val check = Workloads.checkDir(in)
    Normalize.endToEnd(spark, dir).write.mode("overwrite")
      .parquet(new File(check, "end_to_end.parquet").getPath)
    Harness.write(new File(check, "reads.jsonl"), served.map(v => Json.obj(
      "pass" -> v.pass.toString, "landed" -> v.landed.toString, "round" -> v.q.round.toString,
      "kind" -> Json.str(v.q.kind), "ms" -> v.ms.toString,
      "patient" -> v.q.patient.toString, "code" -> Json.str(v.q.code),
      "from" -> Json.str(v.q.from), "to" -> Json.str(v.q.to), "limit" -> v.q.limit.toString,
      "ok" -> v.rows.isDefined.toString,
      "rows" -> v.rows.getOrElse(Array.empty[Row]).map(Json.row).mkString("[", ",", "]")))
      .mkString("", "\n", "\n"))
  }

  def result: Seq[(String, String)] = Seq(
    "landed" -> landed.toString,
    "reject_counts" -> rejects.map(Json.row).mkString("[", ",", "]"))
}

/** The training-data chain over a sequence of fresh corpus shards,
  * then re-curation of the shards of the first two passes. */
final class CorpusCurate(a: Args, spark: SparkSession, r: Runner, in: File)
    extends Workload {
  private def shardDir(k: Int) = new File(in, f"shard-$k%03d").getPath
  /** op -> digest of its collected rows, per shard curated fresh. */
  private val digests = mutable.Map.empty[Int, Map[String, String]]
  private val mismatches = ArrayBuffer.empty[String]
  private var shards = 0

  private val staged = Workloads.rounds(a)

  def genSetup: Seq[String] = Seq("corpus", "--shards", s"0-${staged - 1}")

  override def more: Boolean = shards < staged

  def ready(spark: SparkSession): Unit = {
    Tables.documents(spark, shardDir(0)).schema
    Tables.embeddings(spark, shardDir(0)).schema
  }

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.map(Json.row).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Curates shard k; returns its wall time and the rows each
    * collecting call returned. */
  private def curate(k: Int): (Double, Map[String, Array[Row]]) = {
    val d = shardDir(k)
    val out = mutable.Map.empty[String, Array[Row]]
    def keep(name: String)(rows: => Array[Row]): Unit =
      r.op(name)(rows)._1.foreach(x => out(name) = x)
    val t0 = System.nanoTime()
    r.op("text.quality_score")(r.noop(TextAnalysis.qualityScore(spark, d)))
    r.op("text.lang_id")(r.noop(TextAnalysis.langId(spark, d)))
    keep("corpus.prep")(Corpus.corpusPrep(spark, d).collect())
    keep("corpus.refresh")(Corpus.corpusRefresh(spark, d).collect())
    keep("dedup.minhash_lsh")(Dedup.minhashLsh(spark, d).collect())
    keep("dedup.apss_prefix")(Dedup.apssPrefix(spark, d).collect())
    keep("similarity.ivf_probe")(Similarity.ivfProbe(spark, d).collect())
    keep("similarity.topk")(Similarity.topkBruteforce(spark, d).collect())
    (Workloads.secondsSince(t0), out.toMap)
  }

  def pass(i: Int): Double = {
    val (s, out) = curate(i)
    digests(i) = out.map { case (op, rows) => op -> digest(rows) }
    shards = i + 1
    out.get("corpus.prep").foreach { rows =>
      Harness.write(new File(Workloads.checkDir(in), f"prep-$i%03d.json"),
        rows.map(Json.row).mkString("[", ",\n", "]"))
    }
    s
  }

  /** Re-curates shards 0 and 1, already curated in this session, and
    * checks that every call returns what it returned on the fresh
    * pass. */
  def revisit(): Double =
    (0 to 1).map { k =>
      val (s, out) = curate(k)
      for ((op, h) <- digests(k) if !out.get(op).map(digest).contains(h))
        mismatches += s"shard $k $op"
      s
    }.sum

  def finish(): Unit = ()

  def result: Seq[(String, String)] = Seq(
    "shards" -> shards.toString,
    "revisit_mismatches" -> mismatches.map(Json.str).mkString("[", ",", "]"))
}
