package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.operators.{Ingest, Normalize, Persist, QueryApi}
import graft.sources.Adapters

/** The served store ([[Persist.store]]): the reads it serves plan no
  * shuffle and no scan of the events files, every stage before Persist
  * reads it instead of the events files, and every landing — a new
  * part file, or a part file rewritten in place — rebuilds it, serves
  * what a fresh directory holding the same files serves, and releases
  * the blocks it superseded. */
class StoreSpec extends SparkSpecBase {

  private def nodes(df: DataFrame): Seq[SparkPlan] = flattenPlan(executedPlan(df))

  private def scansEvents(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.getName == "events.parquet")
    case _ => false
  }

  test("store reads plan no shuffle and no events scan") {
    Persist.store(spark, sf)
    val reads = Seq(
      "getPatient" -> QueryApi.getPatient(spark, sf),
      "obsByPatient" -> QueryApi.obsByPatient(spark, sf),
      "latestObservation" -> QueryApi.latestObservation(spark, sf),
      "obsStats" -> QueryApi.obsStats(spark, sf))
    for ((name, df) <- reads) {
      val ns = nodes(df)
      assert(ns.count(_.isInstanceOf[ShuffleExchangeLike]) == 0, s"$name shuffles")
      assert(!ns.exists(scansEvents), s"$name scans the events files")
      assert(ns.exists(_.isInstanceOf[InMemoryTableScanExec]), s"$name skips the store")
    }
  }

  test("every Adapters, Ingest and Normalize key reads the store, not the events files") {
    Persist.store(spark, sf)
    for ((name, e) <- Seq(Adapters, Ingest, Normalize).flatMap(_.registry)) {
      val ns = nodes(e.fn(spark, sf))
      assert(!ns.exists(scansEvents), s"$name scans the events files")
      assert(ns.exists(_.isInstanceOf[InMemoryTableScanExec]), s"$name skips the store")
    }
  }

  /** One Spark-written part file holding `df`, staged outside any table. */
  private def part(df: DataFrame): Path = {
    val out = Files.createTempDirectory("graft_store_part").resolve("out")
    df.coalesce(1).write.parquet(out.toString)
    Files.list(out).filter(_.toString.endsWith(".parquet")).findFirst().get()
  }

  /** A copy of sf0.001 whose events table is a directory of the given
    * part files (data files only: no checksum files, so a part can be
    * rewritten in place). */
  private def table(parts: Seq[(String, Path)]): Path = {
    val d = Files.createTempDirectory("graft_store")
    Files.list(Paths.get(sf)).filter(_.getFileName.toString != "events.parquet")
      .forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    val ev = Files.createDirectory(d.resolve("events.parquet"))
    parts.foreach { case (name, p) => Files.copy(p, ev.resolve(name)) }
    d
  }

  /** The batch flow's eight calls (B1, B2, B4, A1, A2, C2, P1, D2),
    * then the reads perfbench serves (a read of the landed rows, then
    * one of each kind) and D5, as sorted row strings. */
  private def answers(dir: Path): Map[String, Seq[String]] = {
    val d = dir.toString
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq.mkString("|")).sorted
    Map(
      "B1" -> rows(Adapters.csvLabx(spark, d)),
      "B2" -> rows(Adapters.hl7Obx(spark, d)),
      "B4" -> rows(Adapters.jsonGeneric(spark, d)),
      "A1" -> rows(Ingest.envelope(spark, d)),
      "A2" -> rows(Ingest.dedupIdempotency(spark, d)),
      "C2" -> rows(Normalize.rejectCounts(spark, d)),
      "P1" -> rows(Normalize.endToEnd(spark, d)),
      "D2" -> rows(Persist.upsertVersion(spark, d)),
      "fresh" -> rows(QueryApi.obsByPatient(spark, d, "t1", 13L, "purchase",
        "2024-01-01 00:00:00", "2024-02-01 00:00:00", 50)),
      "obsByPatient" -> rows(QueryApi.obsByPatient(spark, d, "t1", 5L, "click",
        "2024-01-01 00:00:00", "2024-02-01 00:00:00", 50)),
      "getPatient" -> rows(QueryApi.getPatient(spark, d, "t1", 13L)),
      "patientBundle" -> rows(QueryApi.patientBundle(spark, d, "t1", 13L, "purchase",
        "2024-01-01 00:00:00", "2024-01-15 00:00:00")),
      "latestObservation" -> rows(QueryApi.latestObservation(spark, d, "t1")),
      "obsStats" -> rows(QueryApi.obsStats(spark, d, "t1")),
      "D5" -> rows(Persist.patientMeta(spark, d)))
  }

  /** Persisted RDDs still reachable (see MemoRewriteSpec). */
  private def livePersisted(): Int = {
    System.gc()
    spark.sparkContext.getPersistentRDDs.size
  }

  test("landings and an in-place rewrite rebuild the store and leak nothing") {
    val base = Tables.events(spark, sf)
    val maxId = base.agg(max(col("event_id"))).head().getLong(0)
    // a landed batch: observations of one patient and code, plus
    // profile writes (signups) of that patient
    def batch(patient: Long, code: String, first: Long): DataFrame =
      spark.range(0, 19).select(
        (lit(first) + col("id")).as("event_id"),
        (lit("2024-01-10 00:00:00").cast("timestamp") +
          expr("make_interval(0, 0, 0, 0, cast(id as int), 0, 0)")).as("ts"),
        lit(patient).as("user_id"),
        when(col("id") < 16, lit(code)).otherwise(lit("signup")).as("event_type"),
        (lit(1000.0) + col("id")).as("value"),
        lit("{}").as("props"))
    val b1 = batch(13L, "purchase", maxId + 1)
    val parts = Map(
      "base" -> part(base.select(b1.columns.map(col).toIndexedSeq: _*)),
      "b1" -> part(b1),
      "b2" -> part(batch(5L, "click", maxId + 101)),
      // b1 again with its values doubled and one row fewer
      "b1x" -> part(b1.filter(col("event_id") =!= maxId + 1)
        .withColumn("value", col("value") * 2)))
    val steps = Seq(
      Seq("part-0.parquet" -> "base", "part-1.parquet" -> "b1"),
      Seq("part-0.parquet" -> "base", "part-1.parquet" -> "b1", "part-2.parquet" -> "b2"),
      Seq("part-0.parquet" -> "base", "part-1.parquet" -> "b1x", "part-2.parquet" -> "b2"))
    def files(step: Seq[(String, String)]) = step.map { case (n, k) => n -> parts(k) }

    // what a directory that held each step's files from the start serves
    val want = steps.map(s => answers(table(files(s))))

    val live = table(Seq("part-0.parquet" -> parts("base")))
    val ev = live.resolve("events.parquet")
    var prev = answers(live)
    val persisted = livePersisted()
    for ((step, i) <- steps.zipWithIndex) {
      if (i < 2) Files.copy(parts(step.last._2), ev.resolve(step.last._1))
      else {
        val target = ev.resolve("part-1.parquet")
        val dirMtime = Files.getLastModifiedTime(ev)
        Files.write(target, Files.readAllBytes(parts("b1x"))) // truncating write
        assert(target.toFile.setLastModified(target.toFile.lastModified() + 60000L))
        assert(Files.getLastModifiedTime(ev) == dirMtime,
          "an in-place rewrite leaves the directory's mtime where it was")
      }
      val got = answers(live)
      assert(livePersisted() <= persisted, s"step $i: the rebuild must release the old store")
      assert(got("D2") != prev("D2"), s"step $i must change the served state")
      for ((k, v) <- want(i))
        assert(got(k) == v, s"step $i: $k differs from a fresh directory's answer")
      prev = got
    }
  }
}
