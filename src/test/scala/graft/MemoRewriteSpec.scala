package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A source table rewritten in the middle of a session:
  * every memo kind must serve the rewritten data, and must release what
  * it superseded instead of pinning it for the session. */
class MemoRewriteSpec extends SparkSpecBase {

  // one registry key per memo kind, with the source table it memoizes
  private val keys = Seq(
    "k17_top_supplier_revenue" -> "lineitem",  // cached plan
    "dedup_apss_prefix" -> "documents",        // checkpointed table
    "audit_heavy_hitters_sketch" -> "events",  // driver-side sketch bytes
    "dedup_bloom_decontaminate" -> "documents", // shared shingle set
    "pipeline_corpus_refresh" -> "documents",  // P4 reads that shingle set
    "store_partition_prune" -> "events",       // written layout
    "api_get_patient" -> "events",             // the served store
    "sim_recall_eval" -> "embeddings")         // cached brute-force truth

  /** The rewritten tables. Events are doubled, so a sketch of the old
    * data would underestimate every user; the embeddings' ids are
    * reversed, so other vectors are the queries; the others change
    * every answer that reads them. */
  private def rewritten(table: String): DataFrame = {
    val df = spark.read.parquet(s"$sf/$table.parquet")
    table match {
      case "lineitem" =>
        df.withColumn("l_extendedprice", col("l_extendedprice") * 2)
      case "documents" => df.filter(col("doc_id") % 2 === 0)
      case "embeddings" =>
        val maxId = df.agg(max(col("vec_id"))).head().getLong(0)
        df.withColumn("vec_id", lit(maxId) - col("vec_id"))
      case "events" =>
        val maxId = df.agg(max(col("event_id"))).head().getLong(0)
        df.unionByName(df.withColumn("event_id", col("event_id") + maxId))
    }
  }

  private def copyOf(src: String): Path = {
    val d = Files.createTempDirectory("graft_memo_rewrite")
    Files.list(Paths.get(src)).forEach(f =>
      Files.copy(f, d.resolve(f.getFileName)))
    d
  }

  /** Replace `dir/table.parquet` by the rewritten table and move its
    * mtime forward explicitly, so the rewrite is visible however coarse
    * the file system's clock is. */
  private def rewrite(dir: Path, table: String, staged: Path): Unit = {
    val target = dir.resolve(s"$table.parquet")
    val before = Files.getLastModifiedTime(target).toMillis
    Files.copy(staged, target, StandardCopyOption.REPLACE_EXISTING)
    assert(target.toFile.setLastModified(before + 60000L))
  }

  /** Persisted RDDs still reachable: Spark tracks them weakly, so
    * collect first and count only what something still holds. */
  private def livePersisted(): Int = {
    System.gc()
    spark.sparkContext.getPersistentRDDs.size
  }

  private def answer(name: String, dir: Path): Seq[String] =
    SparkEntry.queries(name)(spark, dir.toString).collect().toSeq
      .map(_.toSeq.mkString("|")).sorted

  test("a mid-session source rewrite rebuilds every memo kind and leaks nothing") {
    val tables = keys.map(_._2).distinct
    val staged = tables.map { t =>
      val out = Files.createTempDirectory(s"graft_memo_$t").resolve("out")
      rewritten(t).coalesce(1).write.parquet(out.toString)
      t -> Files.list(out).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
    }.toMap

    val live = copyOf(sf)
    val before = keys.map { case (n, _) => n -> answer(n, live) }.toMap
    val persisted = livePersisted()

    tables.foreach(t => rewrite(live, t, staged(t)))
    val after = keys.map { case (n, _) => n -> answer(n, live) }.toMap
    assert(livePersisted() <= persisted,
      "a rewrite must release the superseded memo entries")

    val fresh = copyOf(sf)
    tables.foreach(t => rewrite(fresh, t, staged(t)))
    for ((n, _) <- keys) {
      assert(after(n) != before(n), s"$n: the rewrite must change the answer")
      assert(after(n) == answer(n, fresh),
        s"$n: served a stale answer after the source rewrite")
    }
  }
}
