package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session memo: every intermediate the engine reuses across a
  * session's queries (graph edge tables, APSS/MinHash pair sets,
  * k-means codebooks, BPE dictionaries, sketch bytes, written
  * layouts) lives here.
  *
  * One live entry per (session, key). An entry carries a TOKEN — the
  * mtimes of the source paths its site declares (a directory table's
  * listing, see [[stamp]]), then any extra parts
  * (parameters that change the answer without changing the key). A
  * call whose token differs from the live entry's rebuilds and hands
  * the superseded value to `release`, so a data rewrite frees the old
  * blocks instead of pinning them for the session, and the entry
  * count stays one per key however often the sources are rewritten.
  *
  * The build runs under the entry's own monitor, never inside a
  * `ConcurrentHashMap.compute`: a build that calls another memo (the
  * graph pair counts over the cached baskets, the k-means codebook
  * over the quantized corpus) takes that entry's monitor in turn, and
  * an expensive build never blocks unrelated keys.
  */
object Memo {
  private final class Entry {
    var token: String = null // null until a build completes
    var value: Any = null
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** The entry for `key` in this session, rebuilt by `build` when the
    * token of `sources` and `extra` changed; `release` gets the value
    * it supersedes. The kinds below cover the common values; a site
    * whose value holds a written directory or checkpointed frames
    * passes its own `release`. */
  def apply[T](spark: SparkSession, key: String, sources: Seq[String],
      extra: Any*)(release: T => Unit)(build: => T): T = {
    val token = (sources.map(stamp(spark, _)) ++ extra).mkString(":")
    val e = entries.computeIfAbsent(
      s"${System.identityHashCode(spark)}:$key", _ => new Entry)
    e.synchronized {
      if (e.token != token) {
        if (e.token != null) {
          val old = e.value.asInstanceOf[T]
          e.token = null
          e.value = null
          release(old)
        }
        e.value = build
        e.token = token
      }
      e.value.asInstanceOf[T]
    }
  }

  /** The token part of one source path, resolved through Hadoop's
    * FileSystem so it works for every supported scheme (s3a://,
    * hdfs://, file:...) — java.io.File.lastModified() silently returns
    * 0 off the local filesystem, which would quietly revert the
    * stale-cache guard in exactly the object-store deployments the
    * 100 TB framing targets. A file is its mtime. A directory table is
    * its own mtime plus (name, length, mtime) of every data file under
    * it: an in-place overwrite of a part file (a truncating write, a
    * `cp` over it) leaves the directory's mtime where it was, so the
    * directory's mtime alone would keep serving the old data. Hidden
    * and metadata files (`_SUCCESS`, `.crc`) are not data. A missing
    * path maps to -1 (distinct from any real mtime). */
  private def stamp(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime.toString
      else {
        val root = st.getPath.toUri.getPath.length + 1
        val files = Seq.newBuilder[String]
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (!name.startsWith("_") && !name.startsWith("."))
            files += s"${f.getPath.toUri.getPath.substring(root)},${f.getLen},${f.getModificationTime}"
        }
        (st.getModificationTime.toString +: files.result().sorted).mkString("[", ";", "]")
      }
    } catch { case _: java.io.FileNotFoundException => "-1" }
  }

  /** A lazily `.cache()`d plan, released by `unpersist`. */
  def cached(spark: SparkSession, key: String, sources: Seq[String],
      extra: Any*)(build: => DataFrame): DataFrame =
    cachedFrames(spark, key, sources, extra: _*)(cache => cache(build))

  /** Several cached frames held as one entry: `build` caches each
    * frame through the function it is given, so a later frame of the
    * build reads an earlier one's blocks, and any job it runs fills
    * them. The release, and a failed build, unpersist them newest
    * first, so dropping one never recaches a frame that reads it. */
  def cachedFrames[T](spark: SparkSession, key: String, sources: Seq[String],
      extra: Any*)(build: (DataFrame => DataFrame) => T): T =
    apply[(T, List[DataFrame])](spark, key, sources, extra: _*)(
      _._2.foreach(_.unpersist(blocking = false))) {
      var held = List.empty[DataFrame]
      try (build { df => held = df.cache() :: held; held.head }, held)
      catch { case e: Throwable => held.foreach(_.unpersist(blocking = false)); throw e }
    }._1

  /** Frames cached for one build only, never entries: `body` caches
    * each frame through the function it is given, and all of them are
    * unpersisted when `body` returns or throws. For scaffolding that
    * every round of a loop joins on its key (the PageRank adjacency):
    * the cache keeps the plan's hash partitioning, so a round's join
    * moves only the other side, while a joined [[Ckpt.cut]] table is
    * re-shuffled every round. */
  def scoped[T](body: (DataFrame => DataFrame) => T): T = {
    var held = List.empty[DataFrame]
    try body { df => held = df.cache() :: held; held.head }
    finally held.foreach(_.unpersist(blocking = false))
  }

  /** A lineage-cut table: `build` returns a frame whose leaves are
    * checkpointed (its last step is `cutLineage()`). The checkpoint
    * mode is part of the token, so a mid-session
    * `graft.checkpoint.dir` flip rebuilds instead of serving the other
    * mode's blocks; release frees the superseded LogicalRDD leaves. */
  def checkpointed(spark: SparkSession, key: String, sources: Seq[String],
      extra: Any*)(build: => DataFrame): DataFrame =
    apply[DataFrame](spark, key, sources, extra :+ Ckpt.mode(spark): _*)(
      Ckpt.release)(build)

  /** A driver-side value (sketch bytes, a count, a table name). */
  def value[T](spark: SparkSession, key: String, sources: Seq[String],
      extra: Any*)(build: => T): T =
    apply[T](spark, key, sources, extra: _*)(_ => ())(build)
}
