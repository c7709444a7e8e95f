package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-replication harness: expands the driver testdata by an
  * integer factor R so the 100 TB plan-shape claims can be validated
  * EMPIRICALLY one decade up (sf0.1 × 10 ≈ sf1.0) — the r7 verdict's
  * ask. Replica 0 is the original data; replica k > 0 shifts every
  * entity key by k·OFF (preserving FK integrity across
  * customer/supplier/part/orders/lineitem and events.user_id, and
  * preserving `user_id % 4` tenancy since OFF ≡ 0 mod 4), so the
  * scaled dataset behaves like a larger population rather than a
  * duplicated one:
  *   - documents: every word gets a replica suffix, so shingle/
  *     MinHash/embedding near-dup structure is preserved WITHIN a
  *     replica but never matches ACROSS replicas — candidate pair
  *     counts scale linearly, like real corpus growth (a verbatim
  *     copy would square them and measure a workload no real sf1.0
  *     has). n_chars is recomputed.
  *   - embeddings: replica k circularly shifts the vector by k
  *     positions — norm and component distribution preserved, but
  *     shifted vectors are uncorrelated with the originals, so ANN
  *     index structure (IVF cells, LSH buckets) grows like a real
  *     corpus instead of collapsing into duplicate points.
  *   - events: same timestamps (10× busier hours — realistic organic
  *     growth), keys offset; the event_id-derived defect/op classes
  *     (% 5/7/97/101/103/107) keep their densities under the offset.
  * Dimension tables (region, nation) stay fixed, as in TPC-H scaling.
  *
  * `sbt "runMain graft.tools.ScaleGen /root/testdata/sf0.1 target/scale/sf1.0 10"`
  */
object ScaleGen {
  val Off = 10000000L // per-replica key offset (≡ 0 mod 4)

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.driver("graft-scalegen").spark
    run(spark, args(0), args(1), args(2).toInt)
    spark.stop()
  }

  /** The replication itself, callable from specs (ScaleGenSpec pins
    * the replica properties the SCALING analysis relies on). */
  def run(spark: SparkSession, in: String, out: String, reps: Int): Unit = {
    def replicate(table: String, shifted: String*)
                 (xform: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$in/$table.parquet")
      // Replica key ranges [k·Off, (k+1)·Off) must not collide: a base
      // key ≥ Off would silently corrupt FK integrity and the
      // user_id%4 tenancy everything downstream relies on, so fail
      // loudly instead (one metadata-cheap max() scan per key column).
      if (shifted.nonEmpty) {
        val row = base
          .select(shifted.map(c => max(col(c)).cast("long").as(c)): _*).head()
        shifted.zipWithIndex.foreach { case (c, i) =>
          require(row.isNullAt(i) || row.getLong(i) < Off,
            s"$table: max($c) = ${row.getLong(i)} >= Off=$Off — " +
              "replica key ranges would collide; raise Off")
        }
      }
      val all = (0 until reps).map(k => xform(base, k)).reduce(_ unionAll _)
      all.write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scalegen] $table x$reps -> $out")
    }
    def shift(c: String, k: Int) = col(c) + lit(k * Off)

    replicate("region")((df, k) => if (k == 0) df else df.limit(0))
    replicate("nation")((df, k) => if (k == 0) df else df.limit(0))
    replicate("customer", "c_custkey")((df, k) =>
      df.withColumn("c_custkey", shift("c_custkey", k)))
    replicate("supplier", "s_suppkey")((df, k) =>
      df.withColumn("s_suppkey", shift("s_suppkey", k)))
    replicate("part", "p_partkey")((df, k) =>
      df.withColumn("p_partkey", shift("p_partkey", k)))
    replicate("orders", "o_orderkey", "o_custkey")((df, k) => df
      .withColumn("o_orderkey", shift("o_orderkey", k))
      .withColumn("o_custkey", shift("o_custkey", k)))
    replicate("lineitem", "l_orderkey", "l_partkey", "l_suppkey")((df, k) => df
      .withColumn("l_orderkey", shift("l_orderkey", k))
      .withColumn("l_partkey", shift("l_partkey", k))
      .withColumn("l_suppkey", shift("l_suppkey", k)))
    replicate("events", "event_id", "user_id")((df, k) => df
      .withColumn("event_id", shift("event_id", k))
      .withColumn("user_id", shift("user_id", k)))
    replicate("documents", "doc_id")((df, k) =>
      (if (k == 0) df
       else df.withColumn("text",
         regexp_replace(col("text"), "(\\S+)", s"$$1${k}x")))
        .withColumn("doc_id", shift("doc_id", k))
        .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings", "vec_id")((df, k) =>
      (if (k == 0) df
       else df.withColumn("embedding", shiftEmbedding(k)))
        .withColumn("vec_id", shift("vec_id", k)))
  }

  /** Replica-k embedding decorrelation: circular shift by k mod dim;
    * once k wraps past the dimension (k ≥ dim — first hit at R=100,
    * where the old fixed-k slice had negative length and k=dim would
    * have emitted a VERBATIM copy, collapsing ANN cells into
    * duplicate points), additionally negate a deterministic
    * hash-picked half of the components per wrap count q = k div dim.
    * Both pieces preserve the norm and the component-magnitude
    * distribution exactly (±1 scaling and permutation), and the sign
    * pattern differs per q, so every replica stays uncorrelated with
    * every other. k < dim replicas are bit-identical to the old
    * transform (sf1.0 layouts regenerate unchanged). */
  private[graft] def shiftEmbedding(k: Int): org.apache.spark.sql.Column = {
    val sz = "size(embedding)"
    val m = s"pmod($k, $sz)"
    expr(
      s"""transform(
         |  concat(slice(embedding, $m + 1, $sz - $m),
         |         slice(embedding, 1, $m)),
         |  (x, i) -> CASE
         |    WHEN $k < $sz THEN x
         |    WHEN pmod(hash(cast(($k div $sz) AS INT), i), 2) = 1 THEN -x
         |    ELSE x END)""".stripMargin)
  }
}
