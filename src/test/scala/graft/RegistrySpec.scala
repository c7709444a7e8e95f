package graft

/** Whole-registry contract guards: properties every served query must
  * satisfy, enforced over `SparkEntry.queries` itself so a new
  * operator can't ship without them.
  */
class RegistrySpec extends SparkSpecBase {

  test("driver contract: every query has an oracle, every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("no oracle carries a failed val interpolation (lowercase 'null' token)") {
    // a `val aSql = s"... $bCte ..."` that textually precedes bCte's
    // declaration interpolates null at object init (Scala initializes
    // object vals in declaration order) — the r6 persist_tombstone
    // failure mode. All oracle SQL is built by `def`s now, but this
    // guard makes the hazard un-reintroducible: SQL never legitimately
    // needs a lowercase standalone `null` (use NULL)
    val bad = SparkEntry.oracleSql.collect {
      case (name, sql) if "\\bnull\\b".r.findFirstIn(sql).isDefined => name
    }
    assert(bad.isEmpty, s"oracles with interpolated null: ${bad.toSeq.sorted}")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("USAGE.md covers every registered key's owning object") {
    val usage = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("USAGE.md")), "UTF-8")
    val missing = SparkEntry.owners.map(_.getClass.getName.stripSuffix("$"))
      .filterNot(usage.contains)
    assert(missing.isEmpty, s"USAGE.md lacks owning objects: $missing")
    // the streaming twins and the Catalyst as-of node are API too
    assert(usage.contains("graft.streaming.StreamOps"))
    assert(usage.contains("graft.plans.AsOfJoin"))
  }

  test("no registry key is defined twice, within an object or across objects") {
    val keys = SparkEntry.owners.flatMap(_.registry.map(_._1))
    assert(keys.diff(keys.distinct).isEmpty,
      s"keys defined twice: ${keys.diff(keys.distinct).distinct.sorted}")
    val e = SparkEntry.registry("q1_pricing_summary")
    val thrown = intercept[IllegalArgumentException](
      SparkEntry.index(Seq("a" -> e, "b" -> e, "a" -> e)))
    assert(thrown.getMessage.contains("defined twice: a"))
  }

  /** What the plan pins read off one key's final (post-AQE) plan. */
  private case class Pins(cartesian: Boolean, bnlj: Boolean, shuffles: Int)

  /** Every key run once; both plan pins check the same final plan. */
  private lazy val pins: Seq[(String, Pins)] =
    SparkEntry.registry.toSeq.sortBy(_._1).map { case (name, e) =>
      val nodes = flattenPlan(executedPlan(e.fn(spark, sf)))
      name -> Pins(
        nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
        nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]))
    }

  test("no query plans a cartesian product; BNLJ only where documented") {
    val failures = pins.flatMap { case (name, p) =>
      (if (p.cartesian) Seq(s"$name: CartesianProduct") else Nil) ++
        (if (p.bnlj && !SparkEntry.registry(name).bnlj) Seq(s"$name: BroadcastNestedLoopJoin")
         else Nil)
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  /** The documented O(n²) correctness baselines — the ONLY queries
    * allowed to refuse service under the cluster-deployment confs. */
  private val quadraticBaselines = Set("sim_cosine_pairs", "dedup_ngram_jaccard")

  test("cluster-readiness manifest: under cluster confs the fail-fast set " +
      "is exactly the documented baselines and everything else plans") {
    // the confs a real cluster deployment sets: no all-pairs plans, no
    // driver-side union-find cut-over (distributed label propagation
    // always). Every registry query must either plan under them or be
    // one of the two documented quadratic baselines that fail fast —
    // this pins the COMPLEMENT: nothing else silently depends on a
    // local-only escape hatch.
    val prevQuad = spark.conf.getOption("graft.allowQuadraticBaselines")
    val prevEdges = spark.conf.getOption("graft.dedup.clusters.driverMaxEdges")
    spark.conf.set("graft.allowQuadraticBaselines", "false")
    spark.conf.set("graft.dedup.clusters.driverMaxEdges", "0")
    try {
      val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          // construction + analysis + optimization: proves the query
          // plans under cluster confs (memoized eager builders run
          // their jobs here too, on the distributed paths)
          fn(spark, sf).queryExecution.optimizedPlan
          ()
        } catch { case e: Throwable => failed += ((name, e.toString)) }
      }
      val failSet = failed.map(_._1).toSet
      assert(failSet == quadraticBaselines,
        s"fail-fast set mismatch — unexpected failures: " +
          s"${failed.filterNot(f => quadraticBaselines(f._1))}; " +
          s"missing fail-fasts: ${quadraticBaselines -- failSet}")
      failed.foreach { case (name, msg) =>
        assert(msg.contains("allowQuadraticBaselines"),
          s"$name failed for the wrong reason: $msg")
      }
    } finally {
      prevQuad.fold(spark.conf.unset("graft.allowQuadraticBaselines"))(
        spark.conf.set("graft.allowQuadraticBaselines", _))
      prevEdges.fold(spark.conf.unset("graft.dedup.clusters.driverMaxEdges"))(
        spark.conf.set("graft.dedup.clusters.driverMaxEdges", _))
    }
  }

  test("shuffle budget: no query plans more exchanges than its pinned ceiling") {
    // counted over plan nodes (see Entry.shuffles): cached subtrees and
    // reused exchanges are leaves, so only shuffles the key pays count
    info(pins.map { case (name, p) => s"\"$name\" -> ${p.shuffles}," }
      .mkString("MEASURED[", " ", "]MEASURED"))
    val failures = pins.collect { case (name, p)
        if p.shuffles > SparkEntry.registry(name).shuffles =>
      s"$name: ${p.shuffles} exchanges > budget ${SparkEntry.registry(name).shuffles}"
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }
}
