package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Tables]] infers a table's parquet schema once per version of
  * it, instead of running a footer-reading job on every load. */
class TablesSpec extends SparkSpecBase {

  test("a second load of an unchanged table runs no schema-inference job") {
    val d = Files.createTempDirectory("graft_tables")
    val ev = d.resolve("events.parquet")
    Files.copy(Paths.get(sf, "events.parquet"), ev)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.startsWith("parquet at"))) jobs.incrementAndGet()
    }
    /** Jobs of `load` whose stage is a parquet footer read. */
    def inferJobs(load: => Unit): Int = {
      GraftTestBridge.drainListenerBus(spark.sparkContext)
      jobs.set(0)
      load
      GraftTestBridge.drainListenerBus(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(inferJobs(Tables.events(spark, d.toString)) == 1)
      assert(inferJobs(Tables.events(spark, d.toString)) == 0)
      // read with the held schema, the table loads as the original does
      val copy = Tables.events(spark, d.toString)
      val orig = Tables.events(spark, sf)
      assert(copy.schema == orig.schema)
      assert(copy.collect().map(_.toString).sorted.sameElements(
        orig.collect().map(_.toString).sorted))
      // a new version of the file is inferred again
      Files.setLastModifiedTime(ev,
        FileTime.fromMillis(Files.getLastModifiedTime(ev).toMillis + 10000))
      assert(inferJobs(Tables.events(spark, d.toString)) == 1)
      assert(inferJobs(Tables.events(spark, d.toString)) == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
