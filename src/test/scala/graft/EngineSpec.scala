package graft

/** `Engine.applyConf`, the one parser for measurement-time conf
  * overrides (`SPARK_GRAFT_CONF` in Bench and Timeit). */
class EngineSpec extends SparkSpecBase {

  test("applyConf sets trimmed k=v pairs and returns them in order") {
    val (a, b) = ("graft.spec.applyconf.a", "graft.spec.applyconf.b")
    try {
      val applied = Engine.applyConf(spark, s" $a = 1 ;;$b=x=y; ")
      assert(applied == Seq(a -> "1", b -> "x=y"))
      assert(spark.conf.get(a) == "1" && spark.conf.get(b) == "x=y")
    } finally Seq(a, b).foreach(spark.conf.unset)
    assert(Engine.applyConf(spark, "").isEmpty)
  }

  test("applyConf fails fast on a token with an empty key or no '='") {
    for (bad <- Seq("=v", " = v", "novalue")) {
      val e = intercept[IllegalArgumentException](
        Engine.applyConf(spark, s"graft.spec.applyconf.ok=1;$bad"))
      assert(e.getMessage.contains(s"'${bad.trim}'"), e.getMessage)
    }
    // the spec is parsed whole before anything is set
    assert(spark.conf.getOption("graft.spec.applyconf.ok").isEmpty)
  }
}
