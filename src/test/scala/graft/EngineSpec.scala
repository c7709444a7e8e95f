package graft

/** `Engine.applyConf`, the one parser for measurement-time conf
  * overrides (`SPARK_GRAFT_CONF` in Bench and Timeit), and the JSON
  * the artifacts carry them in. */
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

  test("artifact fields from the environment parse back with tab, quote and backslash") {
    val odd = "a\tb\"c\\d\u0001e"
    val fields = Bench.envFields(s"/data/sf$odd", "4", "local[4]", Seq(s"k$odd" -> odd))
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("{" + fields + "}")
    assert(node.get("sf").asText() == s"/data/sf$odd")
    assert(node.get("cpus").asInt() == 4)
    assert(node.get("master").asText() == "local[4]")
    assert(node.get("conf").get(s"k$odd").asText() == odd)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Json.str(odd)).asText() == odd)
  }
}
