package graft

/** No bare caches: outside `Memo.scala`, main code that calls
  * `.cache()` or `.persist(` pins blocks no memo entry releases and
  * serves stale data after a source rewrite. Reuse across queries goes
  * through `graft.Memo`; scaffolding that lives for one build is a
  * `Ckpt.cut` table the build releases (`Ckpt.rounds`' held frames). */
class BareCacheSpec extends SparkSpecBase {

  test("comment stripping keeps code and drops comments") {
    val src = "a.cache() // b.cache()\n/* c.persist(\n */ d\n\"//\".cache()\n" +
      "'\"' + \"\"\"x\" // \"\"\".persist(\n"
    assert(MainSource.code(src).split("\n", -1).toSeq == Seq("a.cache() ", "", " d",
      "\"//\".cache()", "'\"' + \"\"\"x\" // \"\"\".persist(", ""))
  }

  test("no bare .cache()/.persist( outside Memo") {
    val found = MainSource.grep("""\.cache\(\)|\.persist\(""".r,
      skip = rel => java.nio.file.Paths.get(rel).getFileName.toString == "Memo.scala")
    assert(found.isEmpty, "bare cache sites (route them through graft.Memo): " +
      found.map(s => s"${s._1}:${s._2}: ${s._3}").mkString("; "))
  }
}
