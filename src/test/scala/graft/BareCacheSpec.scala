package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** No bare caches: outside `Memo.scala`, main code that calls
  * `.cache()` or `.persist(` pins blocks no memo entry releases and
  * serves stale data after a source rewrite. Reuse across queries goes
  * through `graft.Memo`; scaffolding that lives for one build is a
  * `Ckpt.cut` table the build releases (`Ckpt.rounds`' held frames). */
class BareCacheSpec extends SparkSpecBase {

  private val root = Paths.get("src/main/scala/graft")

  /** `src` with comments blanked and line breaks kept; string and
    * char literals are kept as they are (a `//` inside one is not a
    * comment), so a call named inside one still counts. */
  private def code(src: String): String = {
    val q3 = "\"\"\""
    val out = new StringBuilder
    var i = 0
    var inStr = false
    while (i < src.length) {
      val c = src(i)
      if (inStr) {
        out += c
        if (c == '\\' && i + 1 < src.length) { out += src(i + 1); i += 1 }
        else if (c == '"') inStr = false
        i += 1
      } else if (src.startsWith(q3, i)) {
        val end = src.indexOf(q3, i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop)
        i = stop
      } else if (src.startsWith("'\"'", i) || src.startsWith("'\\", i)) {
        // '"' or an escape such as '\'' and '\\'
        val stop = if (src(i + 1) == '"') i + 3 else src.indexOf('\'', i + 3) + 1
        out ++= src.substring(i, stop)
        i = stop
      } else if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        val stop = if (end < 0) src.length else end + 2
        out ++= src.substring(i, stop).filter(_ == '\n')
        i = stop
      } else {
        if (c == '"') inStr = true
        out += c
        i += 1
      }
    }
    out.toString
  }

  /** Every bare cache site in main code: (file, line number, trimmed line). */
  private def sites(): Seq[(String, Int, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Memo.scala")
      .toSeq.sortBy(_.toString)
    files.flatMap { (p: Path) =>
      val rel = root.relativize(p).toString
      code(new String(Files.readAllBytes(p), "UTF-8")).split("\n", -1).toSeq
        .zipWithIndex.collect {
          case (l, n) if l.contains(".cache()") || l.contains(".persist(") =>
            (rel, n + 1, l.trim)
        }
    }
  }

  test("comment stripping keeps code and drops comments") {
    val src = "a.cache() // b.cache()\n/* c.persist(\n */ d\n\"//\".cache()\n" +
      "'\"' + \"\"\"x\" // \"\"\".persist(\n"
    assert(code(src).split("\n", -1).toSeq == Seq("a.cache() ", "", " d", "\"//\".cache()",
      "'\"' + \"\"\"x\" // \"\"\".persist(", ""))
  }

  test("no bare .cache()/.persist( outside Memo") {
    val found = sites()
    assert(found.isEmpty, "bare cache sites (route them through graft.Memo): " +
      found.map(s => s"${s._1}:${s._2}: ${s._3}").mkString("; "))
  }
}
