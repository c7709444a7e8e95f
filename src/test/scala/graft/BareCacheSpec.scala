package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** A ratchet on bare caches: outside `Memo.scala`, main code that
  * calls `.cache()` or `.persist(` pins blocks no memo entry releases
  * and serves stale data after a source rewrite. The sites that remain
  * are listed here, by file and code line; the list may only shrink —
  * route a site through `graft.Memo` and delete its line. */
class BareCacheSpec extends SparkSpecBase {

  private val root = Paths.get("src/main/scala/graft")

  /** The remaining sites: (file under src/main/scala/graft, trimmed code line). */
  private val remaining: Seq[(String, String)] = Seq(
    "operators/TextAnalysis.scala" -> """.select(col("src"), col("dst"), col("w"), col("wtot")).cache()""",
    "operators/Graph.scala" -> """col("src"), col("dst"), col("d")).cache()""",
    "operators/Graph.scala" -> """col("src"), col("dst"), col("d")).cache()""")

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

  test("no bare .cache()/.persist( outside Memo beyond the listed remaining sites") {
    val found = sites()
    val got = found.map(s => (s._1, s._3))
    val extra = got.diff(remaining)
    val gone = remaining.diff(got)
    assert(extra.isEmpty, "new bare cache sites (route them through graft.Memo): " +
      found.filter(s => extra.contains((s._1, s._3))).map(s => s"${s._1}:${s._2}: ${s._3}")
        .mkString("; "))
    assert(gone.isEmpty, s"listed sites no longer in the code; delete them from the list: $gone")
  }
}
