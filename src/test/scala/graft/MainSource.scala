package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Source scans over main code, for specs that pin a shape of the
  * code itself: each file read with its comments blanked, then
  * grepped line by line. */
object MainSource {

  private val root = Paths.get("src/main/scala/graft")

  /** Every main Scala file as (path relative to the `graft` package
    * directory, code with comments blanked), sorted by path. */
  private def files(): Seq[(String, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .map(p => (root.relativize(p).toString, code(new String(Files.readAllBytes(p), "UTF-8"))))

  /** `src` with comments blanked and line breaks kept; string and
    * char literals are kept as they are (a `//` inside one is not a
    * comment), so a call named inside one still counts. */
  def code(src: String): String = {
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

  /** Every line of main code matching `re`: (file, line number, trimmed line). */
  def grep(re: scala.util.matching.Regex,
           skip: String => Boolean = _ => false): Seq[(String, Int, String)] =
    files().filterNot(f => skip(f._1)).flatMap { case (rel, src) =>
      src.split("\n", -1).toSeq.zipWithIndex.collect {
        case (l, n) if re.findFirstIn(l).isDefined => (rel, n + 1, l.trim)
      }
    }
}
