package graft

/** One tokenizer: each corpus text rule is written once per engine, in
  * `Dedup` (`words`/`wordsSql` and the 60-token window `toks`/`toksSql`),
  * and every word-level key reads it from there. A second copy of a
  * rule is how the two engines, or two keys, come to split text
  * differently. */
class TokenizerSpec extends SparkSpecBase {

  private val rules = Seq(
    "Spark word split" -> """filter\(split\(.+?, " "\)""".r,
    "SQL word split" -> """list_filter\(str_split\(.+?, ' '\)""".r,
    "Spark 60-token window" -> """slice\(.+?, 1, 60\)""".r,
    "SQL 60-token window" -> """\[:60\]""".r)

  rules.foreach { case (rule, re) =>
    test(s"the $rule is defined once in main code, in Dedup") {
      val found = MainSource.grep(re)
      val n = found.map(s => re.findAllIn(s._3).size).sum
      assert(n == 1 && found.head._1 == "operators/Dedup.scala",
        s"$n copies of the $rule: " +
          found.map(s => s"${s._1}:${s._2}: ${s._3}").mkString("; "))
    }
  }
}
