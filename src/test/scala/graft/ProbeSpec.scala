package graft

/** graft.Probe smoke: each mode runs on one query under the shared test
  * session and reports it; bad modes and query names fail by name.
  */
class ProbeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val query = "q01_groupby_agg"

  private def probe(mode: String, names: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Probe.run(spark, mode, sfDir, names))
    out.toString("UTF-8")
  }

  test("plan prints the query's final adaptive plan") {
    val out = probe("plan", query)
    out should include (s"=== $query @ $sfDir ===")
    out should include ("isFinalPlan=true")
  }

  test("time prints build+plan and exec seconds for three passes") {
    val lines = probe("time", query).linesIterator.filter(_.startsWith(query)).toSeq
    lines.size shouldBe 3
    all(lines) should (include ("build+plan") and include ("exec"))
    (1 to 3).foreach(p => lines(p - 1) should include (s"pass$p"))
  }

  test("profile reports the query's totals and at least one job") {
    val out = probe("profile", query)
    val head = out.linesIterator.find(_.startsWith(s"== $query ")).getOrElse(fail(out))
    val jobs = """jobs (\d+)""".r.findFirstMatchIn(head).map(_.group(1).toInt)
    jobs.getOrElse(0) should be >= 1
    out.linesIterator.count(_.trim.startsWith("job ")) shouldBe jobs.get
  }

  test("an unknown mode or query fails with an error that names it") {
    intercept[IllegalArgumentException](probe("jobs", query))
      .getMessage should include ("'jobs'")
    intercept[IllegalArgumentException](probe("plan", query, "q_no_such_query"))
      .getMessage should include ("q_no_such_query")
  }
}
