package graft

/** `tools.Inspect` runs on the session it is given, so its output is the
  * engine's own plan and row count, not those of a tool-private session.
  */
class InspectSpec extends SparkSpec {

  private def inspect(mode: String, which: String): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val failed = Console.withOut(buf) {
      graft.tools.Inspect.run(spark, mode, sfDir, which)
    }
    (failed, buf.toString("UTF-8"))
  }

  test("count prints the query's row count; explain is the AQE plan") {
    val q = "q1_pricing_summary"
    val expected = SparkEntry.queries(q)(spark, sfDir).count()
    val (countFailed, counted) = inspect("count", q)
    assert(countFailed === 0, counted)
    assert(counted.contains(s"rows=$expected "), counted)
    val (explainFailed, plan) = inspect("explain", q)
    assert(explainFailed === 0, plan)
    assert(plan.contains("AdaptiveSparkPlan"), plan)
  }

  test("a failing query is reported and the next one still runs") {
    val (failed, out) = inspect("count", "no_such_query,q1_pricing_summary")
    assert(failed === 1, out)
    assert(out.contains("[inspect] no_such_query failed"), out)
    assert(out.contains("===== q1_pricing_summary (count) ====="), out)
    assert(out.contains("rows="), out)
  }
}
