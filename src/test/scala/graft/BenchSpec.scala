package graft

import org.json4s.JsonAST.{JInt, JObject}

/** `Bench`'s per-query record: the profiled run splits a query into its
  * construct / plan / exec phases and reads its operator counts from the
  * plan the noop write ran, after AQE re-planned it; the query subset
  * rejects names that are not queries.
  */
class BenchSpec extends SparkSuite {
  private def jobs(record: JObject, phase: String): BigInt =
    (record \ phase \ "jobs") match { case JInt(n) => n; case v => fail(s"$phase.jobs: $v") }

  test("profiled run: three phases, construction jobs, counts from the final plan") {
    // the first read of a table in a session infers its schema in a job
    SparkEntry.queries("q_agg")(spark, sf)
    val agg = Bench.profile(spark, sf, "q_agg")
    val refresh = Bench.profile(spark, sf, "q_refresh_e2e")
    for (p <- Seq(agg, refresh)) {
      val record = p.json
      for (phase <- Seq("construct", "plan", "exec"))
        assert(Seq("s", "jobs", "stages", "tasks", "spill_bytes").forall(k => (record \ phase \ k) != org.json4s.JNothing))
      assert(jobs(record, "exec") >= 1)
      assert(record \ "plan_chars" == JInt(p.planText.length))
      // read from the write's QueryExecution, not from df.queryExecution,
      // whose adaptive plan never ran and stays the initial one
      assert(!p.planText.contains("isFinalPlan=false"), p.planText)
    }
    assert(agg.planText.contains("AdaptiveSparkPlan isFinalPlan=true"), agg.planText)
    assert(jobs(agg.json, "construct") == 0)
    // q_refresh_e2e checkpoints its corpus diff while it is built
    assert(jobs(refresh.json, "construct") > 0)
    // AQE coalesces q_agg's shuffle at this size: visible only in the final plan
    assert(agg.json \ "aqe_shuffle_reads" != JInt(0), agg.planText)
  }

  test("query subset: sorted, every query when unset, unknown names rejected") {
    assert(SparkEntry.selected(Some(" q_join_multi,q_agg,")) == Seq("q_agg", "q_join_multi"))
    assert(SparkEntry.selected(None) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.selected(Some(" ")) == SparkEntry.queries.keys.toSeq.sorted)
    val e = intercept[IllegalArgumentException](SparkEntry.selected(Some("q_agg,q_agq")))
    assert(e.getMessage.contains("q_agq") && !e.getMessage.contains("q_agg"), e.getMessage)
  }
}
