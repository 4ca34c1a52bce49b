package graft

/** The PlanAudit assertions as a CI gate: all scale-critical plan
  * properties (pushdown, pruning, broadcast chains, partial aggregation,
  * TakeOrderedAndProject, ObjectHashAggregate top-k, zero-exchange
  * bucketed SMJ) must hold or `sbt test` fails — they can no longer rot
  * in a side runMain.
  *
  * Runs in a child session of the shared test session (the bench
  * recipe) with PlanAudit.main's one difference, AQE off so static plans
  * show codegen markers and join strategies — session-scoped runtime
  * conf, so the other suites keep the recipe's AQE.
  */
class PlanSpec extends SparkSpec {

  private lazy val audits: Seq[PlanAudit.Audit] = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    PlanAudit.run(s, sf001)
  }

  test("plan audit covers all the scale-critical properties") {
    assert(audits.size >= 12, s"expected >= 12 audits, got ${audits.size}")
  }

  test("every audited plan property holds") {
    val failed = audits.filterNot(_.ok)
    assert(failed.isEmpty,
      "plan regressions:\n" + failed.map(a => s"  ${a.query}: ${a.what}").mkString("\n"))
  }
}
