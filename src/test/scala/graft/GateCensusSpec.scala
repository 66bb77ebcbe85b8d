package graft

import graft.queries.QuerySpec

/** The per-gate census: the window exemption, the dump-sort fact, eager
  * jobs, repeat runs, and a gate that throws. */
class GateCensusSpec extends SparkSuite {
  private lazy val meter = RunMeter.attach(spark)

  private def census(name: String): GateCensus.Record =
    GateCensus.record(spark, meter, sf0001,
      SparkEntry.specs.find(_.name == name).get)

  private def withoutSeconds(r: GateCensus.Record): GateCensus.Record =
    r.copy(buildS = 0, analyzeS = 0, optimizeS = 0, physicalS = 0, runS = 0)

  test("census: q213's folded offsets window is exempt, and two records " +
      "of one gate differ only in seconds") {
    val r = census("q213_ks_drift")
    assert(r.error.isEmpty, r.error)
    assert(r.windows.isEmpty, r.windows)
    assert(r.plan.contains("Window"), r.plan)
    assert(!r.plan.matches("(?s).*#\\d.*"), "plan ids are masked")
    assert(r.jobs > 0 && r.shuffleBytes > 0, r.copy(plan = ""))
    assert(withoutSeconds(census("q213_ks_drift")) == withoutSeconds(r))
    assert(!GateCensus.failed(Seq(r)))
  }

  test("census: dump_sort fires on q04, not on q305; q305's build runs " +
      "eager jobs") {
    val q04 = census("q04_semijoin_fk")
    assert(q04.dumpSort && q04.error.isEmpty, q04.copy(plan = ""))
    val q305 = census("q305_kendall_tall")
    assert(q305.error.isEmpty, q305.error)
    assert(!q305.dumpSort)
    assert(q305.eagerJobs > 0 && q305.jobs >= q305.eagerJobs,
      q305.copy(plan = ""))
  }

  test("census: a gate that throws while it builds is recorded as an " +
      "error and fails the census") {
    val boom = QuerySpec("q_boom", (_, _) => sys.error("boom"), Some("SELECT 1"))
    val r = GateCensus.record(spark, meter, sf0001, boom)
    assert(r.gate == "q_boom")
    assert(r.error.exists(_.contains("boom")), r)
    assert(GateCensus.failed(Seq(census("q04_semijoin_fk"), r)))
  }
}
