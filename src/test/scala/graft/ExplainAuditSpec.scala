package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ExplainAudit plan checks (pushdown, broadcast, partial
  * aggregation, no single-partition exchange, …) as a suite. A full
  * audit plans every registered query, minutes on 4 CPUs, so the suite
  * is @Slow: `sbt testSlow` gates it. */
@org.scalatest.tags.Slow
class ExplainAuditSpec extends AnyFunSuite {
  private lazy val results = ExplainAudit.checks(TestSpark.spark, TestSpark.sfDir)

  test(s"runs exactly ${ExplainAudit.ExpectedChecks} checks") {
    assert(results.size == ExplainAudit.ExpectedChecks)
  }

  test("every plan check passes") {
    val failed = results.collect { case (false, msg) => msg }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("q52 has no Expand and q71 broadcasts the registry-side indexes") {
    Seq("q52 has no Expand", "q71 broadcasts").foreach { prefix =>
      val hit = results.filter(_._2.startsWith(prefix))
      assert(hit.size == 1 && hit.head._1, prefix)
    }
  }
}
