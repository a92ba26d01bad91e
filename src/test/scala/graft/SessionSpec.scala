package graft

import graft.core.Session
import graft.plans.AsOfJoinPlan
import org.apache.logging.log4j.{Level, LogManager}
import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by `graft.core.Session`, so the settings cannot
  * drift apart again between mains and tests. */
class SessionSpec extends AnyFunSuite {

  test("the test session carries every setting Session applies") {
    val s = TestSpark.spark
    assert(s.sparkContext.master == "local[4]")
    val want = Session.settings(TestSpark.data("sf0.001"), 4)
    for ((k, v) <- want) assert(s.conf.get(k) == v, k)
    assert(s.sessionState.planner.extraPlanningStrategies
      .contains(AsOfJoinPlan.AsOfJoinStrategy), "GraftExtensions not installed")
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
  }

  test("src/main builds a SparkSession only in graft/core/Session.scala") {
    // the call only, also split over lines; comments may name the API
    assert(SourceScan.filesMatching("""SparkSession\s*\.\s*builder\s*\(""".r) ==
      Seq("scala/graft/core/Session.scala"))
  }
}
