package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanTextSpec extends AnyFunSuite {
  test("finalPlan keeps the plan after a nested cached plan and drops every initial section") {
    val plan =
      """AdaptiveSparkPlan isFinalPlan=true
        |+- == Final Plan ==
        |   *(2) BroadcastHashJoin [c#1L], [c#2L], Inner, BuildRight, false
        |   :- InMemoryTableScan [c#1L]
        |   :     +- InMemoryRelation [c#1L], StorageLevel(disk, memory, deserialized, 1 replicas)
        |   :           +- AdaptiveSparkPlan isFinalPlan=true
        |   :           +- == Final Plan ==
        |   :              +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]
        |   :           +- == Initial Plan ==
        |   :              +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]
        |   +- BroadcastQueryStage 0
        |      +- Exchange hashpartitioning(c#2L, 4), ENSURE_REQUIREMENTS, [plan_id=9]
        |+- == Initial Plan ==
        |   SortMergeJoin [c#1L], [c#2L], Inner
        |""".stripMargin
    val fin = PlanText.finalPlan(plan)
    assert(fin.contains("plan_id=7") && fin.contains("plan_id=9"), fin)
    assert(!fin.contains("plan_id=3") && !fin.contains("SortMergeJoin"), fin)
    assert(!fin.contains("Initial Plan"), fin)
    assert(PlanText.finalPlan("*(1) Project [a#1]\n") == "*(1) Project [a#1]\n")
  }
}
