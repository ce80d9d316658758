package graft

/** Registry-wide plan discipline: NO registered query may plan a
  * CartesianProduct — the one join shape that is never acceptable at
  * 100 TB (every deliberate cross join in the engine carries an
  * explicit broadcast() of a provably tiny side, which plans as
  * BroadcastNestedLoopJoin instead). Guards every future query against
  * a silent join-condition typo degenerating into an all-pairs product.
  */
class PlanDisciplineSpec extends SparkSpec {

  test("no registered query plans a CartesianProduct") {
    SparkEntry.lanes.foreach { lane =>
      val plan = lane.run(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"query '${lane.name}' plans a CartesianProduct")
    }
  }
}
