package graft

import org.scalatest.Suite
import org.scalatest.funsuite.AnyFunSuite
import graft.Lane.{RowsOnly, Sql}

/** The lane registry's own contract: one declaration per name, the
  * rows-only exceptions named and gated, and the name-keyed views
  * derived from [[SparkEntry.lanes]] alone.
  */
class LaneRegistrySpec extends AnyFunSuite {
  private val lanes = SparkEntry.lanes

  test("lane names are unique, and a name declared twice fails") {
    assert(lanes.map(_.name).distinct.size === lanes.size)
    val a = lanes.head
    val e = intercept[IllegalArgumentException](Lane.unique(Seq(a, lanes(1), a)))
    assert(e.getMessage.contains(a.name))
  }

  test("rows-only lanes are exactly the two HNSW recall lanes, each gated by its floor spec") {
    val rowsOnly = lanes.collect { case Lane(n, _, RowsOnly(g), _) => n -> g }.toMap
    assert(rowsOnly === Map(
      "ann_hnsw_recall" -> "graft.operators.HnswSpec",
      "ann_hnsw_sq8_recall" -> "graft.operators.HnswSq8Spec"))
    rowsOnly.values.foreach { spec =>
      val suite = Class.forName(spec).getDeclaredConstructor().newInstance().asInstanceOf[Suite]
      assert(suite.testNames.exists(_.contains("floor")), s"$spec pins no recall floor")
    }
  }

  test("queries, oracleSql and stageBuilders are views of lanes") {
    assert(SparkEntry.queries.keySet === lanes.map(_.name).toSet)
    lanes.foreach(l => assert(SparkEntry.queries(l.name) eq l.run, l.name))
    assert(SparkEntry.oracleSql === lanes.collect { case Lane(n, _, Sql(t), _) => n -> t }.toMap)
    assert(SparkEntry.stageBuilders.keySet === lanes.filter(_.build.nonEmpty).map(_.name).toSet)
    lanes.foreach(l => assert(SparkEntry.stageBuilders.get(l.name) === l.build, l.name))
  }
}
