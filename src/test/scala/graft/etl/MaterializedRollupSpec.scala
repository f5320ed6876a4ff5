package graft.etl

import graft.SparkSpec

/** The rollup merge algebra ([[MaterializedRollup.build]] +
  * [[MaterializedRollup.merge]]) as an incremental fold. */
class MaterializedRollupSpec extends SparkSpec {
  import spark.implicits._
  import MaterializedRollup.{build, merge}

  private val all = Seq(
    ("a", 1.0), ("a", 3.0), ("a", 5.0),
    ("b", 10.0), ("b", -2.0),
    ("c", 7.0))

  private def state(rows: Seq[(String, Double)]) =
    build(rows.toDF("k", "x"), Seq("k"), Seq("x"))

  test("chained delta folds equal the full recompute, any slicing") {
    val full = state(all).orderBy("k").collect().toSeq
    // fold in three arbitrary slices — incl. key 'c' ONLY in the last delta
    val s1 = merge(Seq(state(all.take(2)), state(all.slice(2, 4))),
      Seq("k"), Seq("x"))
    val s2 = merge(Seq(s1, state(all.drop(4))), Seq("k"), Seq("x"))
    assert(s2.orderBy("k").collect().toSeq === full)
  }

  test("derived mean comes from maintained state") {
    val m = state(all).select($"k", ($"sum_x" / $"cnt_x").as("mean_x"))
      .as[(String, Double)].collect().toMap
    assert(m("a") === 3.0 && m("b") === 4.0 && m("c") === 7.0)
  }

  test("merge of states is commutative") {
    val (left, right) = (state(all.take(3)), state(all.drop(3)))
    val ab = merge(Seq(left, right), Seq("k"), Seq("x"))
      .orderBy("k").collect().toSeq
    val ba = merge(Seq(right, left), Seq("k"), Seq("x"))
      .orderBy("k").collect().toSeq
    assert(ab === ba)
  }
}
