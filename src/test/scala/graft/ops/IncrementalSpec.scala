package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("merge(history state, delta state) ≡ direct aggregate; " +
      "delta-only keys appear, history-only keys survive") {
    val rows = Seq(
      ("a", 1.0), ("a", 2.5), ("b", 10.0), // history
      ("a", 4.0), ("c", 7.25))             // delta (c is a new key)
    val df = rows.toDF("k", "v")
    val hist = df.limit(3)
    val delta = df.exceptAll(hist)
    val merged = Incremental.merge(
      Incremental.aggState(hist, Seq("k"), Seq("v")),
      Incremental.aggState(delta, Seq("k"), Seq("v")), Seq("k"))
    val direct = Incremental.aggState(df, Seq("k"), Seq("v"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
    assert(merged.filter($"k" === "c").select($"n_rows").as[Long].head == 1L)
  }

  test("profile: one row per column, exact stats, pruned scans and a " +
      "hashed distinct side in the plan") {
    val df = Seq((1L, "x", null), (2L, "x", "p"), (2L, "y", "q"))
      .toDF("id", "s", "n")
    val got = Profile.profile(df,
        Seq("id" -> col("id"), "s" -> col("s"), "n" -> col("n")))
      .orderBy("col_name")
      .as[(String, Long, Long, Long, String, String)].collect().toList
    assert(got == List(
      ("id", 3L, 3L, 2L, "1", "2"),
      ("n", 3L, 2L, 2L, "p", "q"),
      ("s", 3L, 3L, 2L, "x", "y")))
    // the plan claim, on a file-backed table: two scans, each pruned to
    // the profiled columns, and no sort on the distinct side
    val orders = graft.sources.Tables.orders(spark, sfDir)
    val prof = Profile.profile(orders,
      Seq("o_orderkey" -> col("o_orderkey"), "o_orderstatus" -> col("o_orderstatus")))
    assert(prof.count() == 2)
    val problems = ProfilePlan.problems(prof, Set("o_orderkey", "o_orderstatus"))
    assert(problems.isEmpty,
      s"${problems.mkString("; ")}:\n${prof.queryExecution.executedPlan}")
    // approx mode (the 100 TB path): no Expand, estimates within rsd
    val apx = Profile.profile(orders,
      Seq("o_orderkey" -> col("o_orderkey"), "o_orderstatus" -> col("o_orderstatus")),
      approxDistinct = true)
    apx.count()
    assert(!apx.queryExecution.executedPlan.toString.contains("Expand"))
    val exact = Profile.profile(orders,
        Seq("o_orderkey" -> col("o_orderkey")))
      .select("n_distinct").as[Long].head()
    val est = apx.filter(col("col_name") === "o_orderkey")
      .select("n_distinct").as[Long].head()
    assert(math.abs(est - exact).toDouble / exact < 0.05,
      s"estimate $est vs exact $exact")
  }
}
