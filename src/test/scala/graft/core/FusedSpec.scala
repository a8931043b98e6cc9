package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FusedSpec extends SparkSpec {

  test("checkpointCount returns the frame's rows and the exact count in one job") {
    import spark.implicits._
    val df = Seq(1, 2, 3, 4, 5).toDF("x").filter(col("x") > 1)
    val (out, n) = Fused.checkpointCount(df, count(lit(1)))
    assert(n == 4)
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4, 5))
    // the CollectMetrics node must not survive the checkpoint: downstream
    // plans see a plain checkpointed leaf
    assert(!out.queryExecution.optimizedPlan.toString.contains("CollectMetrics"))
  }

  test("checkpointCount is 0 on an empty frame (count is defined on empty)") {
    import spark.implicits._
    val df = Seq(1).toDF("x").filter(col("x") > 99)
    val (out, n) = Fused.checkpointCount(df, count(lit(1)))
    assert(n == 0)
    assert(out.isEmpty)
  }

  test("checkpointIntSet returns the exact distinct set in one job") {
    import spark.implicits._
    val df = Seq(1, 2, 3, 4, 5, 5, 4).toDF("x")
    val (out, s) = Fused.checkpointIntSet(df, pmod(col("x"), lit(3)).cast("int"))
    assert(s == Set(0, 1, 2))
    assert(out.count() == 7, "the checkpointed frame keeps all rows")
    val (_, empty) = Fused.checkpointIntSet(df.filter(col("x") > 99), col("x"))
    assert(empty == Set.empty[Int], "collect_set over zero rows is the empty set")
  }

  test("intSet collects the distinct non-null values; release drops the checkpoint's blocks") {
    import spark.implicits._
    val df = Seq(Some(3), Some(1), None, Some(3), Some(64)).toDF("x").repartition(3)
    assert(Fused.intSet(df, col("x")) == Set(1, 3, 64))
    assert(Fused.intSet(df.filter(col("x") > 99), col("x")) == Set.empty[Int])
    val ck = df.localCheckpoint()
    val rdd = ck.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(spark.sparkContext.getRDDStorageInfo.exists(_.id == rdd.id))
    Fused.release(ck)
    val deadline = System.nanoTime() + 30000000000L
    while (spark.sparkContext.getRDDStorageInfo.exists(_.id == rdd.id) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(!spark.sparkContext.getRDDStorageInfo.exists(_.id == rdd.id))
  }

  test("conditional count(when(...)) matches a filter-then-count on the same frame") {
    import spark.implicits._
    val df = Seq((1, true), (2, false), (3, true), (4, false), (5, false))
      .toDF("x", "chg")
    val (out, n) = Fused.checkpointCount(df, count(when(col("chg"), lit(1))))
    assert(n == out.filter(col("chg")).count())
    assert(n == 2)
    assert(out.count() == 5, "the checkpointed frame keeps ALL rows, not just matches")
  }
}
