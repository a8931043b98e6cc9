package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.collect_set
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

/** Checkpoint a frame AND read an aggregate of it from the SAME job.
  *
  * Iterative loops here converge on a pattern of localCheckpoint (one
  * job) followed by a driver-side count (a second job over the
  * checkpointed blocks). The loops are job-overhead-bound at bench
  * scale: the second job buys nothing the first could not have carried.
  * `observe` attaches the aggregate to the checkpoint job itself
  * (CollectMetrics accumulators — exact, not sampled), so each loop
  * step pays ONE job with identical values and an identical
  * checkpointed frame (the CollectMetrics node does not survive the
  * checkpoint; downstream plans are unchanged).
  *
  * The metric must be defined on an empty frame: count(...) is (0);
  * a bare sum(...) is not (null).
  *
  * Every read of an observed metric goes through [[observedOr]], which
  * waits a bounded time and otherwise runs the metric as its own job.
  */
object Fused {
  /** How long a finished action's observed metrics may take to arrive.
    * They come through the listener bus, normally within milliseconds.
    */
  private val ObservationWait = 10.seconds

  /** Metric `name` of `obs`, whose action has already run, or the
    * `standalone` job's answer when the metric does not arrive: the wait
    * passes [[ObservationWait]] (the action posted its event to another
    * session's listeners), or the metrics row lacks `name` (AQE pruned
    * the CollectMetrics node out of the final plan).
    */
  def observedOr[A](obs: Observation, name: String)(standalone: => A): A = {
    val row =
      try Some(Await.result(obs.future, ObservationWait))
      catch { case _: TimeoutException => None }
    row.filter(r => r.schema != null && r.schema.fieldNames.contains(name))
      .fold(standalone)(_.getAs[A](name))
  }

  def checkpointCount(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val obs = Observation()
    val out = df.observe(obs, metric.as("m")).localCheckpoint()
    val n = observedOr[Number](obs, "m")(out.agg(metric).head().getAs[Number](0))
    (out, n.longValue)
  }

  /** Checkpoint a frame AND collect a small distinct set from the SAME
    * job — the bucket-pruned-read companion: a maintained loop that
    * checkpoints a key frame and then runs SnapshotSink.bucketIds on it
    * pays a second driver-collect job for a ≤ numBuckets-element set the
    * checkpoint job already saw. `setExpr` must be bounded (bucket ids,
    * never data); the set is exact — collect_set dedups, matching
    * [[intSet]].
    */
  def checkpointIntSet(df: DataFrame, setExpr: Column): (DataFrame, Set[Int]) = {
    val obs = Observation()
    val out = df.observe(obs, collect_set(setExpr).as("s")).localCheckpoint()
    val set = observedOr[collection.Seq[Int]](obs, "s")(
      out.agg(collect_set(setExpr)).head().getSeq[Int](0))
    (out, set.toSet)
  }

  /** The distinct values of a small non-negative int expression — bucket
    * ids, indexes into a configured list — in ONE narrow job: each
    * partition sets the values it sees in a bitset, and the driver unions
    * one bitset per partition. `distinct().collect()` pays an exchange for
    * the same answer (two jobs under AQE). Nulls are skipped; `setExpr`
    * must be bounded, since the driver holds a bitset as wide as its
    * largest value.
    */
  def intSet(df: DataFrame, setExpr: Column): Set[Int] = {
    val bits = new java.util.BitSet
    df.select(setExpr.cast("int")).queryExecution.toRdd.mapPartitions { rows =>
      val seen = new java.util.BitSet
      rows.foreach(r => if (!r.isNullAt(0)) seen.set(r.getInt(0)))
      Iterator.single(seen.toLongArray)
    }.collect().foreach(words => bits.or(java.util.BitSet.valueOf(words)))
    bits.stream().toArray.toSet
  }

  /** Drop the blocks behind a frame returned by `localCheckpoint()` once
    * nothing reads it any more, instead of leaving them to the context
    * cleaner's GC-driven sweep. A frame that is not a checkpoint leaf is
    * left alone.
    */
  def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD if l.rdd.isCheckpointed =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
}
