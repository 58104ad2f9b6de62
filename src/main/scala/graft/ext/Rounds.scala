package graft.ext

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Loop support for graft's iterative operators: PageRank, HITS,
  * weighted shortest paths, label propagation and k-core peeling in
  * [[graft.kql.GraphOps]], and [[LlmOps.connectedComponents]]. It holds
  * the one partitioner rule, the one round loop and the one result
  * hand-off they share.
  *
  * Why the loops run on pair RDDs with ONE pinned [[HashPartitioner]]
  * rather than DataFrames: every DataFrame round pays Catalyst analysis,
  * optimization and codegen on a fresh plan (a measured ~0.16 s/round
  * floor, and rounds are synchronous barriers), and a round frame that is
  * referenced several times per round (k-core 4×, HITS ~8×, Bellman-Ford
  * 2×) multiplies the planned subtree every round unless each round is
  * eagerly checkpointed. With the graph keyed once on the loop's
  * partitioner, every per-round join is co-partitioned and narrow; the
  * only shuffles are the reduceByKey/aggregateByKey fan-ins (map-side
  * combined), and there is no per-round planning. Every loop keeps its
  * state in exact integers or strings (Long sums and mins, counts,
  * min-label ties), which are order-independent, so the partition count
  * never changes a value and the DuckDB oracles replay the rounds
  * verbatim. */
private[graft] object Rounds {

  /** Partitioner for a loop over `records` pair records, sized to the
    * data rather than the session default: every round is a barrier over
    * these partitions, and on a small graph per-task launch overhead
    * dominates (measured 0.30 s/round at 32 partitions vs 0.03 at 1 for a
    * 1.4k-edge graph). ~250k records per partition, at least 1, capped
    * at 4× cores for skew headroom. `records` may be an upper bound (a
    * pre-distinct count): sizing needs only the order of magnitude. */
  def partitioner(sc: SparkContext, records: Long): HashPartitioner =
    new HashPartitioner(math.max(1L, math.min(
      4L * math.max(1, sc.defaultParallelism), records / 250000L + 1L)).toInt)

  /** The RDDs one round of a loop is made of. */
  trait Parts[S] { def apply(s: S): Seq[RDD[_]] }
  object Parts {
    implicit def one[T]: Parts[RDD[T]] = r => Seq(r)
    implicit def two[A, B]: Parts[(RDD[A], RDD[B])] = s => Seq(s._1, s._2)
  }

  /** How a loop keeps a round: the storage level it persists at, a step
    * run right after the persist (connected components' checkpoint) and
    * one run right before the unpersist (its checkpoint-file removal). */
  final case class Keep(level: StorageLevel = StorageLevel.MEMORY_ONLY,
                        pin: RDD[_] => Unit = _ => (),
                        unpin: RDD[_] => Unit = _ => ()) {
    def hold[T](r: RDD[T]): RDD[T] = { r.persist(level); pin(r); r }
    def free(r: RDD[_]): Unit = { unpin(r); r.unpersist(false) }
  }

  /** A loop's final round, still persisted, and whether the loop stopped
    * because its measure repeated. */
  final class Last[S](val state: S, val converged: Boolean, release: () => Unit) {
    def free(): Unit = release()
    /** [[Rounds.handOff]] of the frame built from the final round, which
      * is freed once that frame has materialized. */
    def handOff(result: S => DataFrame): DataFrame =
      Rounds.handOff(result(state))(free())
  }

  /** Runs exactly `rounds` rounds from `init`, each materialized by a
    * count of its first RDD. See [[until]]. */
  def loop[S](init: S, rounds: Int)(step: S => S)(implicit parts: Parts[S]): Last[S] =
    drive(init, rounds, Keep(), (s: S) => parts(s).head.count(), converge = false)(step)

  /** Runs at most `rounds` rounds from `init` and stops after the first
    * round whose `measure` equals the round before it (the initial state
    * is measured too). Each round builds the next state with `step`,
    * persists it through `keep`, materializes it with the one action
    * `measure`, and only then frees the round it was built from. If a
    * round throws, the live rounds are freed before the error propagates;
    * otherwise the final round stays persisted for the caller's
    * [[Last.handOff]]. */
  def until[S, M](init: S, rounds: Int, keep: Keep = Keep())(measure: S => M)(
      step: S => S)(implicit parts: Parts[S]): Last[S] =
    drive(init, rounds, keep, measure, converge = true)(step)

  private def drive[S, M](init: S, rounds: Int, keep: Keep, measure: S => M,
                          converge: Boolean)(step: S => S)(
      implicit parts: Parts[S]): Last[S] = {
    def rdds(s: S) = parts(s).distinct
    def free(s: S): Unit = rdds(s).foreach(keep.free)
    var cur = init
    rdds(cur).foreach(keep.hold(_))
    try {
      var prev = if (converge) Some(measure(cur)) else None
      var done = false
      var n = 0
      while (n < rounds && !done) {
        val built = step(cur)
        val m = try { rdds(built).foreach(keep.hold(_)); measure(built) }
                catch { case t: Throwable => free(built); throw t }
        free(cur)
        cur = built
        done = prev.contains(m)
        if (converge) prev = Some(m)
        n += 1
      }
      val last = cur
      new Last(last, done, () => free(last))
    } catch { case t: Throwable => free(cur); throw t }
  }

  /** Hands an operator's result to its caller: the frame goes into the
    * tracked cache that [[LlmOps.releaseCaches]] frees once the caller
    * has consumed it, is materialized with one count, and only then is
    * `from` run to free what the frame was built from (also when the
    * count throws). A DataFrame cache is visible to
    * `spark.catalog.clearCache()` and to the caller's `unpersist()`; a
    * persisted RDD left behind instead is reclaimed only by ContextCleaner
    * GC, which a large long-lived heap rarely runs. */
  def handOff(df: DataFrame)(from: => Unit = ()): DataFrame = {
    LlmOps.persistTracked(df)
    try df.count() finally from
    df
  }
}
