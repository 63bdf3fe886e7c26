package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one pin / cut / release lifecycle of the iterative operators
  * (Graph.pageRank, bfsHops, labelPropagation, shortestPaths, kCorePeel,
  * hits and Dedup.connectedComponents). One instance per invocation:
  *
  *  - Static tables (edge lists, degree and node tables) are PINNED with
  *    persist(MEMORY_AND_DISK), not localCheckpoint: a checkpoint's Scan
  *    ExistingRDD reports unknown partitioning under AQE (measured —
  *    EnsureRequirements then re-shuffles the edge side every round), while
  *    InMemoryTableScan keeps the cached plan's HashPartitioning, and its
  *    ordering when the pin is sorted, so each round's join reuses the
  *    stored distribution and only the node-sized state moves.
  *    MEMORY_AND_DISK spills rather than silently evicting. The operator
  *    runs the fill job (an eager count) where its job order wants it.
  *  - Loop state is CUT with an eager localCheckpoint, so round k's plan
  *    never re-executes rounds 1..k-1; the operator picks the cadence.
  *    A lazy cut lets one projection feed two places without a job.
  *  - [[finish]] makes each invocation self-contained: the result is
  *    materialized, then every pin and every cut the result no longer
  *    reads is released. Never-released pins leaked blocks across a long
  *    session (a 528-query Verify run), and superseded cuts otherwise stay
  *    until the ContextCleaner happens to notice a GC; a bench iteration
  *    must also pay its own edge build instead of riding cache-manager
  *    plan-match reuse of an earlier call's pins. */
private[operators] final class Iterate(tag: String) {
  private var pins = Seq.empty[DataFrame]
  private var cuts = Seq.empty[RDD[_]]

  /** Persists `df` (MEMORY_AND_DISK) until [[finish]]. */
  def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    pins :+= p
    p
  }

  /** Pins an edge table repartitioned on `key`, sorted within partitions
    * on it when `sorted`: the cached ordering is visible through
    * InMemoryTableScan, so a per-round sort-merge join streams the pin in
    * place instead of re-sorting |E| rows every round. */
  def pinOn(df: DataFrame, key: String, sorted: Boolean = true): DataFrame = {
    val byKey = df.repartition(col(key))
    pin(if (sorted) byKey.sortWithinPartitions(col(key)) else byKey)
  }

  /** localCheckpoint of loop state, released by [[finish]] once the
    * result no longer reads it. A lazy cut fills during the first job
    * that reads it. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
    val c = df.localCheckpoint(eager)
    cuts ++= rdds(c)
    c
  }

  /** `n` lazily chained rounds of `step` from `init`, cut after every
    * `cutEvery`-th round but the last (the result's own cut follows). */
  def rounds(init: DataFrame, n: Int, cutEvery: Int)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init) { (s, k) =>
      val next = step(s)
      if (k % cutEvery == 0 && k < n) cut(next) else next
    }

  /** Ends the invocation: prints `result`'s plan when
    * SPARK_GRAFT_EXPLAIN_INTERNAL is set, materializes it as one more cut
    * (unless `materialize` is false because it already is a projection of
    * a cut), and releases every pin and every cut the returned frame does
    * not read. */
  def finish(result: DataFrame, materialize: Boolean = true): DataFrame = {
    graft.Explain.internal(tag, result)
    val out = if (materialize) result.localCheckpoint() else result
    val kept = rdds(out).map(_.id).toSet
    pins.foreach(_.unpersist(blocking = false))
    cuts.filterNot(r => kept(r.id)).foreach(_.unpersist(blocking = false))
    out
  }

  private def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
}
