package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection harness: `runMain graft.Explain <sfDir> [query...]`
  * prints the formatted physical plan per query — the iterate-until-the-
  * plan-is-right loop (pushed filters, broadcast choices, codegen spans). */
object Explain {

  /** Env-gated dump of an operator's INTERNAL plan (round-13): the
    * iterative operators (Graph.*, Dedup.connectedComponents; called from
    * `operators.Iterate.finish`) return an eagerly materialized
    * checkpoint, so the caller-visible plan is just `Scan ExistingRDD` —
    * the computation's real shape is the frame right before that final
    * cut. With SPARK_GRAFT_EXPLAIN_INTERNAL set, each operator prints that
    * pre-checkpoint plan (evidence channel for plans/rNN; a no-op
    * otherwise, so the timed paths are unaffected). */
  def internal(tag: String, df: org.apache.spark.sql.Dataset[_]): Unit =
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN_INTERNAL")) {
      println(s"==== internal plan: $tag (pre-checkpoint) ====")
      df.explain("formatted")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession.build("4", "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
