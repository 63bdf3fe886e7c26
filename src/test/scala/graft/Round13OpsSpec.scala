package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph}

/** Round-13 optimization pins (verdict Next #1): the iterative graph
  * operators and connectedComponents must be SELF-CONTAINED per
  * invocation — every operator-internal persist() pin is released at
  * operator exit, so (a) a long session (528-query Verify) never
  * accumulates pinned edge tables and (b) the bench's min-over-iterations
  * steady measures per-invocation cost rather than cache-manager
  * plan-match reuse of a previous iteration's pins. The result itself is
  * an eagerly materialized local checkpoint, so correctness can't depend
  * on the released pins. The loop state's superseded local checkpoints
  * are released at exit too (operators.Iterate.finish): the result's own
  * checkpoint is the only persistent RDD a call may leave behind. */
class Round13OpsSpec extends SparkSuite {
  import spark.implicits._

  /** Persistent RDDs that are plain persist() pins (local checkpoints
    * report isCheckpointed with no checkpoint file; [[leftBehind]] counts
    * those). */
  private def leakedPins(): Seq[org.apache.spark.rdd.RDD[_]] =
    spark.sparkContext.getPersistentRDDs.values.toSeq
      .filterNot(r => r.isCheckpointed && r.getCheckpointFile.isEmpty)

  private def clearAll(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  private val und = Seq("a" -> "b", "b" -> "c", "c" -> "d",
    "e" -> "a", "e" -> "b", "e" -> "c", "e" -> "d")

  test("pageRank releases its pins at exit and the result survives") {
    clearAll()
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iters = 5, d = 0.85)
    assert(leakedPins().isEmpty,
      s"pageRank leaked persist() pins: ${leakedPins().map(_.name)}")
    // result is readable AFTER the pins are gone (materialized checkpoint)
    assert(ranks.count() == 5)
    assert(math.abs(ranks.agg(sum("r")).head().getDouble(0) - 1.0) < 1e-6)
  }

  /** Persistent RDDs — pins and local checkpoints alike — that appeared
    * while `run` executed and are still registered after it returned. */
  private def leftBehind(run: => Any): Seq[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    run
    spark.sparkContext.getPersistentRDDs.keys.filterNot(before).toSeq
  }

  test("bfsHops / labelPropagation / shortestPaths / kCorePeel / hits release pins") {
    clearAll()
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val bfs = Graph.bfsHops(edges, Seq("a").toDF("node"), maxHops = 3)
    assert(leakedPins().isEmpty, "bfsHops leaked pins")
    assert(bfs.count() == 5)

    val lbl = Graph.labelPropagation(edges, rounds = 4)
    assert(leakedPins().isEmpty, "labelPropagation leaked pins")
    assert(lbl.filter(col("lbl") === "a").count() == 5) // one component

    val w = edges.withColumn("w", lit(1L))
    val sp = Graph.shortestPaths(w, Seq("a").toDF("node"), rounds = 4)
    assert(leakedPins().isEmpty, "shortestPaths leaked pins")
    assert(sp.count() == 5)

    val kc = Graph.kCorePeel(edges, k = 2, rounds = 4)
    assert(leakedPins().isEmpty, "kCorePeel leaked pins")
    assert(kc.count() > 0)

    val h = Graph.hits(edges, iters = 2)
    assert(leakedPins().isEmpty, "hits leaked pins")
    assert(h.filter(col("kind") === "hub").count() == 5)
  }

  test("each iterative operator leaves at most its result checkpoint behind") {
    clearAll()
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRank(edges, iters = 5)),
      "bfsHops" -> (() => Graph.bfsHops(edges, seeds, maxHops = 3)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, rounds = 4)),
      "shortestPaths" -> (() =>
        Graph.shortestPaths(edges.withColumn("w", lit(1L)), seeds, rounds = 4)),
      "kCorePeel" -> (() => Graph.kCorePeel(edges, k = 2, rounds = 4)),
      "hits" -> (() => Graph.hits(edges, iters = 2)),
      "connectedComponents" -> (() => Dedup.connectedComponents(pairs)))
    ops.foreach { case (name, op) =>
      var out: org.apache.spark.sql.DataFrame = null
      val left = leftBehind { out = op() }
      assert(left.size <= 1,
        s"$name left ${left.size} persistent RDDs behind: ${left.sorted}")
      assert(out.count() > 0, s"$name result unreadable")
    }
  }

  test("connectedComponents releases its edge pin at exit") {
    clearAll()
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs)
    assert(leakedPins().isEmpty, "connectedComponents leaked its edge pin")
    val m = comps.as[(Long, Long)].collect().toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("pageRank with the pre-joined degree column matches the 2-join shape") {
    // regression pin for the round-13 ed = e ⋈ deg fold: a graph with
    // asymmetric out-degrees (directed edges, a dangling sink) exercises
    // the deg column on every contribution path
    clearAll()
    val directed = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a",
      "a" -> "d").toDF("src", "dst") // d is dangling (mass leaks)
    val got = Graph.pageRank(directed, iters = 3, d = 0.85)
      .as[(String, Double)].collect().toMap
    // sequential reference with the operator's exact rounding contract
    def r12(x: Double): Double =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Map("a" -> 3L, "b" -> 1L, "c" -> 1L)
    val in = Map("b" -> Seq("a"), "c" -> Seq("a", "b"), "a" -> Seq("c"),
      "d" -> Seq("a"))
    val nodes = Seq("a", "b", "c", "d")
    var r = nodes.map(_ -> 0.25).toMap
    for (_ <- 1 to 3) {
      r = nodes.map { v =>
        val inflow = in.getOrElse(v, Nil)
          .map(u => BigDecimal(java.math.BigDecimal.valueOf(r12(r(u) / out(u)))))
          .sum.toDouble
        v -> r12(0.15 / 4 + 0.85 * inflow)
      }.toMap
    }
    assert(got.keySet == r.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - r(k)) < 1e-12, s"$k: got $v want ${r(k)}")
    }
  }
}
