package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark JVM. run.py launches it directly on the compiled classpath.
  *
  * `--mode setup` builds the session, resolves the gate table, prints READY
  * and exits: one set-up sample. `--mode run` does the same, then
  *   1. cold pass: every distinct op once, in the given order;
  *   2. `--warmup` untimed rounds of the seeded schedule (a round is a line
  *      of the schedule file); the first writes each op's output next to
  *      the oracle SQL, for tools/selfcheck.py;
  *   3. the remaining `--rounds` rounds, timed.
  * Every op is three timed public calls: the gate function, forcing
  * `queryExecution.executedPlan`, and a noop write of the full output.
  * With `--trace 1` a [[Tracer]] is registered and spans are written. */
object Runner {

  final case class Sample(op: String, id: String, buildNs: Long, planNs: Long,
                          execNs: Long, cpuNs: Long, error: String) {
    def totalNs: Long = buildNs + planNs + execNs
  }

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  private def procCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val mode = arg(args, "mode")
    val spark = graft.LocalSession.build(arg(args, "cpus"), "perfbench")
    val queries = graft.SparkEntry.queries
    println("READY")
    System.out.flush()
    try { if (mode == "run") run(spark, queries, args) }
    finally spark.stop()
  }

  private def run(spark: SparkSession,
                  queries: Map[String, (SparkSession, String) => DataFrame],
                  args: Array[String]): Unit = {
    val sfDir = arg(args, "sf")
    val ops = arg(args, "ops").split(",").toSeq
    val rounds = Files.readAllLines(Paths.get(arg(args, "schedule"))).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq).toSeq
    val warmupRounds = arg(args, "warmup").toInt
    val timedRounds = arg(args, "rounds").toInt
    val checkDir = arg(args, "check")
    val traced = arg(args, "trace") == "1"
    val missing = (ops ++ rounds.flatten).distinct.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown ops: ${missing.mkString(",")}")

    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer(sc)) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val calBefore = graft.Calibration.ratio()

    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    def runOp(op: String, id: String, sink: DataFrame => Unit = noop): Sample = {
      val fn = queries(op)
      val tr = tracer.map(_.opStart(id))
      sc.setLocalProperty(Tracer.OpKey, id)
      val cpu0 = procCpuNs()
      var df: Option[DataFrame] = None
      var error: String = null
      val t0 = System.nanoTime()
      var t1, t2 = t0
      try {
        tr.foreach(_.phase("build"))
        df = Some(fn(spark, sfDir))
        t1 = System.nanoTime()
        tr.foreach(_.phase("plan"))
        df.get.queryExecution.executedPlan
        t2 = System.nanoTime()
        tr.foreach(_.phase("execute"))
        sink(df.get)
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] $op ($id) failed: $error")
      }
      val t3 = System.nanoTime()
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t3
      val sample = Sample(op, id, t1 - t0, t2 - t1, t3 - t2, procCpuNs() - cpu0, error)
      sc.setLocalProperty(Tracer.OpKey, null)
      tr.foreach(_.end(sample, df.map(_.queryExecution.tracker)))
      sample
    }

    // 1: cold pass
    val cold = ops.zipWithIndex.map { case (op, i) => runOp(op, s"c$i") }

    // 2: untimed warm-up rounds (the JIT is far from done after one call);
    // the first writes each op's output for the oracle check
    require(rounds.size == warmupRounds + timedRounds, "schedule length")
    Files.createDirectories(Paths.get(checkDir))
    val warmup = rounds.take(warmupRounds).zipWithIndex.flatMap { case (round, r) =>
      round.zipWithIndex.map { case (op, i) =>
        val sink: DataFrame => Unit =
          if (r == 0) _.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$op") else noop
        runOp(op, s"w$r.$i", sink)
      }
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    // 3: timed rounds
    val steady = mutable.ArrayBuffer.empty[Sample]
    val cpu0 = procCpuNs()
    val t0 = System.nanoTime()
    rounds.drop(warmupRounds).foreach(_.foreach { op =>
      steady += runOp(op, s"s${steady.size}")
    })
    val wallNs = System.nanoTime() - t0
    val cpuNs = procCpuNs() - cpu0
    val calAfter = graft.Calibration.ratio()

    val traceOut = tracer.map { t =>
      t.drain()
      t.writeSpans(arg(args, "spans"))
      t.perOp
    }

    def sampleJson(s: Sample): String = Json.obj(Seq(
      "op" -> Json.str(s.op), "id" -> Json.str(s.id),
      "ms" -> Json.num(s.totalNs / 1e6), "build_ms" -> Json.num(s.buildNs / 1e6),
      "plan_ms" -> Json.num(s.planNs / 1e6), "execute_ms" -> Json.num(s.execNs / 1e6),
      "cpu_ms" -> Json.num(s.cpuNs / 1e6),
      "error" -> (if (s.error == null) "null" else Json.str(s.error))))
    val out = Json.obj(Seq(
      "spark_version" -> Json.str(spark.version),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "cpus" -> Json.num(sc.defaultParallelism),
      "calibration_before" -> Json.num(calBefore),
      "calibration_after" -> Json.num(calAfter),
      "cold" -> cold.map(sampleJson).mkString("[", ",", "]"),
      "warmup" -> warmup.map(sampleJson).mkString("[", ",", "]"),
      "steady" -> steady.map(sampleJson).mkString("[", ",", "]"),
      "steady_wall_s" -> Json.num(wallNs / 1e9),
      "steady_cpu_s" -> Json.num(cpuNs / 1e9),
      "rss_peak_mb" -> Json.num(vmHwmMb()),
      "layers" -> traceOut.map(m => Json.obj(m.toSeq.map { case (id, kv) =>
        id -> Json.obj(kv.toSeq.map { case (k, v) => k -> Json.num(v) })
      })).getOrElse("null")))
    Files.writeString(Paths.get(arg(args, "out")), out)
    println("DONE")
    System.out.flush()
  }
}

/** Just enough JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
