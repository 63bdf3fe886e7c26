package graft

import org.apache.spark.sql.SparkSession

/** One place for the local-mode session knobs shared by Verify, Bench and
  * the tools (ExplainDump, ScaleUp), so correctness runs and
  * every measurement use the same configuration. */
object LocalSession {

  /** Shuffle/checkpoint scratch on tmpfs when available. local[32] writes
    * shuffle files and localCheckpoint disk blocks to spark.local.dir; the
    * default (/tmp) sits on the shared VM's contended virtual disk, which
    * makes the checkpoint-heavy iterative gates (PageRank, connected
    * components) hostage to neighbour IO during a measurement. The host has
    * 128 GiB RAM and sf0.1 scratch peaks well under 1 GiB, so tmpfs is pure
    * win locally. (Cluster deployments ignore this: spark.local.dir comes
    * from the cluster manager there, and this conf only applies to the
    * sessions THIS object builds.) Spark removes its spark-* subdirs on
    * clean shutdown; the dir itself is shared and tiny. */
  private def scratchDir(): Option[String] =
    try {
      val shm = new java.io.File("/dev/shm")
      if (!shm.isDirectory || !shm.canWrite) None
      else {
        val d = new java.io.File(shm, "graft-local")
        d.mkdirs()
        if (d.isDirectory && d.canWrite) Some(d.getAbsolutePath) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** tmpfs-backed root for test FIXTURES (binary lakes, stream-replay
    * chunk dirs) — same rationale as spark.local.dir above, with a
    * sharper measured edge: the q502 lake is ~15k small files, and
    * building it on the VM's virtual disk both runs ~3-9× slower (53-173 s
    * vs 19 s) and leaves an async kernel-writeback storm that steals
    * 10-20% of the CPU from the next ~30 gates in suite order (the r9
    * full-run q5xx inflation: q509 61 s in-suite vs 4.8 s re-run quiet —
    * kworker CPU shows up in the exo channel but under the 0.25 gate).
    * On tmpfs the build is memory-speed and there is no writeback at all.
    * Falls back to java.io.tmpdir when /dev/shm is unavailable. */
  def fixtureTmpRoot(): java.nio.file.Path =
    java.nio.file.Paths.get(
      scratchDir().getOrElse(sys.props("java.io.tmpdir")))

  /** Heartbeat for LIVE fixture roots (round-11, advisor fix): aging a
    * root by its own mtime only sees direct-child churn, so a sibling JVM
    * alive longer than the sweep age (full bench/verify rounds run hours)
    * whose cached lake was built early would have it deleted out from
    * under it by any newly-launched JVM (probe tools included). Every
    * root this JVM creates registers here; a daemon thread re-touches a
    * `.graft_heartbeat` file in each every 5 min, and the sweep ages a
    * root by max(root mtime, heartbeat mtime) — a live owner's roots are
    * therefore never older than 5 min, while a hard-killed JVM's
    * heartbeat goes stale and its roots sweep as before. */
  private val liveRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val HeartbeatName = ".graft_heartbeat"
  private def touchHeartbeats(): Unit = liveRoots.forEach { r =>
    try {
      val d = new java.io.File(r)
      if (d.isDirectory) {
        val f = new java.io.File(d, HeartbeatName)
        f.createNewFile(): Unit
        f.setLastModified(System.currentTimeMillis()): Unit
      }
      // else: skip but KEEP the registration (round-12 advisor fix) — a
      // root registered a beat before its mkdirs lands must not be
      // silently dropped from protection; a legitimately-deleted root
      // costs one string in the set and a no-op stat per 5-min tick.
    } catch { case scala.util.control.NonFatal(_) => () }
  }
  private val heartbeatStarted =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  def registerFixtureRoot(path: String): Unit = {
    liveRoots.add(path): Unit
    touchHeartbeats()
    if (heartbeatStarted.compareAndSet(false, true)) {
      val t = new Thread(() => {
        while (true) { Thread.sleep(5L * 60 * 1000); touchHeartbeats() }
      }, "graft-fixture-heartbeat")
      t.setDaemon(true)
      t.start()
    }
  }

  /** Sweep STALE fixture dirs off the tmpfs root at session build. The
    * `graft_fix_*` roots are uniquely named per JVM and deleted by
    * SparkEntry's shutdown hook — but a hard-killed JVM (driver timeout,
    * kill -9) never runs its hook, and on a shared VM the q502-sized
    * lakes (~15k RAM-backed files each) would otherwise accumulate until
    * reboot and pressure the very memory the benchmark depends on
    * (round-9 advice). Age-guarded at 30 min on max(root mtime,
    * [[HeartbeatName]] mtime) so a concurrently-running sibling JVM's
    * live fixtures are never touched however long that JVM has been up
    * (see [[registerFixtureRoot]]). */
  private def sweepStaleFixtures(): Unit =
    try {
      val root = fixtureTmpRoot().toFile
      val cutoff = System.currentTimeMillis() - 30L * 60 * 1000
      val kids = root.listFiles()
      if (kids != null) kids.foreach { d =>
        val freshest =
          math.max(d.lastModified(),
            new java.io.File(d, HeartbeatName).lastModified())
        val stale = (d.getName.startsWith("graft_fix_") ||
          d.getName.startsWith("graft_replay_")) &&
          freshest < cutoff
        if (stale) {
          def rm(f: java.io.File): Unit = {
            val sub = f.listFiles(); if (sub != null) sub.foreach(rm)
            f.delete(): Unit
          }
          rm(d)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** tmpfs-backed warehouse for the CATALOG TABLES the lifecycle gates
    * write (the persisted dedup/IVF/embedding indexes: bucketed parquet
    * via saveAsTable + rename-based compaction swaps) — the third leg of
    * the scratch-on-tmpfs rationale above: the default warehouse
    * ($PWD/spark-warehouse) sits on the shared VM's contended virtual
    * disk, so every write-bound index gate paid small-file creates,
    * fsyncs and renames against neighbour IO. Per-JVM unique (a
    * `graft_fix_wh_<pid>` root under the same swept tmpfs), registered
    * for the heartbeat so a live JVM's warehouse is never swept while a
    * hard-killed JVM's ages out like any fixture root. Cluster
    * deployments set their own warehouse; this only applies to sessions
    * THIS object builds, and the tables are per-run scratch (dropped and
    * rebuilt by each gate), never cross-run state. */
  private def warehouseDir(): Option[String] = {
    // A/B + deployment knob (round-13, verdict Next #6): the tmpfs
    // warehouse is a local-host I/O-hygiene choice, not an engine
    // optimization — SPARK_GRAFT_WAREHOUSE=default keeps Spark's default
    // warehouse so the lifecycle gates' tmpfs share can be measured
    // separately (recorded in OPTIMIZATION_r13.md). Cluster deployments
    // set their own warehouse either way.
    if (sys.env.get("SPARK_GRAFT_WAREHOUSE").contains("default")) return None
    // spark.sql.warehouse.dir is a STATIC conf: in a JVM already holding a
    // SparkSession the setting is silently ignored (round-12 advisor) —
    // don't create/heartbeat a tmpfs dir that will never be used.
    if (org.apache.spark.sql.SparkSession.getActiveSession.nonEmpty ||
        org.apache.spark.sql.SparkSession.getDefaultSession.nonEmpty) return None
    scratchDir().flatMap { d =>
      try {
        // PID + random suffix (round-12 advisor): a recycled PID inside the
        // 30-min sweep window must never alias a hard-killed sibling's
        // stale warehouse (appendIndex's mode("append") would silently add
        // to a stale location instead of failing)
        val wh = new java.io.File(
          d, s"graft_fix_wh_${java.lang.ProcessHandle.current().pid()}_" +
            java.util.UUID.randomUUID().toString.take(8))
        wh.mkdirs()
        if (wh.isDirectory && wh.canWrite) {
          registerFixtureRoot(wh.getAbsolutePath)
          Some(wh.getAbsolutePath)
        } else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  def build(cpus: String, appName: String = "graft"): SparkSession = {
    sweepStaleFixtures()
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
    val b1 = scratchDir().fold(b0)(d => b0.config("spark.local.dir", d))
    val s = warehouseDir().fold(b1)(w => b1.config("spark.sql.warehouse.dir", w))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // storage-partitioned joins over key-grouped DSv2 scans (the
      // bucketed GeoJSONL lake, q448): recognized co-partitioning is a
      // strict plan improvement, so both knobs are engine defaults —
      // requireAllClusterKeys=false lets a join whose keys are a SUPERSET
      // of the partition keys still zip in place
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }
}
