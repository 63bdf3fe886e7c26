package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** SURVEY.md §2.1 — source/sink adapters beyond the parquet catalog.
  *
  * The reference's I/O surface: PostgreSQL tables (S1/S5-S7), a file store on
  * a shared volume (S3/S4), JSON-lines logs (S13), GEE satellite-collection
  * exports (S11), WebODM photogrammetry jobs (S12). Re-expressed as Spark
  * sources/sinks: schema'd reads, partitioned columnar writes, append logs.
  */
object Sources {

  // ---- generic schema'd readers (S1 analog for non-parquet landings) ----

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  // ---- sinks ----

  /** S5 — append rows (ORM add/commit analog,
    * reference: services/auth-service/crud.py:44-50). */
  def appendParquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("append")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Drop a managed table AND its on-disk location. With the in-memory
    * catalog, a managed table written by a PREVIOUS JVM leaves its
    * warehouse directory behind while the fresh catalog knows nothing of
    * it — `saveAsTable` then fails LOCATION_ALREADY_EXISTS even in
    * overwrite mode. Call before any cross-JVM-reused managed-table
    * write. */
  /** Count the DATA files under a managed table's location (hidden `_`/`.`
    * entries excluded) — the compaction evidence for the maintained-index
    * and IVF-lake rebuild policies: appends accumulate files, a rebuild
    * folds them back to one per bucket (q522/q523 gates assert on it). */
  def tableDataFileCount(spark: SparkSession, table: String): Int = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh,
      table.toLowerCase(java.util.Locale.ROOT))
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) 0
    else fs.listStatus(path).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh,
      table.toLowerCase(java.util.Locale.ROOT))
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path)) fs.delete(path, true): Unit
  }

  /** Bucketed table write — the co-located-join layout for repeated
    * fact⋈fact joins at scale. Two tables bucketed (and sorted) by the same
    * key into the same bucket count join with NO Exchange on either side:
    * the shuffle is paid once at write time instead of on every query.
    * This is the engine-side analog of the reference putting B-tree indexes
    * on every FK (init.sql:166-204) — you pre-organize the layout the join
    * needs. BucketingSpec asserts the shuffle-free plan. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Unit = {
    dropTableAndLocation(df.sparkSession, table)
    // repartition on the bucket keys FIRST: bucketBy writes one file per
    // (task, non-empty bucket), so N input partitions × B buckets is up to
    // N·B small files per write — the small-files problem bucketing is
    // supposed to prevent. Pre-partitioned to the bucket hash, each bucket
    // is one task's data → exactly one file per bucket (q517 measured
    // ~130 files/table → 32).
    df.repartition(buckets, keys.map(df.col): _*)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** S13 — structured JSON-lines log sink (reference:
    * shared/utils/__init__.py:95-140; middleware request logs). One JSON
    * object per row from the given columns. */
  def writeJsonLog(df: DataFrame, path: String): Unit =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
      .write.mode("append").text(path)

  // ---- S11: GEE satellite-collection export (DECL tier) ----

  /** A scenes catalog row: what a GEE image-collection entry carries
    * (reference: GEEImageCollection, shared/models/__init__.py:216-221 —
    * collection id, date range, GeoJSON bounds, filter dict). */
  case class Scene(scene_id: String, collection_id: String,
                   date: java.sql.Date, min_lon: Double, min_lat: Double,
                   max_lon: Double, max_lat: Double, cloud_pct: Double)

  /** The export query the `gee_export_tasks` schema is designed for
    * (reference: init.sql:97-110): scenes of a collection, within a date
    * range, whose bounds intersect the AOI bbox, under a cloud threshold.
    * Date + collection predicates push to the source; bbox intersects is a
    * conjunctive range predicate (SURVEY §2.9). */
  def exportQuery(scenes: DataFrame, collectionId: String,
                  startDate: String, endDate: String,
                  aoi: Column, maxCloudPct: Double = 100.0): DataFrame = {
    val sceneBox = struct(
      col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat"))
    scenes
      .filter(col("collection_id") === collectionId)
      .filter(col("date").between(lit(startDate), lit(endDate)))
      .filter(col("cloud_pct") <= maxCloudPct)
      .filter(graft.operators.Spatial.bboxIntersects(sceneBox, aoi))
  }

  /** S11 driven by the declared `gee_export_tasks` schema
    * (graft.Schemas.geeExportTasks ← init.sql:97-110): run every pending
    * export task against the scenes catalog in ONE pass — tasks are a small
    * dimension (broadcast), scenes stream once regardless of how many export
    * tasks are pending; collection equality is the join key the broadcast
    * hash join probes on. */
  def runExports(exportTasks: DataFrame, scenes: DataFrame,
                 maxCloudPct: Double = 100.0): DataFrame = {
    val t = broadcast(exportTasks
      .filter(col("status") === "pending")
      .select(col("id").as("export_id"), col("collection_id"),
        col("start_date"), col("end_date"), col("bounds_bbox")))
    val sceneBox = struct(
      col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat"))
    scenes
      .filter(col("cloud_pct") <= maxCloudPct)
      .join(t, Seq("collection_id"))
      .filter(col("date").between(col("start_date"), col("end_date")) &&
        graft.operators.Spatial.bboxIntersects(sceneBox, col("bounds_bbox")))
      .select(col("export_id"), col("collection_id"), col("scene_id"),
        col("date"), col("cloud_pct"))
  }

  // ---- S12: external-job pattern (WebODM, DECL tier) ----

  /** S12 driven by the declared schemas (graft.Schemas.processingTasks ⋈
    * graft.Schemas.webodmTasks ← init.sql:56-71,84-94): the combined job view
    * the reference's processing service polls — each processing task with its
    * external WebODM counterpart (left outer: tasks not yet submitted surface
    * with null webodm columns, the J8 nullable-FK shape). */
  def webodmJobView(processingTasks: DataFrame, webodmTasks: DataFrame): DataFrame =
    processingTasks.as("t")
      .join(webodmTasks.as("w"),
        col("w.processing_task_id") === col("t.id"), "left_outer")
      .select(col("t.id").as("task_id"), col("t.task_type"),
        col("t.status").as("status"), col("t.progress").as("progress"),
        col("w.webodm_task_id"), col("w.webodm_project_id"),
        col("w.status").as("webodm_status"),
        col("w.progress").as("webodm_progress"))

  /** Per-bucket anti-entropy checksum — the table-reconciliation
    * primitive: rows hash into `nBuckets` by key, each bucket reports its
    * row count and an ORDER-INDEPENDENT content checksum (bit-XOR of a
    * 60-bit row digest — XOR is commutative/associative, so partial
    * aggregation and any shuffle order give the same result, and it can
    * never overflow). Comparing two 100 TB tables costs ONE aggregate
    * pass over each plus a bucket-count-sized join; only differing
    * buckets need a row-level drill-down.
    *
    * The digest keeps 15 hex chars (60 bits) of md5 — a 16th would
    * overflow a signed 64-bit int in either engine's string→int cast. */
  def tableChecksum(df: DataFrame, keyCol: Column, rowRepr: Column,
                    nBuckets: Int): DataFrame =
    df.select(
        pmod(conv(substring(md5(keyCol.cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(nBuckets.toLong)).as("bucket"),
        conv(substring(md5(rowRepr), 1, 15), 16, 10).cast("long").as("__h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(__h)").as("checksum"))

  /** Bucket-level diff of two tables via [[tableChecksum]] — emits ONE row
    * per bucket whose count or checksum disagrees (full outer, so buckets
    * present on only one side surface too). */
  def checksumDiff(a: DataFrame, b: DataFrame, keyCol: Column,
                   rowRepr: Column, nBuckets: Int): DataFrame = {
    val ca = tableChecksum(a, keyCol, rowRepr, nBuckets)
      .select(col("bucket"), col("n").as("n_a"), col("checksum").as("sum_a"))
    val cb = tableChecksum(b, keyCol, rowRepr, nBuckets)
      .select(col("bucket"), col("n").as("n_b"), col("checksum").as("sum_b"))
    ca.join(cb, Seq("bucket"), "full_outer")
      .filter(col("n_a").isNull || col("n_b").isNull ||
        col("n_a") =!= col("n_b") || col("sum_a") =!= col("sum_b"))
  }

  /** Small-file compaction planner — the table-maintenance pass every
    * 100 TB parquet lake needs: given a file inventory (partition keys +
    * per-file size + a stable order key), assign each file a compaction
    * bin so every bin's total lands near `targetBytes`. The rule is the
    * START-OFFSET bin: bin = (cumulative bytes BEFORE this file) div
    * target — pure integer arithmetic over a per-partition cumulative sum
    * (the q164 equi-depth trick), deterministic, and append-stable for
    * files ordered after existing ones. A file larger than the target gets
    * its own bin(s) boundary naturally. One partitioned window, bounded by
    * files-per-partition; no driver state, no global sort. */
  def compactionPlan(files: DataFrame, partCols: Seq[String],
                     orderCol: Column, bytesCol: Column,
                     targetBytes: Long): DataFrame = {
    require(partCols.nonEmpty, "need at least one partition column")
    require(targetBytes > 0, "targetBytes must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols.map(col): _*)
      .orderBy(orderCol.asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    files
      .withColumn("__bytes", bytesCol.cast("long"))
      .withColumn("__cum", sum(col("__bytes")).over(w))
      .withColumn("bin",
        expr(s"(__cum - __bytes) div ${targetBytes}L").cast("long"))
      .drop("__cum")
      .withColumnRenamed("__bytes", "est_bytes")
  }
}
