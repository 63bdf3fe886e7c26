package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Joins, Relational => R}

/** SURVEY.md §7.1 — the facade mirroring the reference's API surface: each
  * method is one implemented endpoint's data semantics, composed from the
  * operator library. The HTTP/proxy machinery of the reference
  * (api-gateway/main.py:71-128) is deliberately absent — callers hold
  * DataFrames, not sockets.
  */
object Engine {

  /** GET /users?skip&limit&is_active (reference: crud.py:88-109) — listing +
    * total count, public projection only (P16: password_hash never selected,
    * shared/models/__init__.py:71-77). */
  def listUsers(users: DataFrame, skip: Int, limit: Int,
                isActive: Option[Boolean]): DataFrame = {
    val filtered = R.optionalFilter(users, "is_active", isActive)
      .select("id", "email", "username", "full_name", "role", "is_active",
        "created_at", "last_login")
    // raw skip/limit (crud.py takes a free-form offset): skip=5/limit=10 must
    // return rows 6-15, which a page-number translation cannot express.
    R.offsetPage(filtered, skip, limit, col("created_at").asc, col("id").asc)
  }

  /** GET /projects/{pid}/files?file_type&page&size with row-level security —
    * the fully-implemented flagship listing at
    * services/file-service/main.py:307-344: scan → security filter (P6) →
    * optional type filter (P5/P8) → deterministic order → page (L1) →
    * projection (P16). */
  def listProjectFiles(files: DataFrame, projectId: String,
                       userId: String, role: String,
                       fileType: Option[String],
                       page: Int, size: Int): DataFrame = {
    val secured = R.forUser(files, "owner_id", userId, role)
      .filter(col("project_id") === projectId)
    val typed = R.optionalFilter(secured, "file_type", fileType.map(identity[Any]))
    R.page(typed, page, size, col("created_at").asc, col("id").asc)
      .select("id", "filename", "original_filename", "file_type", "size",
        "mime_type", "checksum", "project_id", "owner_id", "is_processed",
        "created_at")
  }

  /** Task queue head: next k pending tasks by priority then age
    * (reference: init.sql:66,183). */
  def nextPendingTasks(tasks: DataFrame, k: Int): DataFrame =
    R.topK(tasks.filter(col("status") === "pending"), k,
      col("priority").desc, col("created_at").asc, col("id").asc)

  /** Cascade delete of a project: returns each child table filtered of the
    * project's rows (reference: ON DELETE CASCADE, init.sql:29,47-48,59-60). */
  def cascadeDeleteProject(projectIds: DataFrame, children: Seq[DataFrame]): Seq[DataFrame] =
    children.map(Joins.antiJoin(_, projectIds, Seq("project_id")))

  /** Transitive cascade: project → processing_tasks (project_id) →
    * webodm_tasks keyed by the deleted tasks' ids — the second FK level of
    * the reference's graph (webodm_tasks.processing_task_id REFERENCES
    * processing_tasks ON DELETE CASCADE, init.sql:89). Returns the surviving
    * (tasks, webodm_tasks). Both levels are anti/semi joins on their FK —
    * shuffle-partitioned by key, no driver-side row movement. */
  def cascadeDeleteProjectDeep(projectIds: DataFrame, tasks: DataFrame,
                               webodmTasks: DataFrame): (DataFrame, DataFrame) = {
    val keptTasks = Joins.antiJoin(tasks, projectIds, Seq("project_id"))
    val deletedTaskIds = Joins.semiJoin(tasks, projectIds, Seq("project_id"))
      .select(col("id").as("processing_task_id"))
    val keptWebodm = Joins.antiJoin(webodmTasks, deletedTaskIds, Seq("processing_task_id"))
    (keptTasks, keptWebodm)
  }

  /** Audit trail with actor context (J9 left join — deleted users preserved
    * as nulls, reference: ON DELETE SET NULL init.sql:155). */
  def auditTrail(auditLogs: DataFrame, users: DataFrame): DataFrame =
    auditLogs.join(
      broadcast(users.select(col("id").as("user_id"), col("username"))),
      Seq("user_id"), "left_outer")

  /** Files-of-tasks lineage (J6 explode join, reference: init.sql:61-62). */
  def taskInputFiles(tasks: DataFrame, files: DataFrame): DataFrame =
    Joins.explodeJoin(
      tasks.select(col("id").as("task_id"), col("input_files")),
      "input_files",
      files.withColumnRenamed("id", "file_id"), "file_id")
}
