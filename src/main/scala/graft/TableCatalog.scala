package graft

import org.apache.spark.sql.SparkSession
import graft.index.ArtifactIO

/** Restart durability for ENGINE-MANAGED TABLES — the table-level analog of
  * [[graft.index.StorageIndexCatalog]].
  *
  * A Graft registration's data already lives on shared storage (the
  * write-once rowid parquet plus per-insert delta files), but two pieces of
  * state are driver-resident only: WHICH paths currently serve each table,
  * and which TOMBSTONE files ([[Graft.deleteFrom]] writes the doomed rowids
  * of each delete as one, and the view anti-joins them) apply to it. This
  * catalog makes both durable: a manifest mapping table → (serving paths,
  * tombstone paths), rewritten write-tmp-then-publish on EVERY registration
  * mutation while armed.
  *
  * Durability is ARMED, not always-on — the reference's model exactly: an
  * in-memory DuckDB database loses tables at exit; only a `load`-ed
  * (persistent) database journals them. Un-armed sessions (every benchmark
  * and oracle query) write no manifest. The reference's restart tests
  * (test/sql/hnsw/hnsw_crud.test:33-44, hnsw_insert.test:30-66) exercise
  * this path: post-checkpoint INSERT + DELETE must survive `restart`.
  */
object TableCatalog {

  private def manifestPath(dir: String) = s"$dir/tables.manifest"

  @volatile private var armedDir: Option[String] = None
  @volatile private var inRestore: Boolean = false

  /** Is table durability armed (a persistent-database session)? */
  def armed: Boolean = armedDir.isDefined

  /** Arm write-through durability at `dir` and snapshot the current
    * registrations there immediately. */
  def arm(dir: String): Unit = { armedDir = Some(dir); checkpoint(dir); () }

  /** Forget the armed directory (session handoff / test isolation). */
  def disarm(): Unit = armedDir = None

  /** Registration mutation hook (called by [[Graft]] after register /
    * insert / delete / rematerialize / drop): keep the armed manifest
    * current. No-op during restore. */
  private[graft] def rewriteIfArmed(): Unit =
    if (!inRestore) armedDir.foreach(d => checkpoint(d))

  /** Write every managed table's (serving, tombstones) to `dir`'s manifest.
    * Returns the number of tables persisted. Synchronized, and published
    * crash-safe ([[ArtifactIO.publish]]). */
  def checkpoint(dir: String): Int = synchronized {
    val manifest: Map[String, (List[String], List[String])] = Graft.tableStates
    ArtifactIO.publish(manifestPath(dir), manifest)
    armedDir = Some(dir)
    manifest.size
  }

  /** Re-register every table from `dir`'s manifest whose name is not
    * already live (live registrations win). Each restored table's view is
    * the one view shape over its serving paths and tombstones — the
    * pre-restart view. Returns the number
    * restored; 0 when no manifest exists. Arms write-through at `dir`. */
  def restore(spark: SparkSession, dir: String): Int = {
    val manifest = ArtifactIO.readPublished(manifestPath(dir)).getOrElse(return 0)
      .asInstanceOf[Map[String, (List[String], List[String])]]
    var n = 0
    try {
      inRestore = true
      manifest.foreach { case (name, (serving, tombstones)) =>
        if (!Graft.isRegisteredTable(name)) {
          Graft.restoreRegistration(spark, name, serving, tombstones)
          n += 1
        }
      }
    } finally inRestore = false
    armedDir = Some(dir)
    n
  }
}
