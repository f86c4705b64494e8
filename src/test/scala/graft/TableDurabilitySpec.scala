package graft

import org.apache.spark.sql.functions._
import graft.index.ArtifactIO

/** Restart durability for engine-managed TABLES ([[TableCatalog]]) — the
  * table-level analog of the storage-index manifest. The reference's restart
  * tests require it: post-checkpoint INSERT and DELETE must survive a
  * restart (test/sql/hnsw/hnsw_crud.test:33-44, hnsw_insert.test:30-66);
  * deletes live only as view filters over immutable storage, so they are
  * journaled as rowid tombstones and re-applied as one anti-join. */
class TableDurabilitySpec extends GraftSparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-tabdur").toString

  test("armed: register + insert + delete survive a forget/restore cycle") {
    val dir = freshDir()
    sys.props("graft.tables.dir") = dir
    try {
      TableCatalog.arm(dir)
      Graft.registerTable(spark, "dur_t",
        (1 to 10).map(i => (i, s"v$i")).toDF("id", "s"))
      Graft.insertInto(spark, "dur_t",
        Seq((11, "v11"), (12, "v12")).toDF("id", "s"))
      Graft.deleteFrom(spark, "dur_t", col("id") === 2 || col("id") === 11)
      val before = spark.table("dur_t").select("id", "s").as[(Int, String)]
        .collect().sortBy(_._1).toSeq
      assert(before.map(_._1) == ((1 to 12).toSet -- Set(2, 11)).toSeq.sorted)

      // crash: every registration forgotten, storage untouched
      Graft.forgetAllTables(spark)
      assert(!Graft.isRegisteredTable("dur_t"))
      assert(!spark.catalog.tableExists("dur_t"))

      // >= 1: arm() snapshots whatever ELSE the shared test session had
      // registered too — only dur_t's round trip is under test here
      assert(TableCatalog.restore(spark, dir) >= 1)
      assert(Graft.isRegisteredTable("dur_t"))
      val after = spark.table("dur_t").select("id", "s").as[(Int, String)]
        .collect().sortBy(_._1).toSeq
      assert(after == before, "restored view must equal the pre-crash view " +
        "(serving paths unioned, tombstoned rowids anti-joined)")

      // DML keeps working on the restored registration (rowids continue)
      Graft.insertInto(spark, "dur_t", Seq((13, "v13")).toDF("id", "s"))
      assert(spark.table("dur_t").count() == before.size + 1)
    } finally {
      Graft.dropTable(spark, "dur_t")
      TableCatalog.disarm()
      sys.props.remove("graft.tables.dir")
    }
  }

  test("un-armed sessions journal nothing (in-memory database semantics)") {
    val dir = freshDir()
    sys.props("graft.tables.dir") = dir
    try {
      TableCatalog.disarm()
      Graft.registerTable(spark, "mem_t", Seq((1, "a")).toDF("id", "s"))
      Graft.deleteFrom(spark, "mem_t", col("id") === 1)
      assert(!ArtifactIO.exists(s"$dir/tables.manifest"),
        "durability is a property of persistent databases only")
      // the delete's tombstone file serves the view, not a journal: no
      // manifest names it, and dropping the table reclaims it
      Graft.dropTable(spark, "mem_t")
      assert(!ArtifactIO.list(dir).exists(_.contains("-tomb-")))
    } finally {
      if (Graft.isRegisteredTable("mem_t")) Graft.dropTable(spark, "mem_t")
      sys.props.remove("graft.tables.dir")
    }
  }

  test("restore without a manifest is a no-op; live registrations win") {
    val dir = freshDir()
    assert(TableCatalog.restore(spark, dir) == 0)
    TableCatalog.disarm()
    val dir2 = freshDir()
    sys.props("graft.tables.dir") = dir2
    try {
      TableCatalog.arm(dir2)
      Graft.registerTable(spark, "win_t", Seq((1, "old")).toDF("id", "s"))
      // a live re-registration with different content must not be clobbered
      Graft.registerTable(spark, "win_t", Seq((2, "new")).toDF("id", "s"))
      assert(TableCatalog.restore(spark, dir2) == 0, "live wins")
      assert(spark.table("win_t").select("s").as[String].head() == "new")
    } finally {
      Graft.dropTable(spark, "win_t")
      TableCatalog.disarm()
      sys.props.remove("graft.tables.dir")
    }
  }

  test("one-call lifecycle: IndexCatalog.checkpoint journals the table " +
      "catalog too, and restoreAll alone rebuilds tables (with post-" +
      "checkpoint deletes) then indexes (with WAL replay) in a fresh state") {
    import graft.index.IndexCatalog
    val dir = freshDir()
    sys.props("graft.tables.dir") = dir
    try {
      IndexCatalog.dropIndex("ol_idx")
      Graft.registerTable(spark, "ol_t",
        Seq((1L, Seq(1f, 2f, 3f)), (2L, Seq(7f, 8f, 9f)))
          .toDF("id", "vec"))
      IndexCatalog.createIndex(spark, "ol_idx", "ol_t", "vec")
      spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
      val ckpt = s"$dir/ckpt"
      IndexCatalog.checkpoint(spark, ckpt)
      // post-checkpoint DML: the delete must come back via the table
      // TOMBSTONE (view) and the index WAL (graph) on one restore call
      Graft.deleteFrom(spark, "ol_t", col("id") === 1L)

      IndexCatalog.clear()
      Graft.forgetAllTables(spark)
      TableCatalog.disarm()

      IndexCatalog.restoreAll(spark, ckpt)
      assert(Graft.isRegisteredTable("ol_t"))
      assert(spark.table("ol_t").select("id").as[Long].collect().toSeq
        == Seq(2L))
      assert(IndexCatalog.get("ol_idx").get.index.size == 1)
    } finally {
      spark.conf.unset(IndexCatalog.PersistenceConfKey)
      IndexCatalog.dropIndex("ol_idx")
      Graft.dropTable(spark, "ol_t")
      TableCatalog.disarm()
      sys.props.remove("graft.tables.dir")
    }
  }

  test("crash windows: a torn manifest .tmp is ignored; a complete .tmp " +
      "left between delete and rename restores and republishes") {
    val dir = freshDir()
    sys.props("graft.tables.dir") = dir
    try {
      TableCatalog.arm(dir)
      Graft.registerTable(spark, "cw_t", Seq((1, "x")).toDF("id", "s"))
      val manifest = s"$dir/tables.manifest"
      assert(ArtifactIO.exists(manifest))
      // crash between checkpoint's delete and rename: only a COMPLETE .tmp
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(manifest))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(manifest + ".tmp"), bytes)
      java.nio.file.Files.delete(java.nio.file.Paths.get(manifest))
      Graft.forgetAllTables(spark)
      TableCatalog.disarm()
      assert(TableCatalog.restore(spark, dir) >= 1)
      assert(Graft.isRegisteredTable("cw_t"))
      assert(ArtifactIO.exists(manifest), ".tmp republished as the manifest")

      // torn .tmp with no published manifest: treated as absent
      val dir2 = freshDir()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir2))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir2/tables.manifest.tmp"),
        "torn".getBytes)
      TableCatalog.disarm()
      assert(TableCatalog.restore(spark, dir2) == 0)
    } finally {
      Graft.dropTable(spark, "cw_t")
      TableCatalog.disarm()
      sys.props.remove("graft.tables.dir")
    }
  }

  test("persistent-database sessions gate CREATE INDEX on the " +
      "experimental-persistence conf (reference " +
      "hnsw_experimental_persistence.test:14-17)") {
    import graft.index.IndexCatalog
    Graft.registerTable(spark, "gate_t",
      Seq((1L, Seq(1f, 2f, 3f))).toDF("id", "vec"))
    try {
      spark.conf.set(IndexCatalog.PersistentDatabaseConfKey, "true")
      spark.conf.unset(IndexCatalog.PersistenceConfKey)
      val e = intercept[IllegalStateException] {
        IndexCatalog.createIndex(spark, "gate_idx", "gate_t", "vec")
      }
      assert(e.getMessage.contains("HNSW indexes can only be created in " +
        "in-memory databases, or when the configuration option " +
        "'hnsw_enable_experimental_persistence' is set to true."))
      // gate open → creation succeeds
      spark.conf.set(IndexCatalog.PersistenceConfKey, "true")
      IndexCatalog.createIndex(spark, "gate_idx", "gate_t", "vec")
      assert(IndexCatalog.get("gate_idx").isDefined)
    } finally {
      spark.conf.unset(IndexCatalog.PersistentDatabaseConfKey)
      spark.conf.unset(IndexCatalog.PersistenceConfKey)
      IndexCatalog.dropIndex("gate_idx")
      Graft.dropTable(spark, "gate_t")
    }
  }

  test("rowids are never reused: deleting the max-rowid row then inserting " +
      "must not mint the tombstoned rowid (restore would anti-join the new " +
      "row away)") {
    val dir = freshDir()
    sys.props("graft.tables.dir") = dir
    try {
      TableCatalog.arm(dir)
      Graft.registerTable(spark, "reuse_t",
        (1 to 5).map(i => (i, s"v$i")).toDF("id", "s"))
      val maxRowid = spark.table("reuse_t")
        .agg(max(col(Graft.RowIdCol))).head().getLong(0)
      // tombstone the row HOLDING the max rowid, then insert a new row
      Graft.deleteFrom(spark, "reuse_t",
        col(Graft.RowIdCol) === maxRowid)
      Graft.insertInto(spark, "reuse_t", Seq((99, "new")).toDF("id", "s"))
      val newRowid = spark.table("reuse_t").where(col("id") === 99)
        .select(Graft.RowIdCol).head().getLong(0)
      assert(newRowid > maxRowid,
        s"minted rowid $newRowid must exceed every rowid ever minted " +
          s"($maxRowid was tombstoned)")
      val before = spark.table("reuse_t").select("id").as[Int]
        .collect().sorted.toSeq

      // crash + restore: the new row must survive the tombstone anti-join
      Graft.forgetAllTables(spark)
      TableCatalog.restore(spark, dir)
      val after = spark.table("reuse_t").select("id").as[Int]
        .collect().sorted.toSeq
      assert(after == before,
        "restore lost or resurrected rows — rowid was reused")
      assert(after.contains(99))
    } finally {
      Graft.dropTable(spark, "reuse_t")
      TableCatalog.disarm()
      sys.props.remove("graft.tables.dir")
    }
  }

  test("re-registering a table retires its tombstone files for vacuum " +
      "instead of leaking them") {
    val dir = freshDir()
    sys.props("graft.tables.dir") = dir
    try {
      TableCatalog.arm(dir) // armed so deleteFrom writes a tombstone file
      Graft.registerTable(spark, "leak_t",
        (1 to 5).map(i => (i, s"v$i")).toDF("id", "s"))
      Graft.deleteFrom(spark, "leak_t", col("id") === 2)
      val tombs = ArtifactIO.list(dir).filter(_.contains("-tomb-"))
      assert(tombs.nonEmpty, "armed delete must write a tombstone file")
      // shadowing re-registration: fresh rowid space, old tombstones dead
      Graft.registerTable(spark, "leak_t",
        (10 to 12).map(i => (i, s"v$i")).toDF("id", "s"))
      assert(Graft.vacuumTable("leak_t") >= 2,
        "vacuum must reclaim the superseded serving path AND tombstones")
      assert(!ArtifactIO.list(dir).exists(_.contains("-tomb-")),
        "tombstone files must not survive vacuum after re-registration")
    } finally {
      Graft.dropTable(spark, "leak_t")
      TableCatalog.disarm()
      sys.props.remove("graft.tables.dir")
    }
  }
}
