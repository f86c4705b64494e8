package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftConf

import graft.index.IndexCatalog

/** String-SQL surface for the engine's DDL — the statements DuckDB core
  * parses for the reference and hands to its registered index type
  * (reference src/hnsw/hnsw_index.cpp:667-691, pragmas at
  * src/hnsw/hnsw_index_pragmas.cpp:195-203):
  *
  *   CREATE INDEX name ON table USING HNSW (col) [WITH (metric='l2sq', ...)]
  *   DROP INDEX name
  *   PRAGMA hnsw_compact_index('name')
  *   SELECT * FROM pragma_hnsw_index_info()   (also: PRAGMA hnsw_index_info)
  *   CHECKPOINT 'dir'
  *
  * Anything else falls through to `spark.sql` with the engine's scalar
  * functions registered, so `ORDER BY array_distance(...) LIMIT k` strings
  * work — and get index-accelerated when the optimizer rules are installed.
  *
  * Every statement first passes [[SqlRewrite.preprocess]], which maps the
  * reference dialect's spellings onto Spark SQL: the infix distance
  * operators `<->`/`<=>`/`<#>` (reference README.md, matcher at reference
  * src/hnsw/hnsw_index.cpp:636-642), `FLOAT[n]` array types, and bracket
  * array literals — so the reference README's queries run verbatim. */
object GraftSql {

  private val CreateIndexRe =
    """(?is)\s*CREATE\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s+USING\s+HNSW\s*\(\s*(\w+)\s*\)(?:\s+WITH\s*\((.*?)\))?\s*;?\s*""".r
  private val DropIndexRe = """(?is)\s*DROP\s+INDEX\s+(\w+)\s*;?\s*""".r
  private val DropTableRe =
    """(?is)\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*""".r
  private val CompactRe =
    """(?is)\s*PRAGMA\s+hnsw_compact_index\s*\(\s*'(\w+)'\s*\)\s*;?\s*""".r
  private val InfoRe =
    """(?is)\s*(?:PRAGMA\s+hnsw_index_info|SELECT\s+\*\s+FROM\s+pragma_hnsw_index_info\s*\(\s*\))\s*;?\s*""".r
  // shard-level fragmentation/tombstone introspection (beyond the
  // reference's surface — its single RAM graph has no shards): the
  // operational companion of hnsw_compact_index
  private val ShardInfoRe =
    """(?is)\s*(?:PRAGMA\s+hnsw_shard_info\s*\(\s*'(\w+)'\s*\)|SELECT\s+\*\s+FROM\s+pragma_hnsw_shard_info\s*\(\s*'(\w+)'\s*\))\s*;?\s*""".r
  // DuckDB's optimizer toggle (reference hnsw_rewrite.test:17,
  // hnsw_join_macro.test:22): disables the engine's injected rewrite rules
  // so plans keep their declarative shape (Spark's own optimizer stays on —
  // the reference pragma guards ITS extension rewrites in those tests)
  private val PragmaOptimizerRe =
    """(?is)\s*PRAGMA\s+(disable|enable)_optimizer\s*;?\s*""".r
  // pragma_hnsw_index_info() as a FROM source inside an arbitrary query
  // (reference hnsw_insert.test:19 `SELECT count FROM
  // pragma_hnsw_index_info();`) — spliced out as a temp view
  private val InfoFnRe = """(?i)pragma_hnsw_index_info\s*\(\s*\)""".r
  // pragma_database_size() as a FROM source (reference
  // test/sql/slow/hnsw_reclaim_storage.test_slow:17) — block accounting
  // over the engine's persistent storage, spliced out as a temp view
  private val DbSizeFnRe = """(?i)pragma_database_size\s*\(\s*\)""".r
  private val CheckpointRe = """(?is)\s*CHECKPOINT\s+'([^']+)'\s*;?\s*""".r
  private val CheckpointBareRe = """(?is)\s*CHECKPOINT\s*;?\s*""".r
  // the reference's query-time ef knob (`SET hnsw_ef_search = N`, read at
  // scan init — reference src/hnsw/hnsw_index.cpp:285-299); RESET restores
  // the index's build-time default
  private val SetEfSearchRe =
    """(?is)\s*SET\s+hnsw_ef_search\s*=\s*(\d+)\s*;?\s*""".r
  private val ResetEfSearchRe = """(?is)\s*RESET\s+hnsw_ef_search\s*;?\s*""".r
  // the reference's persistence gate, in its own spelling (every reference
  // persistence test opens with `SET hnsw_enable_experimental_persistence
  // = true`) — aliased onto the engine's gate conf key; a plain Spark SET
  // would set an unrelated key and leave the gate closed
  // DML in the reference's spelling (hnsw_crud.test): routed onto the
  // engine's index-maintaining insert/delete when the target is an
  // engine-managed (or indexed) table — Spark SQL itself cannot DELETE
  // from (or index-maintain INSERT into) a parquet-backed table
  private val InsertRe =
    """(?is)\s*INSERT\s+INTO\s+(\w+)\s+((?:VALUES|SELECT)\b.*?);?\s*""".r
  private val DeleteRe =
    """(?is)\s*DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+?))?;?\s*""".r
  private val SetPersistenceRe =
    """(?is)\s*SET\s+hnsw_enable_experimental_persistence\s*=\s*(true|false)\s*;?\s*""".r
  private val ResetPersistenceRe =
    """(?is)\s*RESET\s+hnsw_enable_experimental_persistence\s*;?\s*""".r
  // the reference's vss_join table macro in its canonical invocation form
  // (reference src/hnsw/hnsw_index_macros.cpp:107-110)
  private val VssJoinRe =
    """(?is)\s*SELECT\s+\*\s+FROM\s+vss_join\(\s*'(\w+)'\s*,\s*'(\w+)'\s*,\s*(\w+)\s*,\s*(\w+)\s*,\s*(\d+)\s*(?:,\s*metric\s*:=\s*'(\w+)'\s*)?\)\s*;?\s*""".r
  // the correlated vss_match macro as the reference invokes it:
  //   SELECT ... FROM <outer>, vss_match(<right>, <outer_col>, <right_col>, k
  //     [, metric := '...']) [AS <alias>]
  // (reference src/hnsw/hnsw_index_macros.cpp:112-113,
  // test/sql/hnsw/hnsw_join_macro.test:27). The whole comma-join clause is
  // rewritten onto the engine's vssMatch operator (outer columns + `matches`),
  // registered as a temp view, and the rest of the statement runs unchanged.
  // the general FROM-clause form of vss_join — any projection over it, names
  // quoted or bare (reference hnsw_join_macro.test:24
  // `SELECT bool_and(score <= 1.0) FROM vss_join(s, t1, s_vec, vec, 3) as
  // res`); the canonical `SELECT * FROM vss_join('l','r',…)` exact form
  // above stays the fast path
  // the trailing alias may be bare (`... vss_join(...) res`) or AS-prefixed;
  // a bare word is an alias only when it isn't the next clause's keyword
  private val VssJoinFromRe =
    ("""(?is)FROM\s+vss_join\(\s*'?(\w+)'?\s*,\s*'?(\w+)'?\s*,\s*(\w+)\s*,\s*(\w+)\s*,""" +
      """\s*(\d+)\s*(?:,\s*metric\s*:=\s*'(\w+)'\s*)?\)""" +
      """(?:\s+(?:AS\s+)?(?!(?:WHERE|GROUP|ORDER|LIMIT|HAVING|UNION|EXCEPT|""" +
      """INTERSECT|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|NATURAL|ON|USING|QUALIFY|""" +
      """WINDOW|OFFSET|FETCH|SEMI|ANTI)\b)(\w+))?""").r

  private val VssMatchFromRe =
    ("""(?is)FROM\s+(\w+)\s*,\s*vss_match\(\s*'?(\w+)'?\s*,\s*(?:(\w+)\.)?(\w+)\s*,\s*(\w+)\s*,""" +
      """\s*(\d+)\s*(?:,\s*metric\s*:=\s*'(\w+)'\s*)?\)(?:\s+AS\s+(\w+))?""").r

  // engine extension (beyond the reference surface): keyword top-k as a
  // table-function-style invocation —
  //   SELECT * FROM bm25_topk('table', 'id_col', 'text_col', 'terms…', k)
  // routed through a TermIndex on the table when one exists (the same
  // index-selection spirit as the vector rewrites), else brute force.
  private val Bm25TopKRe =
    """(?is)\s*SELECT\s+\*\s+FROM\s+bm25_topk\(\s*'(\w+)'\s*,\s*'(\w+)'\s*,\s*'(\w+)'\s*,\s*'([^']+)'\s*,\s*(\d+)\s*\)\s*;?\s*""".r

  /** Parse `metric = 'cosine', ef_construction = 200` into an options map
    * (quotes optional, keys case-insensitive — validation happens in
    * HnswOptions with the reference's error wording). */
  private def parseWith(opts: String): Map[String, String] =
    if (opts == null || opts.trim.isEmpty) Map.empty
    else opts.split(",").map { kv =>
      val parts = kv.split("=", 2)
      require(parts.length == 2, s"malformed WITH option: '$kv'")
      parts(0).trim.toLowerCase -> parts(1).trim.stripPrefix("'").stripSuffix("'")
    }.toMap

  // the dialect switches (declared in GraftConf)
  val CosineInfixConfKey: String = GraftConf.SqlCosineInfix.key
  val NullOrderConfKey: String = GraftConf.SqlDuckdbNullOrder.key

  // Declared FLOAT[n] dimensions per (table, column), recorded off the
  // ORIGINAL statement text before the dialect rewrite erases the n — the
  // reference reads the dimension from the column TYPE when it builds an
  // index over an empty table (hnsw_insert.test:15 creates the index before
  // any row exists); Spark's array<float> cannot carry it.
  private val declaredDims =
    scala.collection.concurrent.TrieMap.empty[(String, String), Int]
  private val CreateTableRe =
    """(?is)\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.*)\)\s*;?\s*""".r
  private val ColFloatDimRe = """(?i)^\s*(\w+)\s+FLOAT\s*\[\s*(\d+)\s*\]\s*$""".r

  private def recordDeclaredDims(statement: String): Unit = statement match {
    case CreateTableRe(table, cols) =>
      forgetDeclaredDims(table) // a re-CREATE replaces the declaration
      cols.split(",").foreach {
        case ColFloatDimRe(col, n) =>
          declaredDims.put((table.toLowerCase, col.toLowerCase), n.toInt)
        case _ => ()
      }
    case _ => ()
  }

  /** Drop `table`'s recorded FLOAT[n] declarations — called when the table
    * is dropped or re-registered from a DataFrame (no CREATE TABLE text), so
    * a stale dimension can never be injected into a later index build. */
  private[graft] def forgetDeclaredDims(table: String): Unit = {
    val t = table.toLowerCase
    declaredDims.keys.filter(_._1 == t).foreach(declaredDims.remove)
  }

  def sql(spark: SparkSession, statement: String): DataFrame = {
    recordDeclaredDims(statement)
    dispatch(spark, SqlRewrite.preprocess(statement,
      GraftConf.SqlCosineInfix.get(spark),
      GraftConf.SqlDuckdbNullOrder.get(spark)))
  }

  /** Tables whose DML must flow through the engine (index maintenance,
    * rowid continuity): Graft registrations and any table serving an HNSW
    * index over the engine's materialized `__rowid` (an index built over a
    * caller-supplied rowid column keeps its own DML path — insertInto/
    * deleteFrom hardcode `__rowid`). Returns the CANONICAL registered name
    * (SQL identifiers are case-insensitive; Graft's registries are not). */
  private def managedTarget(table: String): Option[String] =
    Graft.registeredTables.find(_.equalsIgnoreCase(table))
      .orElse(IndexCatalog.list
        .filter(_.rowidCol == Graft.RowIdCol)
        .map(_.table).find(_.equalsIgnoreCase(table)))

  /** Pattern that binds the canonical managed name in one lookup. */
  private object Managed {
    def unapply(table: String): Option[String] = managedTarget(table)
  }

  /** DELETE predicate with the reference's element-coercing array
    * comparison: `vec = array[1.0, 2.0, 3.0]` against a FLOAT[n] column
    * compares after casting the literal side to the column's type — both
    * ANSI and legacy Spark coercion refuse ARRAY<FLOAT> = ARRAY<DECIMAL>
    * outright (neither recurses into array elements for comparisons). */
  private def deleteCond(spark: SparkSession, table: String,
      cond: Option[String]): org.apache.spark.sql.Column = cond match {
    case None => org.apache.spark.sql.functions.lit(true)
    case Some(s0) =>
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, Expression}
      import org.apache.spark.sql.types.ArrayType
      val schema = spark.table(table).schema
      def arrayColType(e: Expression): Option[ArrayType] = e match {
        // bare `vec` or table-qualified `t1.vec` — both name this table's
        // column in a single-table DELETE predicate
        case a: UnresolvedAttribute
            if a.nameParts.sizeIs == 1 ||
              (a.nameParts.sizeIs == 2 && a.nameParts.head.equalsIgnoreCase(table)) =>
          schema.find(_.name.equalsIgnoreCase(a.nameParts.last))
            .map(_.dataType).collect { case t: ArrayType => t }
        case _ => None
      }
      val coerced = spark.sessionState.sqlParser.parseExpression(s0)
        .transformUp {
          case EqualTo(l, r) if arrayColType(l).isDefined =>
            EqualTo(l, Cast(r, arrayColType(l).get))
          case EqualTo(l, r) if arrayColType(r).isDefined =>
            EqualTo(Cast(l, arrayColType(r).get), r)
        }
      org.apache.spark.sql.graft.GraftSqlBridge.column(coerced)
  }

  private def dispatch(spark: SparkSession, statement: String): DataFrame = statement match {
    case CreateIndexRe(name, table, column, opts) =>
      // the declared FLOAT[n] dimension backstops an empty-table build,
      // exactly the type information the reference's binder reads. Read it
      // BEFORE the registration below: snapshotting the CREATE TABLE'd
      // table does not change its schema, but registerTable forgets the
      // declaration (it exists for REPLACING a table with a different df)
      val withDims = {
        val o = parseWith(opts)
        if (o.contains("dimensions")) o
        else declaredDims.get((table.toLowerCase, column.toLowerCase))
          .map(d => o + ("dimensions" -> d.toString)).getOrElse(o)
      }
      // a plain catalog/temp table lacks the engine's materialized rowid
      // (the reference indexes over DuckDB's implicit rowid) — snapshot it
      // into a Graft registration first, so the index build and all later
      // DML have stable ids; the registration's view shadows the original.
      // The snapshot is the SAME table, so its FLOAT[n] declarations stay
      // valid — re-record them past registerTable's invalidation (which
      // exists for genuine replacements) for later statements' benefit.
      if (!spark.table(table).columns.contains(Graft.RowIdCol)) {
        val declared = declaredDims.snapshot()
          .filter(_._1._1 == table.toLowerCase)
        Graft.registerTable(spark, table, spark.table(table))
        declared.foreach { case (k, v) => declaredDims.put(k, v) }
      }
      IndexCatalog.createIndex(spark, name, table, column, withDims)
      spark.emptyDataFrame
    case InsertRe(Managed(table), body) =>
      Graft.registerFunctions(spark)
      val b = body.trim
      val src0 =
        if (b.regionMatches(true, 0, "VALUES", 0, 6)) spark.sql(s"SELECT * FROM $b")
        else spark.sql(b)
      // an INSERT ... SELECT * from another registered table star-expands
      // its hidden rowid — strip it like the read path does, unless the
      // source addressed it by name (whole-identifier match: a column
      // merely CONTAINING '__rowid' must not suppress the strip)
      val src =
        if (src0.columns.contains(Graft.RowIdCol) &&
            !SqlRewrite.mentionsIdentifier(b.toLowerCase, Graft.RowIdCol))
          src0.drop(Graft.RowIdCol)
        else src0
      // positional assignment, like SQL INSERT ... SELECT; insertInto
      // store-casts each column to the table's type
      val target = spark.table(table).columns.filterNot(_ == Graft.RowIdCol)
      require(src.schema.length == target.length,
        s"INSERT has ${src.schema.length} columns; table $table expects ${target.length}")
      Graft.insertInto(spark, table, src.toDF(target.toIndexedSeq: _*))
      spark.emptyDataFrame
    case DeleteRe(Managed(table), cond) =>
      Graft.registerFunctions(spark)
      Graft.deleteFrom(spark, table, deleteCond(spark, table, Option(cond)))
      spark.emptyDataFrame
    case DropIndexRe(name) =>
      if (!IndexCatalog.dropIndex(name)) {
        throw new IllegalArgumentException(s"no HNSW index named $name")
      }
      spark.emptyDataFrame
    case CompactRe(name) =>
      // spark is in scope: sharded indexes compact as one task per shard
      IndexCatalog.compactIndex(spark, name)
      spark.emptyDataFrame
    case InfoRe() =>
      IndexCatalog.describe(spark)
    case ShardInfoRe(n1, n2) =>
      IndexCatalog.describeShards(spark, if (n1 != null) n1 else n2)
    case PragmaOptimizerRe(which) =>
      spark.conf.set(graft.plans.GraftOptimizerGate.ConfKey,
        (which.toLowerCase == "enable").toString)
      spark.emptyDataFrame
    case stmt if InfoFnRe.findFirstIn(stmt).isDefined =>
      val view = "graft_pragma_hnsw_index_info"
      IndexCatalog.describe(spark).createOrReplaceTempView(view)
      Graft.registerFunctions(spark)
      spark.sql(InfoFnRe.replaceAllIn(stmt, view))
    case stmt if DbSizeFnRe.findFirstIn(stmt).isDefined =>
      // DuckDB's pragma_database_size() block accounting (reference
      // test/sql/slow/hnsw_reclaim_storage.test_slow): the database here is
      // the engine's persistent storage — table registrations plus index
      // artifacts — measured in DuckDB-default 256 KiB blocks. The reclaim
      // test's invariants (DROP INDEX + CHECKPOINT returns the count to its
      // pre-index level; recreate reuses rather than grows) hold exactly
      // when checkpoint deletes dropped artifacts and republishes live ones
      // at stable paths.
      val bytes = graft.index.ArtifactIO.sizeBytes(IndexCatalog.indexArtifactDir) +
        graft.index.ArtifactIO.sizeBytes(Graft.defaultTableDir)
      val blockSize = 262144L
      val total = (bytes + blockSize - 1) / blockSize
      val row = Seq(("graft", s"$bytes bytes", blockSize, total, total, 0L,
        "0 bytes", "0 bytes", "unlimited"))
      val df = spark.createDataFrame(row).toDF("database_name",
        "database_size", "block_size", "total_blocks", "used_blocks",
        "free_blocks", "wal_size", "memory_usage", "memory_limit")
      val view = "graft_pragma_database_size"
      df.createOrReplaceTempView(view)
      Graft.registerFunctions(spark)
      spark.sql(DbSizeFnRe.replaceAllIn(stmt, view))
    case CheckpointRe(dir) =>
      IndexCatalog.checkpoint(spark, dir)
      spark.emptyDataFrame
    case CheckpointBareRe() => // DuckDB's argument-less CHECKPOINT form
      IndexCatalog.checkpoint(spark, s"${IndexCatalog.indexArtifactDir}/checkpoint")
      spark.emptyDataFrame
    case SetEfSearchRe(n) =>
      spark.conf.set(IndexCatalog.EfSearchConfKey, n)
      spark.emptyDataFrame
    case ResetEfSearchRe() =>
      spark.conf.unset(IndexCatalog.EfSearchConfKey)
      spark.emptyDataFrame
    case SetPersistenceRe(v) =>
      spark.conf.set(IndexCatalog.PersistenceConfKey, v.toLowerCase)
      spark.emptyDataFrame
    case ResetPersistenceRe() =>
      spark.conf.unset(IndexCatalog.PersistenceConfKey)
      spark.emptyDataFrame
    case Bm25TopKRe(table, idCol, textCol, termsStr, k) =>
      // order-preserving dedupe: a repeated query term must not trip the
      // fixed-order-fold invariant at the SQL surface
      val terms = termsStr.trim.split("\\s+").toSeq.distinct
      graft.index.TermIndex.forTable(table) match {
        case Some(e) if e.idCol == idCol && e.textCol == textCol =>
          graft.index.TermIndex.search(spark, e.name, terms, k.toInt)
        case _ =>
          graft.ops.TextSearch.bm25TopK(spark.table(table), idCol, textCol,
            terms, k.toInt)
      }
    case VssJoinRe(left, right, leftCol, rightCol, k, metric) =>
      graft.operators.VssJoins.vssJoin(spark.table(left), spark.table(right),
        leftCol, rightCol, k.toInt, Option(metric).getOrElse("l2sq"))
    case stmt if VssJoinFromRe.findFirstMatchIn(stmt).isDefined =>
      val m = VssJoinFromRe.findFirstMatchIn(stmt).get
      val joined = graft.operators.VssJoins.vssJoin(
        spark.table(m.group(1)), spark.table(m.group(2)),
        m.group(3), m.group(4), m.group(5).toInt,
        Option(m.group(6)).getOrElse("l2sq"))
      val view = s"__vss_join_${Integer.toHexString(stmt.hashCode)}"
      joined.createOrReplaceTempView(view)
      Graft.registerFunctions(spark)
      val alias = Option(m.group(7)).getOrElse(view)
      spark.sql(stmt.substring(0, m.start) + s"FROM $view AS $alias" +
        stmt.substring(m.end))
    case stmt if VssMatchFromRe.findFirstMatchIn(stmt).isDefined =>
      val m = VssMatchFromRe.findFirstMatchIn(stmt).get
      val (left, right) = (m.group(1), m.group(2))
      val (leftCol, rightCol) = (m.group(4), m.group(5))
      val k = m.group(6).toInt
      val metric = Option(m.group(7)).getOrElse("l2sq")
      val matched = graft.operators.VssJoins.vssMatch(
          spark.table(left), spark.table(right), leftCol, rightCol, k, metric)
        .select(org.apache.spark.sql.functions.col("left_tbl.*"),
          org.apache.spark.sql.functions.col("matches"))
      val view = s"__vss_match_${Integer.toHexString(stmt.hashCode)}"
      matched.createOrReplaceTempView(view)
      Graft.registerFunctions(spark)
      // keep the statement's qualifiers resolvable over the rewritten FROM
      // clause: the explicit AS alias if one was written, else the left
      // table's name (its columns are all present in the view)
      val alias = Option(m.group(8)).getOrElse(left)
      spark.sql(stmt.substring(0, m.start) + s"FROM $view AS $alias" + stmt.substring(m.end))
    case other =>
      Graft.registerFunctions(spark)
      // a dropped table's FLOAT[n] declarations must not outlive it (a
      // later same-name CREATE INDEX would inject them); pass-through DDL
      // otherwise untouched
      other match {
        case DropTableRe(t) => forgetDeclaredDims(t)
        case _ => ()
      }
      val out = spark.sql(other)
      // DuckDB keeps rowid out of star expansion but addressable by name;
      // mirror that for the engine's materialized __rowid (whole-identifier
      // match: neither a '__rowid' string literal nor a column merely
      // containing the substring is an address)
      if (out.columns.contains(Graft.RowIdCol) &&
          !SqlRewrite.mentionsIdentifier(other.toLowerCase, Graft.RowIdCol))
        out.drop(Graft.RowIdCol)
      else out
  }
}
