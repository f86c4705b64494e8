package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface of the engine.
  *
  * The reference has no streams — its "continuous" path is transactional DML
  * arriving row-by-row through index hooks (reference
  * src/hnsw/hnsw_index.cpp:466-500). The Spark-native generalization:
  * micro-batches appended to an engine table AND its HNSW indexes via
  * `foreachBatch` → [[graft.Graft.insertInto]], plus event-time windowed
  * aggregation with watermarks for the analytics side.
  *
  * Scale shape: each micro-batch is a bounded delta (rowids continue from
  * the table's max; NULL vectors skipped exactly like batch DML), so state
  * never accumulates on the driver beyond the index delta itself; the
  * windowed aggregations keep bounded state via watermark eviction. */
object GraftStreaming {

  /** Continuous ingestion into a registered engine table + its indexes:
    * every micro-batch flows through the same DML path as batch inserts
    * (rowid continuation, NULL-vector skip, index append). Every
    * `rematerializeEvery` batches the table's files are folded into one
    * fresh file set — the view keeps one shape whatever the batch count,
    * but without it N batches leave N delta files for every downstream
    * query to list and read.
    *
    * `compactWhenFragmented` (0 = off) is the index-side maintenance
    * analog: sustained per-row ingest seals one delta-spill shard per
    * `deltaSpillRows` rows, and fan-out searches pay shards × flooredEf —
    * so after each micro-batch, any sharded index on `table` whose EXCESS
    * shard count (shards minus ceil(liveRows/autoShardRows), the count a
    * fresh routed build would have) reaches the bound is compacted at the
    * batch boundary — the only safe point: compaction swaps the catalog
    * entry, and mid-batch DML holds the statement. The excess-based
    * trigger (not a raw shard cap) cannot fire futilely on an index whose
    * shards are simply full, and tombstone mass raises it too (live rows
    * shrink while shard count stands), so delete-heavy streams also
    * reclaim. Call `.start()` on the returned writer (optionally after
    * setting checkpoint options). */
  def indexAppendWriter(spark: SparkSession, table: String, stream: DataFrame,
      rematerializeEvery: Int = 64,
      compactWhenFragmented: Int = 0): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.Graft.insertInto(spark, table, batch)
        if (rematerializeEvery > 0 && (batchId + 1) % rematerializeEvery == 0) {
          graft.Graft.rematerialize(spark, table)
        }
        if (compactWhenFragmented > 0) compactIfFragmented(
          spark, table, compactWhenFragmented)
        ()
      }

  /** Compact every sharded index on `table` whose excess shard count (vs
    * the ideal ceil(liveRows/autoShardRows)) reaches `bound`. */
  private def compactIfFragmented(spark: SparkSession, table: String,
      bound: Int): Unit = {
    graft.index.IndexCatalog.list.filter(_.table == table).foreach { e =>
      // single-graph indexes have no shards to defragment
      graft.index.VectorIndex.sharded(e.index).foreach { sh =>
        val target = math.max(1, org.apache.spark.sql.graft.GraftConf.AutoShardRows.get())
        val ideal = math.max(1, math.ceil(sh.size.toDouble / target).toInt)
        if (sh.shards.length - ideal >= bound) {
          graft.index.IndexCatalog.compactIndex(spark, e.name)
        }
      }
    }
  }

  /** Start the ingestion immediately (in-memory checkpointing). */
  def startIndexAppend(spark: SparkSession, table: String, stream: DataFrame,
      rematerializeEvery: Int = 64,
      compactWhenFragmented: Int = 0): StreamingQuery =
    indexAppendWriter(spark, table, stream, rematerializeEvery,
      compactWhenFragmented).start()

  /** Continuous ingestion into an inverted term index
    * ([[graft.index.TermIndex]]): each micro-batch's postings land as new
    * files in their term-bucket partitions and the corpus stats fold
    * exactly, so a search after any batch equals a fresh build over
    * everything seen — the keyword-side mirror of [[indexAppendWriter]].
    * Batches must carry NEW doc ids (TermIndex.append's contract); the
    * batchId makes replays of an already-applied micro-batch no-ops
    * (TermIndex.appendBatch), so at-least-once delivery can't
    * double-count postings. */
  def termIndexAppendWriter(spark: SparkSession, indexName: String,
      stream: DataFrame): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.index.TermIndex.appendBatch(spark, indexName, batch, batchId)
        ()
      }

  /** Online ANN serving: a stream of query rows KNN-joined per micro-batch
    * against a registered HNSW index — the capability the reference's
    * native engine cannot express (its index is query-time only; here the
    * same broadcast index join that serves batch queries serves a
    * continuous query feed). Each micro-batch runs [[graft.Graft.knnJoin]],
    * so results always reflect the index LIVE: rows ingested by
    * [[indexAppendWriter]] between batches are searchable in the next
    * batch. `sink` receives the joined result and the batch id (write it
    * to a topic/table, or collect it in tests).
    *
    * Scale shape: identical to batch — the index broadcast is reused
    * across batches (per-JVM shard cache for sharded indexes), the query
    * batch streams partition-parallel with no shuffle, and per-batch work
    * is O(batchRows × k). */
  def knnServeWriter(spark: SparkSession, queries: DataFrame, vecCol: String,
      indexName: String, k: Int)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.Graft.knnJoin(spark, batch, vecCol, indexName, k), batchId)
        ()
      }

  /** Streaming exact dedup with custom state: the FIRST row per key (e.g. a
    * content fingerprint from TextAnalysis.fingerprint) survives, every
    * later duplicate — same batch or any later batch — is dropped. One
    * boolean of state per distinct key via `flatMapGroupsWithState`; state
    * is partitioned by key across executors, so it scales with distinct
    * keys per executor, not stream length. (Bound state further with a
    * TTL'd key design when fingerprints are unbounded.) */
  def dedupStream(docs: DataFrame, keyCol: String): DataFrame = {
    val schema = docs.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val enc = Encoders.row(schema)
    docs.as(enc)
      .groupByKey((r: Row) => r.getString(keyIdx))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          })(Encoders.scalaBoolean, enc)
      .toDF()
  }

  /** Streaming MinHash-LSH near-duplicate detection — the streaming shape
    * of [[graft.ops.Dedup.minHashLshPairs]] (q22): each arriving document's
    * MinHash signature is computed NARROWLY (shingles, dedup, and the
    * per-permutation min all happen in the array domain on the row — no
    * shuffle), banded identically to the batch op, and checked against a
    * keyed state store of band buckets. A new document emits
    * (a, b, est_sim) against every prior document sharing a band — across
    * micro-batches — then joins the bucket. Same md5 permutation math as
    * batch, so streaming estimates equal the batch op's on identical input.
    *
    * Scale shape: state is partitioned by band key across executors;
    * `maxBucket` caps each bucket (hot boilerplate bands stop accumulating
    * — the streaming analog of the batch doc-frequency cap), bounding both
    * state size and per-row emit fan-out. Multi-band collisions emit the
    * pair once per shared band; downstream dedups with distinct(), exactly
    * like the batch candidate pipeline. */
  def nearDupStream(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerms: Int = 8, rowsPerBand: Int = 2,
      maxBucket: Int = 64): DataFrame = {
    require(numPerms % rowsPerBand == 0, "numPerms must divide into bands")
    val spark = docs.sparkSession
    import spark.implicits._
    // two-step digest→slice: materializing the digest arrays first keeps
    // the md5 cost at 2 digests per shingle (the one-shot signature form
    // would re-hash per permutation — HOF lambdas don't CSE).
    // Signatures are part of this op's STATE format, so every bucket is
    // stamped with SigFormatVersion and checked on read: restarting from a
    // checkpoint written under another signature definition FAILS FAST
    // instead of silently never matching old buckets (and the state-type
    // change itself trips Spark's state-schema compatibility check for
    // pre-version checkpoints).
    val digestCols = graft.ops.Dedup.minHashDigestCols(col("__grams"), numPerms)
    val sigCols = graft.ops.Dedup.minHashSignatureColsFromDigests(numPerms)
    val numBands = numPerms / rowsPerBand
    val bandCols = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      concat(lit(s"$b:"), concat(parts: _*))
    }
    val banded = docs
      .select(col(idCol).cast("long").as("__id"),
        graft.ops.Dedup.shingleArray(col(textCol), shingleLen).as("__grams"))
      .select(col("__id") +: digestCols: _*)
      .select(col("__id") +: sigCols: _*)
      .where(col("mh0").isNotNull) // shingle-less docs can't near-dup
      .select(col("__id"),
        array((0 until numPerms).map(p => col(s"mh$p")): _*).as("__sig"),
        explode(array(bandCols: _*)).as("__band"))
      .as[(Long, Seq[String], String)]
    banded
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[(Long, Seq[String], String)],
            state: GroupState[BandBucket]) => {
          val st = state.getOption.getOrElse(BandBucket(SigFormatVersion, Nil))
          if (st.version != SigFormatVersion) {
            throw new IllegalStateException(
              s"nearDupStream state for band bucket '$key' was written under " +
                s"signature-format v${st.version}; this engine writes " +
                s"v$SigFormatVersion — old buckets would silently never match. " +
                "Restart the query from a fresh checkpoint directory.")
          }
          var bucket = st.entries
          val out = Seq.newBuilder[(Long, Long, Double)]
          // in-batch arrival order is nondeterministic: process by id so the
          // emitted pair set is reproducible
          rows.toSeq.sortBy(_._1).foreach { case (id, sig, _) =>
            bucket.foreach { case (pid, psig) =>
              if (pid != id) {
                val agree = sig.zip(psig).count { case (x, y) => x == y }
                out += ((math.min(id, pid), math.max(id, pid),
                  agree.toDouble / numPerms))
              }
            }
            if (bucket.size < maxBucket) bucket = (id, sig) :: bucket
          }
          state.update(BandBucket(SigFormatVersion, bucket))
          out.result().iterator
        })
      .toDF("a", "b", "est_sim")
  }

  /** MinHash signature-format version stamped into [[nearDupStream]]'s band
    * buckets. v2 = 8-hex-char digest slices, two md5s per shingle (v1,
    * round 4, was the full-md5-hex minimum). Bump on ANY change to the
    * signature definition. */
  val SigFormatVersion = 2

  /** One band bucket's state: the format version it was written under plus
    * the (id, signature) entries. */
  case class BandBucket(version: Int, entries: List[(Long, Seq[String])])

  /** Gap-based session windows over event time — the streaming shape of
    * [[graft.ops.Sessionize]] (q40). Declarative `session_window` (not
    * custom state): Catalyst merges overlapping per-key windows as events
    * arrive and the watermark finalizes + evicts a session once event time
    * passes its close by `lateness`, so state is O(open sessions), not
    * O(stream). Emits one row per CLOSED session (append mode). */
  def sessionizedCounts(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col(keyCol), col("n_events"))

  /** Event-time tumbling-window counts with bounded state — the streaming
    * shape of the hourly-events rollup (q08): watermark evicts windows older
    * than `lateness`, so state is O(active windows), not O(stream). */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowLength: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col(keyCol), col("n"))
}
