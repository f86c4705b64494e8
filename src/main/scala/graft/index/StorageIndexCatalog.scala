package graft.index


/** Restart durability for the STORAGE-BACKED index families
  * (IVF, PQ, IVF-PQ, SQ, Term, DedupSignatures). Their data artifacts already live on
  * shared storage (parquet lists / codes / postings) — the only
  * driver-resident state is each registry's entry metadata (paths,
  * centroids/codebooks/ranges, corpus stats), so checkpointing them is a
  * single small manifest, and restore is a registry re-registration with
  * NO data movement. Unlike the HNSW checkpoint this is not
  * persistence-gated: the reference's experimental-persistence gate
  * guards serializing its in-memory graph, which has no analog here. */
object StorageIndexCatalog {

  private def manifestPath(dir: String) = s"$dir/storage-catalog.manifest"

  // Once a checkpoint (or restore) has named a directory, every later
  // registry mutation — create, drop, append's stats fold, compact's path
  // swap — rewrites the manifest there (entries are tiny). Without this, a
  // checkpoint → append → crash → restore sequence resurrects PRE-append
  // metadata: stale IVF covering radii silently drop in-radius rows, and a
  // compacted entry's manifest path points at deleted storage.
  @volatile private var armedDir: Option[String] = None
  @volatile private var inRestore: Boolean = false

  // Per-thread coalescing scope: a multi-mutation operation (e.g. a
  // streaming appendBatch = postings append + stats fold + watermark
  // advance) wraps itself in [[coalescingRewrites]] so the armed manifest
  // is written once at the end instead of once per mutation. Thread-local:
  // other threads' mutations keep their immediate-write durability.
  private val deferDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private val deferPending = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  /** Registry mutation hook (called by ArtifactRegistry and the batch
    * watermark): keep the armed manifest current. No-op during restore —
    * restoring entries re-registers them one by one, and a partial rewrite
    * mid-restore could lose entries to a crash. */
  private[index] def rewriteIfArmed(): Unit =
    if (!inRestore) {
      if (deferDepth.get > 0) deferPending.set(true)
      else armedDir.foreach(d => checkpoint(d))
    }

  /** Run `body`, collapsing this thread's armed-manifest rewrites inside
    * it into at most one write at the end. The manifest snapshots ALL
    * registries, so the single write captures every mutation `body`
    * made. */
  private[index] def coalescingRewrites[T](body: => T): T = {
    deferDepth.set(deferDepth.get + 1)
    try body
    finally {
      deferDepth.set(deferDepth.get - 1)
      if (deferDepth.get == 0 && deferPending.get) {
        deferPending.set(false)
        if (!inRestore) armedDir.foreach(d => checkpoint(d))
      }
    }
  }

  /** Forget the armed directory (ownership handoff / test isolation). */
  def disarm(): Unit = armedDir = None

  /** Write all storage-backed registry entries to `dir`. Returns the
    * number of entries persisted.
    *
    * `synchronized` + [[ArtifactIO.publish]]: the armed manifest is
    * rewritten on EVERY registry mutation (including per-micro-batch
    * streaming appends), so concurrent mutators must not interleave
    * writes, and a crash mid-write must not leave a torn manifest that
    * makes every storage entry unrestorable. */
  def checkpoint(dir: String): Int = synchronized {
    val manifest: Map[String, Seq[Any]] = Map(
      "ivf" -> IvfIndex.list.toSeq,
      "pq" -> PqIndex.list.toSeq,
      "ivfpq" -> IvfPqIndex.list.toSeq,
      "sq" -> SqIndex.list.toSeq,
      "term" -> TermIndex.list.toSeq,
      "dedupsig" -> DedupSignatures.list.toSeq,
      "shingle" -> ShingleIndex.list.toSeq,
      "simhash" -> SimHashIndex.list.toSeq,
      // streaming-ingest idempotency watermarks ride the manifest: an
      // at-least-once foreachBatch replay after a cold restart must see
      // which batches were already applied (TermIndex.appendBatch)
      "term_batches" -> TermIndex.batchWatermarks)
    ArtifactIO.publish(manifestPath(dir), manifest)
    armedDir = Some(dir)
    Seq("ivf", "pq", "ivfpq", "sq", "term", "dedupsig", "shingle", "simhash")
      .map(manifest(_).size).sum
  }

  /** Re-register every entry from `dir`'s manifest whose name is not
    * already live (live entries win — they may have seen post-checkpoint
    * appends). Returns the number restored; 0 when no manifest exists. */
  def restore(dir: String): Int = {
    val manifest = ArtifactIO.readPublished(manifestPath(dir)).getOrElse(return 0)
      .asInstanceOf[Map[String, Seq[Any]]]
    val n =
      try {
        inRestore = true
        restoreEntries(manifest)
      } finally inRestore = false
    armedDir = Some(dir)
    n
  }

  private def restoreEntries(manifest: Map[String, Seq[Any]]): Int = {
    var n = 0
    manifest.getOrElse("ivf", Nil).foreach { e0 =>
      val e = e0.asInstanceOf[IvfIndex.IvfEntry]
      if (IvfIndex.get(e.name).isEmpty) { IvfIndex.restoreEntry(e); n += 1 }
    }
    manifest.getOrElse("pq", Nil).foreach { e0 =>
      val e = e0.asInstanceOf[PqIndex.PqEntry]
      if (PqIndex.get(e.name).isEmpty) { PqIndex.restoreEntry(e); n += 1 }
    }
    manifest.getOrElse("ivfpq", Nil).foreach { e0 =>
      val e = e0.asInstanceOf[IvfPqIndex.IvfPqEntry]
      if (IvfPqIndex.get(e.name).isEmpty) { IvfPqIndex.restoreEntry(e); n += 1 }
    }
    manifest.getOrElse("sq", Nil).foreach { e0 =>
      val e = e0.asInstanceOf[SqIndex.SqEntry]
      if (SqIndex.get(e.name).isEmpty) { SqIndex.restoreEntry(e); n += 1 }
    }
    manifest.getOrElse("term", Nil).foreach { e0 =>
      val e = e0.asInstanceOf[TermIndex.TermEntry]
      if (TermIndex.get(e.name).isEmpty) { TermIndex.restoreEntry(e); n += 1 }
    }
    manifest.getOrElse("dedupsig", Nil).foreach { e0 =>
      val e = e0.asInstanceOf[DedupSignatures.SigEntry]
      if (DedupSignatures.get(e.name).isEmpty) { DedupSignatures.restoreEntry(e); n += 1 }
    }
    manifest.getOrElse("shingle", Nil).foreach { e0 =>
      val e = e0.asInstanceOf[ShingleIndex.ShingleEntry]
      if (ShingleIndex.get(e.name).isEmpty) { ShingleIndex.restoreEntry(e); n += 1 }
    }
    manifest.getOrElse("simhash", Nil).foreach { e0 =>
      val e = e0.asInstanceOf[SimHashIndex.SimHashEntry]
      if (SimHashIndex.get(e.name).isEmpty) { SimHashIndex.restoreEntry(e); n += 1 }
    }
    // idempotency watermarks restore AFTER the entries (a watermark without
    // its entry is meaningless); live watermarks win for the same reason
    // live entries do
    manifest.getOrElse("term_batches", Nil).foreach { w0 =>
      val (name, batchId) = w0.asInstanceOf[(String, Long)]
      TermIndex.restoreBatchWatermark(name, batchId)
    }
    n
  }
}
