package graft.streaming

import graft.embed.Embedder
import graft.operators.SemanticJoin
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (stretch scope per SURVEY §2.10 — the reference
  * has no streaming; these lift the engine's embed→match pipeline and the
  * training-pipeline hygiene ops onto unbounded inputs).
  *
  * All operators take/return streaming DataFrames and follow the standard
  * watermark + append-mode contract so they compose with any
  * `readStream`/`writeStream` pair.
  */
object StreamOps {

  /** Event-time windowed counts with a watermark — the canonical streaming agg
    * over the `events` table shape `(event_id, ts, user_id, event_type, value)`.
    */
  def windowedEventCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      windowLen: String = "1 minute",
      watermarkDelay: String = "2 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"), col("sum_value"))

  /** Streaming exact dedup on key columns within the watermark horizon —
    * `dropDuplicates` with state eviction (the streaming form of Dedup.exact).
    */
  def streamingDedup(
      df: DataFrame, keys: Seq[String],
      tsCol: String = "ts", watermarkDelay: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Event sessionization: group a key's events into sessions that close after
    * `gap` of event-time inactivity (`session_window` — merging windows, works
    * identically in batch and streaming; streaming needs the watermark for
    * state eviction). Emits (key, session_start, session_end = last event +
    * gap, n_events, sum_value).
    */
  def sessionize(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      gap: String = "30 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col(keyCol),
        col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Remove the first occurrence of `x` from `xs` (order otherwise preserved). */
  private def removeFirst[A](xs: List[A], x: A): List[A] = {
    val (pre, post) = xs.span(_ != x)
    pre ++ post.drop(1)
  }

  /** One simhash block row feeding the stateful near-dup operator. */
  final case class BlockEvent(blk: Int, blockval: Long, id: Long, fp: Long, ts: java.sql.Timestamp)
  /** A detected near-duplicate: `id` arrived while `matchId` was in state. */
  final case class NearDupHit(id: Long, matchId: Long, hamming: Int)

  /** Streaming SimHash near-dup detection with CUSTOM STATE
    * (`flatMapGroupsWithState`): each incoming document fans out to its four
    * 16-bit fingerprint blocks; per block-bucket the operator keeps the
    * in-horizon fingerprints and emits a hit for every stored fingerprint
    * within `maxHamming`. An entry stays matchable until the WATERMARK passes
    * its event time — i.e. the match window is `watermarkDelay` of event time
    * — and the event-time timeout then drops the bucket's state, so state is
    * bounded by (watermarkDelay × arrival rate), independent of stream
    * length. `maxStatePerBlock` bounds hot buckets (the streaming twin of
    * Dedup.simhashPairs' frequency cap): at capacity the OLDEST entry is
    * evicted to admit the newest, so a full block degrades to a shorter
    * effective window rather than going blind to new arrivals.
    *
    * A pair colliding in several blocks emits once per collision — run
    * `dropDuplicatesWithinWatermark` downstream if exactly-once pairs matter.
    */
  def streamingNearDup(
      df: DataFrame, idCol: String, textCol: String,
      tsCol: String = "ts",
      maxHamming: Int = 3,
      watermarkDelay: String = "10 minutes",
      maxStatePerBlock: Int = 1000): Dataset[NearDupHit] = {
    val spark = df.sparkSession
    import spark.implicits._
    val blocked = df
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).cast("long").as("id"),
        graft.operators.Dedup.simhash64(col(textCol)).as("fp"), col(tsCol).as("ts"))
      .select(col("id"), col("fp"), col("ts"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("fp"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .select(col("pos").cast("int").as("blk"), col("col").as("blockval"),
        col("id"), col("fp"), col("ts"))
      .as[BlockEvent]

    def update(
        key: (Int, Long), events: Iterator[BlockEvent],
        state: GroupState[List[(Long, Long, Long)]]): Iterator[NearDupHit] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      var held = state.getOption.getOrElse(Nil)
      val wm = state.getCurrentWatermarkMs()
      // evict at the watermark: an entry is matchable for exactly the
      // documented `watermarkDelay` of event time (evicting at wm − horizon
      // would silently double the effective window)
      held = held.filter(_._3 >= wm)
      val hits = List.newBuilder[NearDupHit]
      events.toList.sortBy(e => (e.ts.getTime, e.id)).foreach { e =>
        held.foreach { case (hid, hfp, _) =>
          if (hid != e.id) {
            val d = java.lang.Long.bitCount(hfp ^ e.fp)
            if (d <= maxHamming) hits += NearDupHit(e.id, hid, d)
          }
        }
        if (held.size >= maxStatePerBlock) {
          // full bucket: evict the oldest entry (deterministic tie-break on
          // id) so the newest is always stored and future arrivals can still
          // match it — skipping the newest would be one-sided recall loss
          val oldest = held.minBy(t => (t._3, t._1))
          held = removeFirst(held, oldest)
        }
        held = (e.id, e.fp, e.ts.getTime) :: held
      }
      state.update(held)
      if (held.nonEmpty)
        // all entries self-evict once the watermark passes the newest one;
        // time the state out right after that (must stay > current watermark)
        state.setTimeoutTimestamp(math.max(held.map(_._3).max, wm) + 1)
      hits.result().iterator
    }

    blocked
      .groupByKey(e => (e.blk, e.blockval))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming quality gate: score each incoming document with the batch
    * quality composite ([[graft.operators.TextAnalysis.qualityScore]] — a
    * narrow codegen projection, streaming-safe) and keep rows clearing a
    * STATIC per-key threshold table (fit offline with
    * [[graft.operators.Sampling.approxThresholds]]; refresh by restarting
    * the query). Stateless: a stream-static broadcast join + a codegen
    * filter — zero state store usage, any output mode, and batch ≡ streaming
    * row-for-row because nothing depends on micro-batch boundaries.
    *
    * `unknownKeys` decides rows whose key is ABSENT from the offline-fit
    * table (e.g. a brand-new source appearing mid-stream, advisor r7):
    * `"drop"` (default — an unfit source has no cutoff, so nothing passes
    * until the table is refreshed; an inner join, the original plan) or
    * `"keep"` (pass-through until a cutoff exists — a left join keeping
    * null-threshold rows).
    */
  def qualityGate(
      stream: DataFrame, textCol: String, keys: Seq[String],
      thresholds: DataFrame, thrCol: String = "threshold",
      unknownKeys: String = "drop"): DataFrame = {
    val scored = graft.operators.TextAnalysis.qualityScore(stream, textCol)
    val gated = unknownKeys match {
      case "drop" => scored.join(broadcast(thresholds), keys)
        .filter(col("quality") >= col(thrCol))
      case "keep" => scored.join(broadcast(thresholds), keys, "left")
        .filter(col(thrCol).isNull || col("quality") >= col(thrCol))
      case p => throw new IllegalArgumentException(
        s"unknownKeys must be drop | keep, got $p")
    }
    gated.select((stream.columns.map(col) :+ col("quality")): _*)
  }

  /** Streaming semantic enrichment: embed the incoming text column and 1-NN
    * match each micro-batch against a STATIC reference table (stream-static
    * pattern: the reference side is embedded once up front, broadcast per
    * batch; per-batch work is embed(new rows) + broadcast kNN — no unbounded
    * state). Returns a `DataStreamWriter` wired through `foreachBatch`;
    * caller sets output sink/trigger and starts it.
    */
  def semanticEnrich(
      stream: DataFrame, textCol: String,
      refDf: DataFrame, refId: String, refTextCol: String,
      embedder: Embedder,
      onBatch: DataFrame => Unit): DataStreamWriter[Row] = {
    // embed the static side ONCE at plan time, not per micro-batch
    val ref = embedder
      .embed(refDf.select(col(refId).cast("long").as("__rid"), col(refTextCol)),
        refTextCol, "__rvec")
      .select("__rid", "__rvec")
      .localCheckpoint(true)

    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val withId = batch.withColumn("__lid", monotonically_increasing_id())
          val emb = embedder.embed(withId, textCol, "__lvec").localCheckpoint(true)
          val knn = SemanticJoin.knnJoinVec(
            emb, "__lid", "__lvec", ref, "__rid", "__rvec", k = 1)
          val out = emb.drop("__lvec")
            .join(knn.select(col("left_id").as("__lid"),
              col("right_id").as("match_id"), col("score")), Seq("__lid"))
            .drop("__lid")
          onBatch(out)
        }
      }
  }

  /** Crawl-regime streaming ingest against a persisted MinHash index — the
    * composite the index + append machinery exists for: every micro-batch
    * is (1) self-deduped with the INDEX's own banding params
    * ([[graft.operators.Dedup.minhashLsh]] keep-first — intra-batch
    * near-dups never reach the corpus), (2) near-dup-searched against the
    * persisted corpus ([[graft.operators.Dedup.minhashSearchIndex]];
    * matching docs dropped), and (3) the SURVIVORS are absorbed atomically
    * ([[graft.operators.Dedup.minhashAppendIndex]], batchId =
    * `ingest_<epochId>`). The index is RE-OPENED per micro-batch, so each
    * batch sees every previously committed append — cross-batch dedup over
    * the whole stream history with NO executor state at all: the state IS
    * the index, which is why this scales where a `flatMapGroupsWithState`
    * shingle store would not.
    *
    * Since r11 this DELEGATES to [[ingestEpochPipeline]] (MinHash leg
    * only), so every epoch is survivor-manifest-backed and the old
    * at-most-once `onBatch` caveat is gone: a replay after a successful
    * append reads the committed manifest back and re-delivers the SAME
    * survivor set (exactly-once delivery, the [[streamingIngestPipeline]]
    * contract). Deprecated in favor of [[streamingIngestPipeline]], which
    * is this plus the optional BM25/ANN lockstep legs.
    *
    *  - `ingestTag` must still be unique per LOGICAL stream run: epoch ids
    *    restart at 0 for a query started on a fresh checkpoint, and a
    *    colliding `<tag>_<epoch>` batchId replays the EARLIER run's
    *    committed manifest — that epoch's true survivors are never
    *    computed. Resuming from the SAME checkpoint keeps the same tag
    *    (that is what makes replays idempotent).
    */
  @deprecated("use streamingIngestPipeline (same exactly-once semantics, " +
    "plus optional BM25/ANN lockstep legs)", "r11")
  def streamingIngestDedup(
      stream: DataFrame, idCol: String, textCol: String,
      indexPath: String,
      jaccardThreshold: Double = 0.5,
      ingestTag: String = "ingest",
      onBatch: DataFrame => Unit = _ => ()): DataStreamWriter[Row] =
    streamingIngestPipeline(stream, idCol, textCol, indexPath,
      jaccardThreshold, ingestTag, onBatch = onBatch)

  /** One ingest epoch as a batch call (also usable for bulk backfills):
    * self-dedup → corpus-dedup → atomic append under `batchId`; returns the
    * absorbed survivors. Delegates to [[ingestEpochPipeline]] (MinHash leg
    * only) since r11, so the epoch is survivor-manifest-backed: replaying a
    * committed `batchId` re-delivers the SAME survivor set instead of
    * recomputing an empty one against the already-grown corpus.
    */
  def ingestEpoch(
      batch: DataFrame, idCol: String, textCol: String,
      indexPath: String, jaccardThreshold: Double, batchId: String): DataFrame =
    ingestEpochPipeline(batch, idCol, textCol, indexPath, jaccardThreshold, batchId)

  /** Steps (1)+(2) of an ingest epoch — the survivor computation shared by
    * [[ingestEpoch]] and [[ingestEpochPipeline]]: intra-batch keep-first
    * with the index's own banding, then drop docs near-duplicating the
    * persisted corpus. Returns the pinned survivor frame.
    */
  private def computeFreshSurvivors(
      batch: DataFrame, idCol: String, textCol: String,
      indexPath: String, jaccardThreshold: Double): DataFrame = {
    import graft.operators.Dedup
    val idx = Dedup.minhashOpenIndex(batch.sparkSession, indexPath)
    // branch-heavy micro-batch: pin once (foreachBatch hands a one-shot
    // frame; re-evaluating it per consumer is undefined)
    val pinned = batch.localCheckpoint(true)
    // (1) intra-batch keep-first, with the index's pinned banding — a
    // drifted parameterization would dedup by a different similarity than
    // the corpus search below
    val clusters = Dedup.minhashLsh(pinned, idCol, textCol,
      shingleSize = idx.shingleSize, numBands = idx.numBands,
      rowsPerBand = idx.rowsPerBand, jaccardThreshold = jaccardThreshold,
      hashFamily = idx.hashFamily)
    val selfUnique = pinned.join(
      clusters.filter(col("id") === col("cluster")).select(col("id")),
      pinned(idCol).cast("long") === col("id"), "left_semi")
    // (2) drop docs near-duplicating the persisted corpus (batch_id keeps
    // the batch id's natural type — no cast in this join)
    val corpusDups = Dedup.minhashSearchIndex(idx, selfUnique, idCol, textCol,
      jaccardThreshold).select(col("batch_id")).distinct()
    selfUnique.join(corpusDups,
      selfUnique(idCol) === col("batch_id"), "left_anti")
      .localCheckpoint(true) // consumed by the append(s) AND the sink
  }

  /** One ingest epoch with a durable SURVIVOR MANIFEST — the primitive
    * every ingest entry point routes through (r11: [[ingestEpoch]] and
    * [[streamingIngestDedup]] both delegate here, so there is no
    * manifestless path left to pick by accident):
    *
    *  - **survivor delivery is exactly-once**: the survivor set is
    *    parquet-committed to `<minhashPath>/ingest_manifests/<batchId>`
    *    (visible only via its `_COMMITTED` marker) BEFORE any index is
    *    touched, and a replayed epoch READS the manifest back instead of
    *    recomputing — recomputation after a successful append would find
    *    the batch's own rows in the corpus and return the empty set;
    *  - **multiple indexes stay mutually consistent**: every index append
    *    is fed from the same durable manifest, so a crash BETWEEN the
    *    MinHash append and the BM25 append replays into idempotent
    *    re-appends of the identical rows — without the manifest the second
    *    index would silently lose the whole batch (the recomputed survivor
    *    set is empty once the first index absorbed it).
    *
    * Total order per epoch: manifest commit → MinHash append → BM25 append
    * → ANN append (each step atomic + idempotent on `batchId`); a crash at
    * any point resumes cleanly from the manifest. The optional legs keep
    * the OTHER serving indexes in lockstep with the dedup corpus — the full
    * crawl triad: what minhash ADMITS, BM25 serves lexically and ANN serves
    * semantically.
    *
    *  - `bm25Path`: BM25 appends are score-exact
    *    ([[graft.operators.Lexical.bm25AppendIndex]]), so searches against
    *    the maintained index stay bit-identical to a rebuild over
    *    (corpus ∪ all survivors) — `q_stream_ingest_bm25` hash-checks it.
    *  - `ann` (path + embedder): survivors are embedded ONCE (the
    *    embed-once posture — `Embedder.preferDedup` routes model/API
    *    embedders through the distinct-text path) and absorbed against the
    *    index's FROZEN centroids ([[graft.operators.Ann.annAppendIndex]]),
    *    so searches equal a same-centroid rebuild over the grown corpus —
    *    `q_stream_ingest_ann` hash-checks it; `AnnIndex.appendStaleness`
    *    still says when a true refit is due. On a replay whose ANN batch
    *    was not yet committed the survivors are re-embedded from the
    *    manifest (at-least-once embedding cost, exactly-once absorb).
    *
    * The manifest dir is epoch bookkeeping, not index state: compaction
    * does not carry it, and it can be pruned once downstream consumers are
    * past the epoch.
    */
  def ingestEpochPipeline(
      batch: DataFrame, idCol: String, textCol: String,
      minhashPath: String,
      jaccardThreshold: Double, batchId: String,
      bm25Path: Option[String] = None,
      ann: Option[(String, Embedder)] = None,
      denylistRoot: Option[String] = None): DataFrame = {
    graft.operators.IndexLayout.requireDirName("batchId", batchId)
    import graft.operators.{Dedup, Lexical}
    val spark = batch.sparkSession
    // denylist BEFORE survivor computation (r13): a re-crawled taken-down
    // doc must not re-enter. Only the FRESH path below applies it — a
    // committed manifest replays its recorded survivors unchanged even if
    // the denylist grew since (those rows' erasure is a tombstone's job)
    val admitted = denylistRoot match {
      case Some(r) => Denylist.exclude(batch, idCol, r)
      case None => batch
    }
    val maniDir = new org.apache.hadoop.fs.Path(s"$minhashPath/ingest_manifests/$batchId")
    val marker = new org.apache.hadoop.fs.Path(maniDir, "_COMMITTED")
    val fs = maniDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (fs.exists(marker)) {
        // replay: the manifest IS the epoch's survivor set (recomputing
        // would return empty — the rows are already in the corpus)
        spark.read.parquet(s"$maniDir/rows")
      } else {
        if (fs.exists(maniDir)) fs.delete(maniDir, true) // failed attempt
        val f = computeFreshSurvivors(admitted, idCol, textCol, minhashPath, jaccardThreshold)
        // unpartitioned write: an EMPTY survivor set still produces a
        // readable parquet file (only partitioned empty dirs are footerless),
        // so fully-duplicated epochs replay as committed empty manifests
        f.write.mode("overwrite").parquet(s"$maniDir/rows")
        fs.create(marker, false).close()
        f
      }
    Dedup.minhashAppendIndex(spark, minhashPath, fresh, idCol, textCol, batchId)
    bm25Path.foreach { p =>
      Lexical.bm25AppendIndex(spark, p,
        fresh.select(col(idCol), col(textCol)), idCol, textCol, batchId)
    }
    ann.foreach { case (p, embedder) =>
      // skip the embed work entirely when the batch is already committed
      // (the common replay case) — annAppendIndex would no-op anyway, but
      // only after paying the embedding
      val annFs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!graft.operators.IndexLayout.isBatchCommitted(annFs, p, batchId)) {
        val texts = fresh.select(col(idCol), col(textCol))
        val vecs =
          if (embedder.preferDedup)
            graft.embed.Embedder.embedDistinct(texts, textCol, "__vec", embedder)
          else embedder.embed(texts, textCol, "__vec")
        graft.operators.Ann.annAppendIndex(spark, p, vecs, idCol, "__vec", batchId)
      }
    }
    fresh
  }

  /** The [[streamingIngestDedup]] wrapper over [[ingestEpochPipeline]]:
    * exactly-once survivor delivery (manifest-backed) and optional BM25 /
    * ANN indexes maintained in lockstep with the dedup corpus. Same
    * `ingestTag` uniqueness contract as [[streamingIngestDedup]].
    */
  def streamingIngestPipeline(
      stream: DataFrame, idCol: String, textCol: String,
      minhashPath: String,
      jaccardThreshold: Double = 0.5,
      ingestTag: String = "ingest",
      bm25Path: Option[String] = None,
      ann: Option[(String, Embedder)] = None,
      onBatch: DataFrame => Unit = _ => ()): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty)
          onBatch(ingestEpochPipeline(batch, idCol, textCol, minhashPath,
            jaccardThreshold, s"${ingestTag}_$epochId", bm25Path, ann))
      }

  /** The SELF-MAINTAINING streaming ingest (r11 — the full loop in one
    * call): indexes live under [[graft.operators.IndexMaintenance]]
    * generation roots, every micro-batch ingests against whatever
    * generation is CURRENT, and a maintenance pass runs after each epoch —
    * compaction (or an ANN refit) fires whenever a cadence signal crosses
    * the policy, and the NEXT epoch picks up the fresh generation
    * automatically. The append-accumulation curve `q_stress_ingest`
    * measures (jobs/epoch growing with union fan-in) stays flat under a
    * firing policy.
    *
    * Crash safety across the path swap, stated precisely: a replayed epoch
    * re-resolves `currentPath`, which may now be a LATER generation than
    * the one the failed attempt wrote to. Exactly-once still holds —
    * compaction CARRIES the survivor manifests (the replay re-delivers the
    * committed survivor set from the new generation) and writes the
    * absorbed-batch ledger (a re-append of a folded `batchId` is an
    * idempotent no-op), which is precisely what those two mechanisms exist
    * for. Same `ingestTag` uniqueness contract as the unmanaged form.
    */
  def streamingIngestPipelineManaged(
      stream: DataFrame, idCol: String, textCol: String,
      minhashRoot: String,
      jaccardThreshold: Double = 0.5,
      ingestTag: String = "ingest",
      bm25Root: Option[String] = None,
      annRoot: Option[(String, Embedder)] = None,
      policy: graft.operators.IndexMaintenance.Policy =
        graft.operators.IndexMaintenance.Policy(),
      onBatch: DataFrame => Unit = _ => (),
      onMaintenance: Seq[graft.operators.IndexMaintenance.Event] => Unit =
        _ => ()): DataStreamWriter[Row] = {
    import graft.operators.IndexMaintenance
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          onBatch(ingestEpochPipeline(batch, idCol, textCol,
            IndexMaintenance.currentPath(spark, minhashRoot),
            jaccardThreshold, s"${ingestTag}_$epochId",
            bm25Root.map(IndexMaintenance.currentPath(spark, _)),
            annRoot.map { case (r, e) =>
              (IndexMaintenance.currentPath(spark, r), e)
            },
            // managed loops always honor the root-level denylist — absent
            // (no takedown ever ran) it costs one existence check
            denylistRoot = Some(minhashRoot)))
          onMaintenance(IndexMaintenance.maintainIndexes(spark,
            Some(minhashRoot), bm25Root, annRoot.map(_._1), policy))
        }
      }
  }

  /** The REMOVAL half of the streaming lifecycle (r13): a takedown stream —
    * each row names a document id that must leave the corpus (GDPR erasure,
    * DMCA, retroactive policy filters) — applied as tombstone deletes
    * against whatever generation of each managed index is CURRENT, with the
    * same exactly-once discipline as the ingest loop.
    *
    * Per micro-batch: one tombstone per managed index under
    * `delId = <takedownTag>_<epochId>` (the takedown fan-out
    * [[graft.operators.IndexMaintenance.takedown]]: bm25 and ann first,
    * minhash last, each [[graft.operators.IndexLifecycle.delete]] —
    * each idempotent on `delId`, each recording exact stat deltas measured
    * against the live index, ids not present resolving to no-ops), then an
    * optional maintenance pass whose `deleteFraction` signal compacts the
    * tombstones physically once scan waste crosses the policy.
    *
    * Exactly-once across generation swaps, same story as ingest: a replayed
    * epoch re-resolves `currentPath`, which may be a LATER generation than
    * the failed attempt targeted — compaction both APPLIES committed
    * tombstones physically and CARRIES their `delId` ledger into the new
    * generation, so the replay's `alreadyDeleted` check short-circuits. The
    * `takedownTag` uniqueness contract is [[streamingIngestPipeline]]'s:
    * unique per logical stream run, stable across checkpoint resumes.
    *
    * `denyFuture = true` additionally records each batch's ids in a
    * persisted denylist at the MINHASH ROOT level (outside the generation
    * dirs, so it survives compaction without carrying):
    * [[ingestEpochPipeline]] in the managed ingest loop anti-joins every
    * incoming batch against it, so a re-crawled taken-down document never
    * re-enters the corpus. The denylist applies at INGEST time; documents
    * already absorbed are handled by the tombstones, and a committed
    * survivor manifest replays unchanged even if the denylist grew since
    * (the erasure for those rows is the tombstone, not the manifest).
    *
    * Two-maintainer note: when this runs alongside a
    * [[streamingIngestPipelineManaged]] on the SAME roots, leave
    * `runMaintenance = true` on exactly one of the two — concurrent passes
    * serialize safely through the atomic markers (the
    * [[graft.operators.IndexMaintenance]] contract) but the loser's work is
    * wasted.
    */
  def streamingTakedownPipelineManaged(
      deletes: DataFrame, idCol: String,
      minhashRoot: String,
      takedownTag: String = "takedown",
      bm25Root: Option[String] = None,
      annRoot: Option[String] = None,
      policy: graft.operators.IndexMaintenance.Policy =
        graft.operators.IndexMaintenance.Policy(),
      runMaintenance: Boolean = true,
      denyFuture: Boolean = false,
      contentTextCol: Option[String] = None,
      contentJaccardThreshold: Double = 0.8,
      onBatch: Long => Unit = _ => (),
      onMaintenance: Seq[graft.operators.IndexMaintenance.Event] => Unit =
        _ => ()): DataStreamWriter[Row] = {
    import graft.operators.IndexMaintenance
    deletes.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val delId = s"${takedownTag}_$epochId"
          contentTextCol match {
            case Some(textCol) =>
              // CONTENT mode (r13): the stream carries takedown NOTICES
              // (id + text); each epoch resolves them to corpus ids through
              // the banded near-dup search and tombstones the resolved set
              // — [[graft.operators.IndexMaintenance.takedownByContent]],
              // same delId idempotence, same denylist wiring
              IndexMaintenance.takedownByContent(spark,
                batch, idCol, textCol, minhashRoot, delId,
                bm25Root, annRoot, contentJaccardThreshold, denyFuture)
            case None =>
              // localCheckpoint: the ids frame fans out to up to four
              // consumers (three deletes + the denylist) — a streaming
              // batch source must not be re-evaluated per consumer
              val ids = batch.select(col(idCol).cast("long").as(idCol))
                .distinct().localCheckpoint(true)
              IndexMaintenance.takedown(spark, ids, idCol, delId,
                minhashRoot, bm25Root, annRoot)
              if (denyFuture) Denylist.append(spark, minhashRoot, ids, idCol, delId)
          }
          onBatch(epochId)
          if (runMaintenance)
            onMaintenance(IndexMaintenance.maintainIndexes(spark,
              Some(minhashRoot), bm25Root, annRoot, policy))
        }
      }
  }
}

/** The persisted ingest denylist (r13): taken-down document ids that must
  * never RE-ENTER the corpus, recorded by
  * [[StreamOps.streamingTakedownPipelineManaged]] (`denyFuture = true`) and
  * honored by [[StreamOps.ingestEpochPipeline]]'s managed callers before
  * survivor computation.
  *
  * Layout: `<root>/denylist/<delId>/ids` parquet + `_COMMITTED` — the
  * engine's universal atomic-marker idiom (a crashed append is invisible
  * and overwritten by the retry; a committed one replays as a no-op). The
  * dir sits at the generation ROOT, outside `gen-N/`, so compaction/refit
  * swaps never have to carry it.
  *
  * Scale: exclusion is one `left_anti` join of the incoming batch against
  * the unioned id lists — AQE broadcasts a small denylist and shuffles a
  * jurisdiction-sized one, no driver materialization either way. What
  * accumulates is one tiny parquet dir per takedown epoch; a year of
  * hourly takedowns is ~10k small files read once per ingest epoch —
  * acceptable audit-grade overhead, and the committed-dir listing is one
  * `listStatus` per epoch.
  */
object Denylist {
  import org.apache.hadoop.fs.Path

  private val Dir = "denylist"
  private val Marker = "_COMMITTED"

  /** Record `ids` under `delId`; idempotent (a committed `delId` returns
    * false and writes nothing — the takedown replay contract).
    */
  def append(spark: org.apache.spark.sql.SparkSession, root: String,
      ids: DataFrame, idCol: String, delId: String): Boolean = {
    graft.operators.IndexLayout.requireDirName("delId", delId)
    val dir = new Path(new Path(root, Dir), delId)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(dir, Marker))) return false
    if (fs.exists(dir)) fs.delete(dir, true) // failed attempt
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode("overwrite").parquet(new Path(dir, "ids").toString)
    fs.create(new Path(dir, Marker), false).close()
    true
  }

  /** All committed denylist ids as one `(id: long)` frame; None when no
    * committed entry exists (the common case — zero cost for pipelines that
    * never take anything down).
    */
  def read(spark: org.apache.spark.sql.SparkSession,
      root: String): Option[DataFrame] = {
    val dlRoot = new Path(root, Dir)
    val fs = dlRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dlRoot)) return None
    val dirs = fs.listStatus(dlRoot).toSeq
      .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, Marker)))
      .map(st => new Path(st.getPath, "ids").toString)
    if (dirs.isEmpty) None
    // ONE multi-path read (the committed-batch idiom), not a per-dir
    // read + left-deep union fold: at the documented ~10k-entry scale the
    // fold cost 10k footer round-trips and a 10k-node plan per ingest
    // epoch (review r13); identical schemas make this safe
    else Some(spark.read.schema(graft.operators.Tombstones.idsReadSchema).parquet(dirs: _*).distinct())
  }

  /** Drop denylisted rows from `df` — a distributed anti-join; no-op
    * without a committed denylist. The denylist side is EAGERLY pinned
    * (advisor r13): [[read]]'s multi-path frame is planned from a dir
    * listing, and a concurrent [[compact]] deletes the folded dirs after
    * committing its union — an ingest epoch that planned its exclusion
    * before the compact and executed after would hit FileNotFoundException
    * mid-job. The checkpoint narrows that window from "whole epoch" to the
    * listing-to-materialize instant; a loss there still fails CLEANLY at
    * exclusion time, before any durable ingest effect, and the epoch retry
    * re-lists and sees the compacted dir. (Never `ignoreMissingFiles` here:
    * silently under-reading a denylist would let taken-down docs re-enter.)
    * Denylists are takedown-sized, so the pin is one small job per epoch.
    */
  def exclude(df: DataFrame, idCol: String, root: String): DataFrame =
    read(df.sparkSession, root) match {
      case Some(dl0) =>
        val dl = dl0.localCheckpoint(true)
        df.join(dl, df(idCol).cast("long") === dl("id"), "left_anti")
      case None => df
    }

  /** Fold every committed denylist entry into ONE compacted dir — the
    * file-count hygiene lever (a year of hourly takedowns is ~10k small
    * dirs re-listed and re-read once per ingest epoch; compact when the
    * listing grows past taste, e.g. from the same cadence that runs
    * [[graft.operators.IndexMaintenance.maintainIndexes]]). The distinct
    * union lands under a fresh `compacted-<k>` entry with the usual
    * atomic marker; the folded dirs are deleted only AFTER it commits. A
    * crash between leaves both visible — [[read]] unions DISTINCT, so
    * overlap is harmless and the next compact folds the remainder. Same
    * argument covers a late replay of a folded takedown epoch: its delId
    * dir is gone, so the epoch re-appends ids already present in the
    * compacted set — a distinct-union no-op in effect. Returns the number
    * of dirs folded (0 when ≤ 1 committed entry exists).
    *
    * Name reuse is BENIGN here, unlike [[graft.operators.Tombstones
    * .consolidate]] (whose r14 fold-name reuse self-absorbed and erased
    * the exclusion set): the denylist keeps NO ledger that names a
    * compacted dir — [[read]] is a stateless distinct-union over whatever
    * committed dirs exist — so a `compacted-k` slot freed by a later
    * compaction can be reused without any reader mistaking the new dir
    * for an absorbed one. The contrast is the rule: name reuse is only
    * safe when no surviving metadata can refer to the old name.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, root: String): Int = {
    import org.apache.hadoop.fs.Path
    val dlRoot = new Path(root, Dir)
    val fs = dlRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dlRoot)) return 0
    val committed = fs.listStatus(dlRoot).toSeq
      .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, Marker)))
      .map(_.getPath)
    if (committed.size <= 1) return 0
    val all = spark.read.schema(graft.operators.Tombstones.idsReadSchema)
      .parquet(committed.map(p => s"$p/ids"): _*).distinct()
      .localCheckpoint(true) // pin: the write below must not re-read dirs mid-delete
    var k = 0
    while (fs.exists(new Path(new Path(dlRoot, s"compacted-$k"), Marker))) k += 1
    val dir = new Path(dlRoot, s"compacted-$k")
    if (fs.exists(dir)) fs.delete(dir, true) // uncommitted leftover
    all.coalesce(1).write.mode("overwrite").parquet(new Path(dir, "ids").toString)
    fs.create(new Path(dir, Marker), false).close()
    committed.foreach(p => fs.delete(p, true))
    committed.size
  }
}
