package graft.operators

import graft.functions.VectorOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Brute-force cosine top-k ([[SemanticJoin.knnJoinVec]]) is the exact baseline;
  * [[ivfTopK]] is the scale path: a deterministic IVF-style coarse quantizer —
  * corpus vectors are assigned to their nearest centroid once, queries probe only
  * the `nProbe` nearest centroid lists, so the scored candidate set shrinks by
  * ~nProbe/nCentroids while recall stays high for clustered data.
  *
  * The persisted-index searches (float, IVF_SQ8, IVF_PQ) are one body
  * ([[searchIndex]]) and the broadcast quantized scans one more
  * ([[scanTopK]]); how each scores is [[Resident.AnnScoring]].
  */
object Ann {

  /** Exact brute-force top-k (delegates to the kNN join primitive). */
  def bruteForceTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String, k: Int): DataFrame =
    SemanticJoin.knnJoinVec(queries, qId, qVec, corpus, cId, cVec, k)

  /** Deterministic seeded-sample centroid pick: order corpus ids by a seeded
    * hash and take the first `nCentroids` — a reproducible uniform sample
    * (smallest-ids would mirror whatever structure id order carries, e.g.
    * ingestion order or a single shard, and collapse the inverted lists onto
    * one region of the space). `orderBy(...).limit(n)` compiles to
    * TakeOrderedAndProject — per-partition top-n then a merge of n·P rows,
    * never a global sort.
    */
  def centroids(
      corpus: DataFrame, cId: String, cVec: String, nCentroids: Int,
      seed: Long = 42L): DataFrame =
    corpus.select(col(cId).cast("long").as("centroid_id"), asDouble(col(cVec)).as("centroid_vec"))
      .orderBy(xxhash64(col("centroid_id"), lit(seed)), col("centroid_id"))
      .limit(nCentroids)

  /** Lloyd refinement rounds over the sampled seeds: assign (a deterministic
    * hash-sample of) the corpus to its nearest centroid, replace each centroid
    * with its assigned-vector mean. One round turns arbitrary seed points into
    * actual cluster centers and buys most of k-means' recall benefit.
    *
    * Scale: assignment is the broadcast-1NN join against the tiny centroid
    * table; the mean is an element-wise partial aggregate (explode by
    * position → avg), over `refineFraction` of the corpus — pass a small
    * fraction at 100 TB, the centroids converge on any uniform sample.
    */
  def refineCentroids(
      corpus: DataFrame, cId: String, cVec: String, cents: DataFrame,
      rounds: Int = 1, refineFraction: Double = 1.0, seed: Long = 42L): DataFrame = {
    val pts = corpus.select(col(cId).cast("long").as("__pid"), asDouble(col(cVec)).as("__v"))
    var c = cents
    for (r <- 1 to rounds) {
      val sample =
        if (refineFraction >= 1.0) pts
        else pts.filter(
          pmod(xxhash64(col("__pid"), lit(seed + r)), lit(1000000L)) <
            lit((refineFraction * 1000000L).toLong))
      val assigned = SemanticJoin.knnJoinVec(sample, "__pid", "__v",
          c, "centroid_id", "centroid_vec", k = 1,
          skipSizeCheck = true) // centroid table is ≤nCentroids rows by construction
        .select(col("left_id").as("__pid"), col("right_id").as("centroid_id"))
      val means = graft.core.VecAgg.elementWiseMean(
        sample.join(assigned, "__pid").select(col("centroid_id"), col("__v")),
        "centroid_id", "__v", "__mean")
      // a centroid with no assigned sample points keeps its previous vector —
      // dropping it would shrink the index below nCentroids (acute at small
      // refineFraction, where the sample can't even reach every centroid)
      c = c.select(col("centroid_id"), col("centroid_vec").as("__prev"))
        .join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("__mean"), col("__prev")).as("centroid_vec"))
        .localCheckpoint(true) // iterative: cut lineage between rounds
    }
    c
  }

  /** SRP-LSH candidate pairs `(i, j, score)` with `i < j`: vectors sharing at
    * least one signed-random-projection band bucket, exact-verified at
    * `cosine >= tau` (precision 1; recall = 1-(1-p^bits)^bands with
    * p = 1 - θ/π). The scale path for near-dup candidate generation — a
    * bucket equi-join (one shuffle on the band key) instead of the O(n²)
    * all-pairs scan; hot buckets are handled by AQE skew splitting.
    *
    * `hyperplanes` picks the projection family: `"md5"` (default; md5-derived
    * signs the SQL oracle reproduces bit-exactly — see
    * graft.functions.SrpBandsMd5) or `"splitmix"` (seeded, constant-memory —
    * no sign matrix — for very high dims or when a different seed is wanted).
    */
  def srpCandidatePairs(
      df: DataFrame, idCol: String, vecCol: String,
      tau: Double,
      nBands: Int = 8, bitsPerBand: Int = 8, seed: Long = 42L,
      hyperplanes: String = "md5"): DataFrame = {
    // norms once per point — inside the bucket join they would be recomputed
    // per (candidate pair × colliding band)
    val pts = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("__n", norm(col("v")))
    val bandsCol = hyperplanes match {
      case "md5" => graft.functions.SrpBandsMd5.srpBandsMd5(col("v"), nBands, bitsPerBand)
      case "splitmix" => graft.functions.SrpBands.srpBands(col("v"), nBands, bitsPerBand, seed)
      case f => throw new IllegalArgumentException(
        s"unknown SRP hyperplane family: $f (expected md5 | splitmix)")
    }
    val sigs = pts
      .withColumn("__bands", bandsCol)
      .select(col("id"), col("v"), col("__n"), posexplode(col("__bands")).as(Seq("__band", "__key")))
    val a = sigs.select(col("id").as("i"), col("v").as("vi"), col("__n").as("ni"),
      col("__band"), col("__key"))
    val b = sigs.select(col("id").as("j"), col("v").as("vj"), col("__n").as("nj"),
      col("__band"), col("__key"))
    a.join(b, Seq("__band", "__key"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        cosineWithNorms(dot(col("vi"), col("vj")), col("ni"), col("nj")).as("score"))
      .filter(col("score") >= lit(tau))
      // a pair colliding in multiple bands appears once per collision
      .groupBy("i", "j").agg(first("score").as("score"))
  }

  /** Per-query recall@k of an approximate top-k result against the exact one:
    * `(left_id, recall)` with `recall = |approx ∩ exact| / k` (both inputs in
    * the `(left_id, right_id, ...)` contract of [[bruteForceTopK]]/[[ivfTopK]]).
    * Queries the approximate run missed entirely get recall 0, not a missing
    * row. Turns the ANN approximation into a quantified, checkable guarantee
    * — the driver query `q_ann_recall` asserts no query falls below
    * its floor. Note ties at the k-th score make 1.0 unreachable in general:
    * both sides break ties by id, but equal-score neighbors beyond rank k are
    * legitimately interchangeable.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val inter = approx.select(col("left_id"), col("right_id"))
      .join(exact.select(col("left_id"), col("right_id")), Seq("left_id", "right_id"))
      .groupBy("left_id")
      .agg((count(lit(1)).cast("double") / lit(k.toDouble)).as("recall"))
    exact.select("left_id").distinct()
      .join(inter, Seq("left_id"), "left")
      .select(col("left_id"), coalesce(col("recall"), lit(0.0)).as("recall"))
  }

  /** A persisted IVF index opened from disk: `cells` is the corpus stored
    * cell-partitioned (`corpus_id`, `cv` double vector, `__cell` = assigned
    * centroid id as a parquet partition column), `centroids` the small
    * centroid table. The vector sibling of [[Lexical.Bm25Index]]: centroid
    * refinement AND the corpus-wide nearest-centroid assignment are paid
    * once at build, so a search is probe (tiny broadcast 1-NN against the
    * centroid table) → partition-pruned scan of the probed cells → score →
    * bounded top-k.
    */
  final case class AnnIndex(cells: DataFrame, centroids: DataFrame, nCentroids: Int,
      nRows: Option[Long] = None, appendedRows: Long = 0L,
      pqCodebook: Option[Pq.PqCodebook] = None,
      deletedRows: Long = 0L,
      allowed: Option[DataFrame] = None) {
    /** Tombstoned vectors ÷ scanned vectors — the delete-cadence signal.
      * Deletes cost nothing in recall (cell assignments of SURVIVING vectors
      * are untouched; see [[annDeleteFromIndex]]); what accumulates is
      * physical scan waste. Compact when it grows past taste.
      */
    def deleteFraction: Double =
      nRows.filter(_ > 0).map(deletedRows.toDouble / _).getOrElse(0.0)
    /** Staleness of the frozen-centroid appends: appended rows as a fraction
      * of ALL indexed rows. The rebuild-cadence signal — centroids were
      * fitted before any appended row existed, so recall degrades as this
      * grows (see [[annAppendIndex]]); rebuild when it crosses the
      * deployment's tolerance.
      */
    def appendStaleness: Double =
      nRows.filter(_ > 0).map(n => appendedRows.toDouble / n).getOrElse(0.0)
    /** Centroid matrix collected ONCE per open (≤ nCentroids rows by
      * construction): every under-bound search computes its probe assignment
      * against it driver-side — with the same dot/cosine/top-k kernels as
      * the distributed scan, so assignments stay bit-identical — instead of
      * paying a centroid collect + kNN job per search. The serving-regime
      * lever: repeated searches against one open index spend their wall on
      * the scored scan, not on probe-bookkeeping jobs.
      */
    lazy val centroidMat: VecScan.Mat =
      VecScan.collectMat(centroids, "centroid_id", "centroid_vec")
    /** The serving tiers ([[Resident.Tiers]]) of a pinned open: the driver
      * cell mirror under the resident bound, the partitioned tier over it.
      */
    @transient private[operators] val tiers = Resident.annTiers(cells, nRows, allowed)
  }

  /** Build the IVF structures: refined centroids + the cell-assigned corpus
    * (`corpus_id`, `cv`, `__cell`). Same quantizer and assignment as
    * [[ivfTopK]] (same seed → same cells), returned as frames for
    * [[annWriteIndex]] or direct in-memory use.
    */
  def annBuildIndex(
      corpus: DataFrame, cId: String, cVec: String,
      nCentroids: Int = 16, seed: Long = 42L,
      refineRounds: Int = 1, refineFraction: Double = 1.0): (DataFrame, DataFrame) = {
    val cents0 = centroids(corpus, cId, cVec, nCentroids, seed)
    val cents =
      if (refineRounds <= 0) cents0.localCheckpoint(true)
      else refineCentroids(corpus, cId, cVec, cents0, refineRounds, refineFraction, seed)
    val assign = SemanticJoin.knnJoinVec(
      corpus, cId, cVec,
      cents, "centroid_id", "centroid_vec", k = 1, skipSizeCheck = true)
      .select(col("left_id").as("corpus_id"), col("right_id").as("__cell"))
    val cells = corpus
      .select(col(cId).cast("long").as("corpus_id"), asDouble(col(cVec)).as("cv"))
      .join(assign, "corpus_id")
    (cells, cents)
  }

  /** Bake the quantized scoring columns next to the double vectors: always
    * the IVF_SQ8 pair (`codes`, `cn2`); with a codebook also the IVF_PQ
    * pair (`pq` m-byte codes, `cn` exact double norm — ADC ranks by
    * reconstruction-dot over TRUE norms, so the coarse scan never touches
    * `cv`). Each pair is its [[Resident.AnnScoring]]'s bake.
    */
  private def enrichCells(cells: DataFrame, cb: Option[Pq.PqCodebook]): DataFrame = {
    val sq8 = Resident.Int8Scoring.bake(cells)
    cb.fold(sq8)(Resident.PqScoring.bake(sq8, _))
  }

  /** [[annWriteIndex]]'s layout with codebook `cb` (a compaction keeps the
    * source's): the quantized searches' coarse pass reads only the baked
    * narrow columns, and the serving tiers' residency gate reads `n_rows`.
    */
  private def writeLayout(cells: DataFrame, centroids: DataFrame, path: String,
      cb: Option[Pq.PqCodebook]): Unit = {
    val nRows = IndexLayout.writeComponent(path,
      IndexLayout.Component("cells", enrichCells(cells, cb), Some("__cell"))).nRows
    val n = IndexLayout.writeComponent(path, IndexLayout.Component("centroids", centroids)).nRows
    cb.foreach(c => Pq.saveCodebook(cells.sparkSession, s"$path/pq_codebook.json", c))
    IndexLayout.writeMeta(cells.sparkSession, path, IndexLayout.AnnIvf,
      s""""n_centroids": $n, "n_rows": $nRows""")
  }

  /** Persist an [[annBuildIndex]] pair: cells land cell-partitioned (one
    * parquet partition per centroid cell, [[IndexLayout.writeComponent]]),
    * plus the centroid table and a meta file carrying the cell and row
    * counts. `pqM > 0`
    * additionally fits a PQ codebook on the cells ([[Pq.pqTrain]],
    * deterministic seeded sample) and bakes the IVF_PQ columns — the layout
    * [[annSearchIndexPq]] serves from; the codebook persists as
    * `pq_codebook.json` so appends encode new batches identically. `pqM = 0`
    * (default) writes the classic IVF_SQ8 layout unchanged.
    *
    * Incremental updates: [[annAppendIndex]] absorbs a batch against the
    * FROZEN centroids (the existing-centroids middle ground — same
    * assignment kernel, same quantizer, `_COMMITTED`-marker atomicity).
    * That keeps search ≡ rebuild-with-the-same-centroids exactly, but the
    * centroids themselves were fitted before the appended data existed, so
    * cell balance and recall degrade as the appended fraction grows
    * ([[AnnIndex.appendStaleness]] is the rebuild-cadence signal) — a full
    * rebuild refits them (centroid fit + assignment are the cheap part of
    * the build; the recall gates re-verify each epoch).
    */
  def annWriteIndex(cells: DataFrame, centroids: DataFrame, path: String,
      pqM: Int = 0, pqSampleRows: Int = 4096, pqSeed: Long = 42L): Unit = {
    val cb =
      if (pqM <= 0) None
      else Some(Pq.pqTrain(cells, "corpus_id", "cv", m = pqM,
        sampleRows = pqSampleRows, seed = pqSeed))
    writeLayout(cells, centroids, path, cb)
  }

  /** Absorb a new batch into a persisted index against its FROZEN centroids
    * as one committed batch ([[IndexLifecycle.append]]: atomic, idempotent,
    * crash-invisible): each vector is assigned to the EXISTING centroids
    * with the same 1-NN kernel the build used (bit-identical cell choice for
    * identical vectors), baked with the index's own codebook (never
    * retrained), and lands as `path/batches/<batchId>/cells`. After the
    * append, `open → search ≡ rebuild-with-the-same-centroids → search`
    * row-identically (spec + `q_ann_index_append` hash-check it).
    *
    * The centroids were fitted BEFORE this data, so recall against drifted
    * distributions degrades as [[AnnIndex.appendStaleness]] grows — appends
    * buy cheap freshness between rebuilds, not a substitute for them.
    * Return value: [[IndexLifecycle.append]].
    */
  def annAppendIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String,
      batchId: String): Boolean =
    AnnLifecycle.append(spark, path, batch, idCol, vecCol, batchId)

  /** Compact an appended index into a fresh single-layout index at
    * `dstPath`: the base cells plus every COMMITTED batch are rewritten as
    * one cell-partitioned layout with the SAME centroids (cell assignments
    * are already final; the quantizer re-derives bit-identical codes from
    * `cv`), so `open(dst) → search ≡ open(src) → search` row-for-row while
    * the per-search union fan-in drops back to one root
    * ([[IndexLifecycle.compact]]). This bounds append accumulation WITHOUT
    * refitting —
    * [[AnnIndex.appendStaleness]] still says when a true rebuild (refit) is
    * due, and a compact does not reset it: the new meta's row count is the
    * full corpus, so staleness reads 0 — record the epoch externally if the
    * distinction matters.
    */
  def annCompactIndex(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit =
    AnnLifecycle.compact(spark, srcPath, dstPath)

  /** Exact schemas of the persisted cell/centroid layouts, as
    * [[writeLayout]] / [[annAppendIndex]] write them: a known schema
    * skips the footer/schema-inference job per component read — see
    * [[Lexical.postingsReadSchema]] for the rationale. The IVF_PQ layout
    * carries two extra baked columns, keyed off the codebook file the open
    * already checks. Spec-pinned equal to inference (EngineSpec).
    */
  private[graft] def cellsReadSchema(pq: Boolean): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val base = Seq(
      StructField("corpus_id", LongType),
      StructField("cv", ArrayType(DoubleType)),
      StructField("qscale", DoubleType),
      StructField("codes", ArrayType(ByteType)),
      StructField("cn2", LongType))
    val pqCols = if (pq) Seq(
      StructField("pq", ArrayType(ByteType)),
      StructField("cn", DoubleType)) else Nil
    StructType(base ++ pqCols :+ StructField("__cell", IntegerType))
  }
  private[graft] val centroidsReadSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("centroid_id", LongType),
      StructField("centroid_vec", ArrayType(DoubleType))))
  }

  /** Open an [[annWriteIndex]] directory ([[IndexLayout.open]]): the base
    * cell layout unioned with every committed append batch, minus every
    * visible tombstone, with per-directory `__cell=` partition pruning in
    * every branch; the row estimate counts the committed batches, so the
    * serving gate and the staleness signal see the true size. Surviving
    * vectors keep their cell assignments. `pins` restricts the open to a
    * snapshot's batches and tombstones ([[Snapshots]]).
    */
  def annOpenIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      pins: Option[IndexPins] = None): AnnIndex = {
    val o = IndexLayout.open(spark, path, IndexLayout.AnnIvf, pins)
    val hasPq = o.fs.exists(new org.apache.hadoop.fs.Path(path, "pq_codebook.json"))
    val idx = AnnIndex(
      o.component("cells", cellsReadSchema(hasPq), "corpus_id"),
      IndexLayout.readComponent(spark, path, "centroids", centroidsReadSchema),
      o.meta.get("n_centroids").asInt(),
      Some(o.nRows),
      o.appendedRows,
      // absent in non-PQ layouts: annSearchIndexPq refuses, everything else
      // is unaffected
      Pq.loadCodebook(spark, s"$path/pq_codebook.json"),
      deletedRows = o.deltas.nRows)
    o.share(idx.tiers)
    idx
  }

  /** Tombstone-delete vectors from a persisted ANN index — the removal verb
    * of the lifecycle (see [[Tombstones]] for the shared protocol). Unlike
    * the frozen-centroid append there is NO recall trade: surviving vectors
    * keep their cell assignments and scores bit-for-bit, so `open → search`
    * after a delete is row-identical to a rebuild at the SAME centroids over
    * the surviving corpus (`q_ann_index_delete` hash-checks it; the top-k
    * may surface different docs simply because the deleted ones are gone —
    * that's the semantics, not an approximation). Centroids fitted over
    * since-deleted data drift from the surviving distribution the same slow
    * way append-staleness drifts — [[IndexMaintenance]]'s refit signal is
    * the repair, unchanged. Protocol and return value:
    * [[IndexLifecycle.delete]].
    */
  def annDeleteFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String, delId: String): Boolean =
    AnnLifecycle.delete(spark, path, ids, idCol, delId)

  /** The IVF lifecycle ([[IndexLifecycle]]): one cell row per vector, so a
    * delete drops as many rows as ids, and a compaction rewrites the cells
    * at the SAME centroids and codebook. Maintenance tries a centroid refit
    * first (the share of the corpus appended since the last refit, off by
    * default), then compacts on the appended share, then on the tombstoned
    * share. Every compaction carries the `rows_at_refit` watermark; a refit
    * resets it to the corpus it fitted.
    */
  object AnnLifecycle extends IndexLifecycle("ann", "corpus_id", IndexLayout.AnnIvf) {
    type Index = AnnIndex

    def open(spark: org.apache.spark.sql.SparkSession, path: String, pins: Option[IndexPins]) =
      annOpenIndex(spark, path, pins)

    // the frozen centroids and codebook are read on their own: an open
    // would also read the tombstones, which an append never needs
    protected def batchRows(spark: org.apache.spark.sql.SparkSession, path: String,
        meta: com.fasterxml.jackson.databind.JsonNode, batch: DataFrame,
        idCol: String, vecCol: String): IndexLifecycle.BatchRows = {
      val assign = SemanticJoin.knnJoinVec(
        batch, idCol, vecCol,
        IndexLayout.readComponent(spark, path, "centroids", centroidsReadSchema),
        "centroid_id", "centroid_vec", k = 1, skipSizeCheck = true)
        .select(col("left_id").as("corpus_id"), col("right_id").as("__cell"))
      val cells = batch
        .select(col(idCol).cast("long").as("corpus_id"), asDouble(col(vecCol)).as("cv"))
        .join(assign, "corpus_id")
      val cb = Pq.loadCodebook(spark, s"$path/pq_codebook.json")
      IndexLifecycle.BatchRows(Seq(
        IndexLayout.Component("cells", enrichCells(cells, cb), Some("__cell"))))
    }

    protected def members(index: AnnIndex): DataFrame = index.cells

    // one cell row per vector
    protected def doomed(index: AnnIndex, found: DataFrame): IndexLifecycle.Doomed =
      IndexLifecycle.Doomed(found.select(col("corpus_id").as("id")),
        w => Tombstones.Deltas(nIds = w.nRows, nRows = w.nRows))

    // the source codebook passes through unchanged (retraining would change
    // every code): compacted searches stay row-identical to the source's
    protected def compactInto(index: AnnIndex, dst: String): Unit =
      writeLayout(index.cells.select(col("corpus_id"), col("cv"), col("__cell")),
        index.centroids, dst, index.pqCodebook)

    private[operators] def signals(spark: org.apache.spark.sql.SparkSession, idx: AnnIndex,
        src: String, policy: IndexMaintenance.Policy): Seq[IndexLifecycle.Signal] = {
      import org.apache.hadoop.fs.Path
      val fs = new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val refitMeta = "refit_meta.json"
      def writeRefitMeta(dst: String, rows: Long): Unit = IndexLayout.writeJson(fs,
        new Path(dst, refitMeta), s"""{"rows_at_refit": $rows}""", overwrite = true)
      // corpus rows as of the last centroid refit, carried across
      // compactions so the refit signal measures drift since the centroids
      // were FITTED, not since the last fold; a generation written by a
      // build or a refit has no file: base rows = meta rows − appended
      val baseRows =
        if (fs.exists(new Path(src, refitMeta)))
          Some(IndexLayout.readJson(fs, new Path(src, refitMeta)).get("rows_at_refit").asLong())
        else idx.nRows.map(_ - idx.appendedRows)
      val sinceRefit = (for (n <- idx.nRows; b <- baseRows; if n > 0)
        yield 1.0 - b.toDouble / n).getOrElse(0.0)
      // true rebuild: refit centroids (and the PQ codebook, if any) on the
      // grown corpus — the one action that repairs recall drift. The opened
      // cells already exclude tombstones, so the refit fits the SURVIVING
      // corpus and applies deletes physically.
      def refit(dst: String): Unit = {
        val corpus = idx.cells.select(col("corpus_id"), col("cv"))
        val (cells, cents) = annBuildIndex(corpus, "corpus_id", "cv",
          nCentroids = idx.nCentroids)
        annWriteIndex(cells, cents, dst, pqM = idx.pqCodebook.map(_.m).getOrElse(0))
        IndexLayout.carryLedgers(spark, src, dst)
        // the watermark is the corpus the centroids were FITTED on: nRows is
        // a scan estimate that still counts tombstoned rows, but the refit
        // trained on the excluded frame — record survivors only
        writeRefitMeta(dst, idx.nRows.getOrElse(0L) - idx.deletedRows)
      }
      // compaction folds batches but does NOT refit: the rows-at-refit
      // watermark carries so the refit signal keeps accumulating
      def compact(dst: String): Unit = {
        this.compact(spark, idx, src, dst)
        baseRows.foreach(writeRefitMeta(dst, _))
      }
      Seq(
        IndexLifecycle.Signal("stalenessSinceRefit", sinceRefit,
          policy.annRefitStaleness, "refit", refit),
        IndexLifecycle.Signal("appendFraction", idx.appendStaleness,
          policy.annMaxAppendFraction, "compact", compact),
        IndexLifecycle.Signal("deleteFraction", idx.deleteFraction,
          policy.maxDeleteFraction, "compact", compact))
    }
  }

  /** A FILTERED view of a persisted index — the vector-DB "filtered search"
    * primitive (top-k under a metadata predicate: language = 'en', licensed
    * = true, tenant = X): searches through the view see only `allowed` ids.
    * The filter is a left-semi join applied BELOW the scoring kernels, so
    * only surviving vectors are ever scored (AQE broadcasts the allow-list
    * while it fits; at allow-lists of corpus scale it degrades to a shuffle
    * semi-join, never a driver materialization) and `__cell` partition
    * pruning is untouched. All three search paths (exact, int8, PQ) accept
    * the view unchanged.
    *
    * Semantics are POST-FILTER ANN, exact within the probed cells: with
    * `nProbe = nCentroids` the result is exactly the brute-force top-k over
    * the allowed set (`q_ann_filtered` hash-checks that against an
    * independent oracle); at lower nProbe the usual selective-filter caveat
    * applies — a highly selective filter empties probed cells, so raise
    * nProbe with selectivity (the candidate pool is per-cell, not global).
    *
    * The view is cheap to build (no data moves) but collects its centroid
    * matrix lazily on first search — REUSE one view across a query stream
    * rather than rebuilding it per search. A PINNED index with a
    * driver-sized allow-list ([[Regime.MaxDriverAllowIds]], collected
    * once per view) serves filtered searches from the base index's mirrors
    * (the driver mirror at zero jobs, or the partitioned tier over the
    * resident bound) — candidate ids filtered in the scoring folds; any
    * other view keeps the distributed semi-join plan.
    */
  def annFilteredView(index: AnnIndex, allowed: DataFrame, idCol: String): AnnIndex =
    index.tiers.view(allowed, idCol)(a => index.copy(allowed = a))(_.tiers)

  /** A view's candidate restriction on the distributed plans: a `left_semi`
    * on `corpus_id` keeping every cell column. No-op without a view; AQE
    * broadcasts a small allow side.
    */
  private def allowRestrict(df: DataFrame, allowed: Option[DataFrame]): DataFrame =
    allowed match {
      case Some(ids) => df.join(ids, df("corpus_id") === ids("__allow_id"), "left_semi")
      case None => df
    }

  /** Count of searches that took the join-based (over-bound) restriction —
    * observable so the guard spec can assert which path ran, the
    * [[graft.embed.LinearModel.initCount]] move.
    */
  private[graft] val joinRestrictionSearches = new java.util.concurrent.atomic.AtomicLong

  /** LocalProbes' exploded rows regrouped per query (probe order preserved;
    * TopK selection is order-invariant anyway) — the [[Resident]] search
    * input shape.
    */
  private def groupProbes(lp: LocalProbes): Seq[(Long, Array[Double], Double, Seq[Long])] =
    lp.exploded.groupBy(_._1).toSeq.map { case (qid, es) =>
      (qid, es.head._2, es.head._3, es.map(_._4))
    }

  private sealed trait ProbeResult { def restrict: DataFrame => DataFrame }
  private final case class LocalProbes(
      qRows: Array[(Long, Array[Double])],
      exploded: Seq[(Long, Array[Double], Double, Long)],
      restrict: DataFrame => DataFrame) extends ProbeResult
  private final case class DistProbes(
      probes: DataFrame, restrict: DataFrame => DataFrame) extends ProbeResult

  /** Pinned serving ([[Resident.Tiers.serve]]): with the probes
    * driver-known, the same fold serves from the driver mirror under the
    * resident bound (zero jobs) or the partitioned tier over it (one job),
    * spec-pinned bit-identical to the plans. None: the distributed plan
    * serves.
    */
  private def serveTiers(index: AnnIndex, pr: ProbeResult, k: Int,
      scoring: Resident.AnnScoring): Option[DataFrame] = pr match {
    case lp: LocalProbes => Resident.serveAnn(index.tiers, groupProbes(lp), k, scoring)
    case _ => None
  }

  /** Probe assignment + cell restriction of [[searchIndex]]. Both regimes
    * are row-identical by construction (the guard spec differential-tests
    * them); only the physical shape differs:
    *
    *  - [[LocalProbes]] (under the bound): the query vectors live on the
    *    driver, probes were computed against the cached centroid matrix
    *    with the SAME dot/cosine/TopKBuffer kernels as the distributed scan
    *    (bit-equal assignments), and `exploded` carries the fused
    *    `(query_id, vec, norm, cell)` rows — callers build the scoring
    *    input as ONE LocalRelation, with no probe broadcast and no
    *    query-probe join in the plan (the serving regime's job-count lever).
    *  - [[DistProbes]] (over the bound): nothing touches the driver; the
    *    probe frame stays distributed and the restriction is a broadcast
    *    semi-join.
    */
  private def probeAndPrune(
      index: AnnIndex, queries: DataFrame, qId: String, qVec: String,
      nProbe: Int): ProbeResult = {
    val spark = queries.sparkSession
    import spark.implicits._
    // the under-bound path collects the query VECTORS (bound/nProbe rows) in
    // one limited action and decides the regime from whether the limit
    // truncated — no separate count job. A search that trips into the
    // over-bound regime pays one discarded limited collect — once per
    // regime boundary, not per search.
    val boundQ = Regime.MaxProbeRows.rows(spark, per = nProbe)
    // no coalesce(1) here (unlike the bm25 sibling): this projection has no
    // generator, so a LocalRelation query side folds through
    // ConvertToLocalRelation and the collect is a ZERO-job driver-side
    // executeTake — coalescing would force a real one-task job on exactly
    // the serving path this regime exists for
    val qRows = queries.select(col(qId).cast("long"), asDouble(col(qVec)))
      .limit(boundQ + 1).as[(Long, Array[Double])].collect()
    import org.apache.spark.sql.types.IntegerType
    if (qRows.length <= boundQ) {
      val m = index.centroidMat
      val buf = new graft.functions.TopKBuffer(nProbe)
      val out = new Array[Double](m.size)
      val exploded = qRows.toSeq.flatMap { case (lid, lv) =>
        VecScan.topK(lid, lv, m, excludeSelf = false, buf, out)
        val ln = math.sqrt(VecScan.dot(lv, lv))
        (0 until buf.n).map(r => (lid, lv, ln, buf.ids(r)))
      }
      val wantedCells = exploded.map(_._4).distinct
      // literal type must MATCH the partition column's inferred type (parquet
      // partition dirs with small values read back as int): a long literal
      // against an int column would cast the COLUMN and silently defeat
      // partition pruning — the property the layout exists for
      val cellLits: Seq[Any] = index.cells.schema("__cell").dataType match {
        case IntegerType => wantedCells.map(_.toInt)
        case _ => wantedCells
      }
      LocalProbes(qRows, exploded, cells => cells.filter(col("__cell").isin(cellLits: _*)))
    } else {
      joinRestrictionSearches.incrementAndGet()
      val probesPlan = SemanticJoin.knnJoinVec(
        queries, qId, qVec,
        index.centroids, "centroid_id", "centroid_vec", k = nProbe, skipSizeCheck = true)
        .select(col("left_id").as("query_id"), col("right_id").as("__cell"))
      // pin the probe assignment: the restriction below and the scoring join
      // both consume it, and re-running the centroid 1-NN per consumer would
      // double the probe cost
      val probes = probesPlan.localCheckpoint(true)
      val cellType = index.cells.schema("__cell").dataType
      val wanted = probes.select(col("__cell").cast(cellType).as("__cell")).distinct()
      DistProbes(probes, cells => cells.join(broadcast(wanted), Seq("__cell"), "left_semi"))
    }
  }

  /** Search a persisted index with cell pruning: queries probe their
    * `nProbe` nearest centroids (broadcast 1-NN against the ≤nCentroids
    * centroid table), the probe set restricts the cell scan (static parquet
    * partition pruning under [[Regime.MaxProbeRows]], a broadcast semi-join
    * above it — see [[probeAndPrune]]), and only the probed cells are
    * scored. Output contract = [[ivfTopK]] (bit-identical scores for the
    * same build parameters: same quantizer, same assignment, same cosine
    * expression).
    */
  def annSearchIndex(
      index: AnnIndex, queries: DataFrame, qId: String, qVec: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"k/nProbe must be >= 1, got $k/$nProbe")
    searchIndex(index, queries, qId, qVec, k, nProbe, Resident.FloatScoring)
  }

  /** IVF_SQ8 search of a persisted index: same cell pruning as
    * [[annSearchIndex]]; the int8 codes coarse-score the probed cells and
    * only the top `rerankFactor·k` candidates per query are re-scored with
    * the exact double cosine. The plan's coarse scan reads ONLY
    * `codes`/`cn2` (parquet column pruning keeps the 8-byte-per-lane `cv`
    * out of the coarse read, ~8x less IO) and a rerank JOIN pulls `cv` back
    * for the candidates; a pinned index serves from its mirrors instead
    * (see [[serveTiers]]).
    *
    * Output contract = [[annSearchIndex]]; `score` is the exact cosine
    * (bit-identical on every kept pair — only the candidate set is
    * approximate, which `q_ann_index_int8_recall` gates).
    */
  def annSearchIndexInt8(
      index: AnnIndex, queries: DataFrame, qId: String, qVec: String,
      k: Int, nProbe: Int = 4, rerankFactor: Int = 4): DataFrame = {
    require(k >= 1 && nProbe >= 1 && rerankFactor >= 1,
      s"k/nProbe/rerankFactor must be >= 1, got $k/$nProbe/$rerankFactor")
    require(index.cells.columns.contains("codes"),
      "index has no int8 codes — rebuild with annWriteIndex (IVF_SQ8 layout)")
    searchIndex(index, queries, qId, qVec, k, nProbe, Resident.Int8Scoring(rerankFactor))
  }

  /** IVF_PQ search of a persisted index written with `annWriteIndex(pqM >
    * 0)`: the same cell pruning as [[annSearchIndex]], an ADC coarse pass
    * over ONLY the `pq` (m bytes) and `cn` (8 bytes) columns — the
    * narrowest scan any search here makes, ~m+8 bytes of IO per candidate
    * against SQ8's dim+8 and the float path's 8·dim — and an exact-cosine
    * rerank of the top `rerankFactor·k` per query. Output contract =
    * [[annSearchIndex]]; `score` is the exact cosine on every kept pair,
    * so only the candidate set is approximate (`q_ann_index_pq_recall`
    * gates it). Per query the plan builds one m·ks ADC lookup table; each
    * candidate then costs m table lookups, zero multiplies. A pinned index
    * serves from its mirrors instead, ADC + rerank as the same arithmetic
    * over the mirrored codes (see [[serveTiers]]).
    */
  def annSearchIndexPq(
      index: AnnIndex, queries: DataFrame, qId: String, qVec: String,
      k: Int, nProbe: Int = 4, rerankFactor: Int = 10): DataFrame = {
    require(k >= 1 && nProbe >= 1 && rerankFactor >= 1,
      s"k/nProbe/rerankFactor must be >= 1, got $k/$nProbe/$rerankFactor")
    val cb = index.pqCodebook.getOrElse(throw new IllegalArgumentException(
      "index has no PQ codebook — rebuild with annWriteIndex(pqM = ...) (IVF_PQ layout)"))
    searchIndex(index, queries, qId, qVec, k, nProbe, Resident.PqScoring(cb, rerankFactor))
  }

  /** The body of the three index searches: probes ([[probeAndPrune]]),
    * then the pinned tiers ([[serveTiers]]) or the plan. The plan joins the
    * probe rows to the probed cells on `__cell` and scores each pair with
    * `scoring` ([[Resident.AnnScoring]]), reading only its cell columns.
    * Float scores are exact and ranked directly; a quantized scoring keeps
    * its pool per query and the exact rerank tail ([[rerankTopK]]) scores
    * that pool against `cv`.
    */
  private def searchIndex(
      index: AnnIndex, queries: DataFrame, qId: String, qVec: String,
      k: Int, nProbe: Int, scoring: Resident.AnnScoring): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val pr = probeAndPrune(index, queries, qId, qVec, nProbe)
    serveTiers(index, pr, k, scoring).getOrElse {
      // the local regime reuses the collected query rows; its probe rows
      // are ONE LocalRelation with the driver-side norms (the same
      // sequential-fold kernel the Catalyst norm lowers to, bit-identical),
      // so the plan has no probe broadcast and no query-probe join. The
      // explicit broadcast() pins the BUILD side to it (one materialization
      // job; the cell scan is big enough to want the parallelism)
      lazy val qRows = pr match {
        case lp: LocalProbes => lp.qRows.toSeq.toDF("query_id", "__qv")
          .withColumn("__qn", norm(col("__qv")))
        case _: DistProbes => queryRows(queries, qId, qVec)
      }
      val probeRows = pr match {
        case lp: LocalProbes =>
          broadcast(scoring.prep(lp.exploded.toDF("query_id", "__qv", "__qn", "__cell")))
        case DistProbes(probes, _) => scoring.prep(qRows).join(probes, "query_id")
      }
      // the scan reads the scoring's cell columns only (a quantized coarse
      // scan never reads cv); a view's allow semi-join sits on it, so
      // disallowed vectors never form candidates
      val cells = allowRestrict(pr.restrict(index.cells), index.allowed)
        .select(col("corpus_id") +: col("__cell") +: scoring.cellCols: _*)
      val scored = probeRows.join(cells, Seq("__cell"))
        .select(col("query_id"), col("corpus_id"), scoring.score.as("__score"))
      scoring match {
        case Resident.FloatScoring => rankedTopK(scored, k)
        case q: Resident.Quantized =>
          val pool = scored.groupBy(col("query_id"))
            .agg(graft.functions.VecExpressions
              .topK(q.pool(k), col("__score"), col("corpus_id")).as("__top"))
            .select(col("query_id"), explode(col("__top.id")).as("corpus_id"))
          // the rerank join fetches vectors for already-filtered candidates
          rerankTopK(pool, qRows, pr.restrict(index.cells).select(col("corpus_id"), col("cv")), k)
      }
    }
  }

  /** `(query_id, __qv, __qn)`: each query's id, vector and norm. */
  private def queryRows(queries: DataFrame, qId: String, qVec: String): DataFrame = queries
    .select(col(qId).cast("long").as("query_id"), asDouble(col(qVec)).as("__qv"))
    .withColumn("__qn", norm(col("__qv")))

  /** Per-query exact-cosine top-k of `(query_id, corpus_id, __score)` rows
    * in the `(left_id, right_id, score, rank)` output contract.
    */
  private def rankedTopK(scored: DataFrame, k: Int): DataFrame = scored
    .groupBy(col("query_id"))
    .agg(graft.functions.VecExpressions.topK(k, col("__score"), col("corpus_id")).as("__top"))
    .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__s")))
    .select(
      col("query_id").as("left_id"),
      col("__s.id").as("right_id"),
      col("__s.score").as("score"),
      (col("__pos") + 1).cast("int").as("rank"))

  /** The exact rerank of a quantized pool: `(query_id, corpus_id)`
    * candidates join their query rows ([[queryRows]]) and their
    * `(corpus_id, cv)` vectors, and the exact float cosine ranks them — the
    * pairs are few (≤ pool per query), so the per-row norms cost nothing.
    */
  private def rerankTopK(candidates: DataFrame, qRows: DataFrame, vecs: DataFrame,
      k: Int): DataFrame =
    rankedTopK(candidates.join(qRows, "query_id")
      .join(vecs.select(col("corpus_id") +: Resident.FloatScoring.cellCols: _*), "corpus_id")
      .select(col("query_id"), col("corpus_id"), Resident.FloatScoring.score.as("__score")), k)

  /** A quantized top-k over a whole corpus, no index
    * ([[Quantize.quantizedTopK]], [[Pq.pqTopK]]): the corpus is baked
    * in-plan ([[Resident.Quantized.bake]]) and its code matrix collected in
    * the one job that sizes it ([[VecScan.collectIfFits]], each row charged
    * its id, code and norm bytes) under [[Regime.MaxBroadcastBytes]]
    * (unbounded with `skipSizeCheck`; over the bound, `overBound(bound)` is
    * the error), then broadcast. The coarse stage is a mapPartitions scan
    * over the query rows — the [[VecScan.knn]] shape — that prepares each
    * query once ([[Resident.Quantized.coarse]]) and keeps its
    * `scoring.pool(k)` best candidates; the exact rerank tail
    * ([[rerankTopK]]) scores them. Not the declarative
    * `crossJoin(broadcast(codes))`: whole-stage codegen defers stream-side
    * projections into a nested-loop join's inner loop, so the per-query prep
    * (a quantize, or a PQ lookup table of m·ks doubles) would run once per
    * PAIR — a measured 40x wall for the PQ table at the bench scale.
    */
  private[operators] def scanTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, scoring: Resident.Quantized, excludeSelf: Boolean, skipSizeCheck: Boolean,
      overBound: Long => String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bound = if (skipSizeCheck) Long.MaxValue else Regime.MaxBroadcastBytes(spark)
    val vecs = corpus.select(col(cId).cast("long").as("corpus_id"), asDouble(col(cVec)).as("cv"))
    // a null id or vector has no code and matches nothing
    val codeRows = scoring.bake(vecs.filter(col("corpus_id").isNotNull && col("cv").isNotNull))
      .select(col("corpus_id"), col(scoring.codesCol), col(scoring.normCol).cast("double"))
    val rows = VecScan.collectIfFits(codeRows, bound)(r => 16L + r.getArray(1).numElements(),
      r => (r.getLong(0), r.getArray(1).toByteArray(), r.getDouble(2)))
      .getOrElse(throw new IllegalArgumentException(overBound(bound)))
    val matB = spark.sparkContext.broadcast(
      (rows.map(_._1), new Resident.Codes(rows.map(_._2), rows.map(_._3))))
    val poolK = scoring.pool(k)
    val candidates = queries
      .select(col(qId).cast("long"), asDouble(col(qVec)))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (ids, mat) = matB.value
        it.flatMap { case (qid, qv) =>
          if (qv == null) Iterator.empty // a null query vector matches nothing
          else {
            val coarse = scoring.coarse(qv, math.sqrt(VecScan.dot(qv, qv)))
            val buf = new graft.functions.TopKBuffer(poolK)
            var j = 0
            while (j < ids.length) {
              if (!(excludeSelf && ids(j) == qid)) buf.insert(coarse(mat.codes(j), mat.norms(j)), ids(j))
              j += 1
            }
            Iterator.tabulate(buf.n)(r => (qid, buf.ids(r)))
          }
        }
      }
      .toDF("query_id", "corpus_id")
    rerankTopK(candidates, queryRows(queries, qId, qVec), vecs, k)
  }

  /** IVF top-k: returns (left_id, right_id, score, rank) like the exact join.
    *
    * Both the corpus→centroid assignment and the query→probe-list expansion are
    * broadcast nested-loop joins against the (small) centroid table followed by
    * partial-agg top-k — no all-pairs shuffle; the candidate scoring join is an
    * equi-join on centroid_id.
    */
  def ivfTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, nCentroids: Int = 16, nProbe: Int = 4, seed: Long = 42L,
      refineRounds: Int = 1, refineFraction: Double = 1.0): DataFrame = {
    val cents0 = centroids(corpus, cId, cVec, nCentroids, seed)
    // pin the centroid table: both knnJoinVec collects below would otherwise
    // re-run the corpus top-n scan (refineCentroids already ends checkpointed)
    val cents =
      if (refineRounds <= 0) cents0.localCheckpoint(true)
      else refineCentroids(corpus, cId, cVec, cents0, refineRounds, refineFraction, seed)

    // corpus → nearest centroid (exact 1-NN against the tiny centroid table;
    // skipSizeCheck: the table is ≤nCentroids rows by construction, so it
    // is collected without the broadcast bound)
    val assign = SemanticJoin.knnJoinVec(
      corpus, cId, cVec,
      cents, "centroid_id", "centroid_vec", k = 1, skipSizeCheck = true)
      .select(col("left_id").as("corpus_id"), col("right_id").as("centroid_id"))
    val corpusByList = corpus
      .select(col(cId).cast("long").as("corpus_id"), asDouble(col(cVec)).as("cv"))
      .join(assign, "corpus_id")

    // query → nProbe nearest centroids
    val probes = SemanticJoin.knnJoinVec(
      queries, qId, qVec,
      cents, "centroid_id", "centroid_vec", k = nProbe, skipSizeCheck = true)
      .select(col("left_id").as("query_id"), col("right_id").as("centroid_id"))
    val queriesExp = queries
      .select(col(qId).cast("long").as("query_id"), asDouble(col(qVec)).as("qv"))
      .withColumn("__qn", norm(col("qv"))) // once per query, before probe fan-out
      .join(probes, "query_id")

    // score only candidates sharing a probed list; then global top-k per query
    // (norms hoisted to per-row columns before the candidate join)
    val scored = queriesExp
      .join(corpusByList.withColumn("__cn", norm(col("cv"))), Seq("centroid_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineWithNorms(dot(col("qv"), col("cv")), col("__qn"), col("__cn")).as("__score"))
    rankedTopK(scored, k)
  }
}
