package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress harness: multiplies the bench tables 10-50x IN-PLAN (salted
  * ids via a broadcast replica cross join — no synthetic files, no driver
  * materialization) and runs the flagship kernels over the result, so the
  * bench exercises the shapes the 100 TB posture argues by construction:
  * the broadcast kNN scan, the shuffled crossJoin+top-k fallback, LSH
  * candidate generation, the BM25 semi-join-before-aggregate plan, and the
  * ε-graph clustering path, at millions of rows/pairs instead of thousands.
  *
  * Every leg returns a SMALL deterministic summary (counts, extrema,
  * low-precision means), not the blown-up relation: the stress queries are
  * rows-only CORRECTNESS entries (their value semantics are hash-checked by
  * the operators' base queries at 1x), and a bench iteration must measure
  * the operator, not a giant result write.
  */
object Stress {

  /** `m` salted replicas of every row: id' = id·m + rep, so replica ids stay
    * disjoint and dense. The replica range rides a broadcast nested-loop
    * join (no shuffle of the base table); the base is repartitioned FIRST so
    * the multiply inherits real scan parallelism — bench-scale parquet is a
    * single 1 MB split, and a 50x multiply inside one task would serialize
    * the whole leg on one core (the opposite of the 100 TB shape, where the
    * input arrives in thousands of splits).
    */
  def multiplied(df: DataFrame, idCol: String, m: Int, parallelism: Int = 32): DataFrame = {
    require(m >= 1, s"multiplier must be >= 1, got $m")
    val reps = df.sparkSession.range(m).toDF("__rep")
    df.repartition(parallelism)
      .crossJoin(broadcast(reps))
      .withColumn(idCol, col(idCol).cast("long") * m + col("__rep"))
      .drop("__rep")
  }

  /** Broadcast kNN at `m`x left rows through the Catalyst exec
    * ([[graft.plans.SemanticTopKJoinExec]]): left streams, right broadcasts
    * once, zero shuffle until the 5-row summary aggregate. Summary: per-rank
    * row counts plus exact score extrema (doubles rounded coarsely — the
    * only order-sensitive reduction is the sum behind avg, rounded to 3).
    */
  def knnBroadcastSummary(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int = 5): DataFrame = {
    val left = multiplied(emb.select(col(idCol), col(vecCol)), idCol, m)
    graft.plans.GraftPlans.knnJoin(left, idCol, vecCol, emb, idCol, vecCol, k = k)
      .groupBy(col("rank"))
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"),
        round(avg(col("score")), 3).as("avg_score"))
      .orderBy(col("rank"))
  }

  /** The same kNN at `m`x left rows FORCED onto the shuffled
    * crossJoin + partial-agg top-k fallback (the over-broadcast-bound path,
    * [[Regime.MaxBroadcastBytes]] at 0): every candidate pair becomes a
    * row, the bounded TopKAggregate prunes map-side, ≤k rows per left key
    * shuffle.
    */
  def knnShuffleSummary(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int = 5): DataFrame = {
    val left = multiplied(emb.select(col(idCol), col(vecCol)), idCol, m)
    Regime.forcing(emb.sparkSession, Regime.MaxBroadcastBytes, 0L)(
      SemanticJoin.knnJoinVec(left, idCol, vecCol, emb, idCol, vecCol, k = k))
      .groupBy(col("rank"))
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"),
        round(avg(col("score")), 3).as("avg_score"))
      .orderBy(col("rank"))
  }

  /** MinHash+LSH dedup over an `m`x corpus whose replicas get a per-replica
    * text suffix — a realistic near-dup mix (replicas of a doc share almost
    * every shingle but are not byte-identical), so band buckets, the
    * candidate equi-join, exact-Jaccard verification, and connected
    * components all run at the multiplied scale. Summary: cluster census.
    */
  def minhashSummary(docs: DataFrame, idCol: String, textCol: String, m: Int): DataFrame = {
    val big = multiplied(docs.select(col(idCol), col(textCol)), idCol, m)
      .withColumn(textCol,
        concat(col(textCol), lit(" rep"), pmod(col(idCol), lit(m.toLong))))
    Dedup.minhashLsh(big, idCol, textCol)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("cluster")).as("n_clusters"),
        sum(when(col("cluster") =!= col("id"), 1L).otherwise(0L)).as("n_dups"))
  }

  /** Exact n-gram Jaccard near-dup over the same `m`x suffixed-replica mix as
    * [[minhashSummary]]: the inverted-index candidate join, the count-algebra
    * scoring, the upper-bound prune, and the survivor verify all run at the
    * multiplied scale. Summary: qualifying-pair census + score extrema (the
    * only order-sensitive reduction — the avg's sum — rounded to 3).
    *
    * Shingles once on the BASE table, before the multiply (checkpointing
    * the multiplied corpus pinned m copies of every shingle array — 5.9s
    * of GC under a 4.8s wall). Appending the one replica token
    * to a text with >= 3 tokens adds exactly one tail shingle
    * `"t_{n-1} t_n rep<r>"` to an otherwise-identical shingle set, so the
    * replica arrays are built in-plan from the pinned 1x arrays by one
    * array concat — no re-tokenize, no m x materialization. Texts shorter
    * than 3 tokens (where the whole-text shingle itself changes) fall back
    * to really shingling the suffixed text, keeping the census bit-identical
    * to the naive shape on any input.
    */
  def jaccardSummary(docs: DataFrame, idCol: String, textCol: String,
      m: Int, threshold: Double = 0.5, maxShingleDf: Int = 200): DataFrame = {
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val baseSh = docs.select(
        col(idCol).cast("long").as("id"),
        array_distinct(TextAnalysis.wordShingles(col(textCol), 3)).as("__bsh"),
        concat_ws(" ", slice(toks, -2, 2)).as("__tail2"),
        size(toks).as("__ntok"),
        col(textCol).as("__text"))
      .localCheckpoint(true)
    val rep = pmod(col("id"), lit(m.toLong)).cast("string")
    val sh = when(col("__ntok") >= 3,
        array_distinct(concat(col("__bsh"),
          array(concat_ws(" ", col("__tail2"), concat(lit("rep"), rep))))))
      .otherwise(array_distinct(TextAnalysis.wordShingles(
        concat(col("__text"), lit(" rep"), rep), 3)))
    val shingled = multiplied(baseSh, "id", m).select(col("id"), sh.as("sh"))
    Dedup.ngramJaccardPairsFromShingles(shingled,
        threshold = threshold, maxShingleDf = maxShingleDf)
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("jaccard")), 6).as("min_jaccard"),
        round(max(col("jaccard")), 6).as("max_jaccard"),
        round(avg(col("jaccard")), 3).as("avg_jaccard"))
  }

  /** SymSpell fuzzy pairs over `m`x rows whose replicas get a one-character
    * suffix (the appended digit `id mod m`, so same-base replicas sit at
    * edit distance exactly 1 from each other) — the family's real scale risk
    * is the deletion-posting blow-up at maxDist=2 (~L²/2 variants per
    * string), so the leg runs the full posting build, the xxhash64 variant
    * equi-join, and the banded verify at the multiplied posting count.
    * Summary: qualifying-pair census + per-distance histogram.
    */
  def fuzzySummary(df: DataFrame, idCol: String, strCol: String,
      m: Int, maxDist: Int = 2): DataFrame = {
    require(m <= 10, s"replica suffix is one digit, so m must be <= 10, got $m")
    val big = multiplied(df.select(col(idCol), col(strCol)), idCol, m)
      .withColumn(strCol, concat(col(strCol), pmod(col(idCol), lit(m.toLong))))
    Fuzzy.fuzzyPairs(big, idCol, strCol, maxDist)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_d0"),
        sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n_d1"),
        sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n_d2"))
  }

  /** SemDeDup centroid-blocked dedup at `m`x vectors: exact replicas land in
    * the same centroid cell by construction (identical assignment scores,
    * identical tie-break), so centroid broadcast, the per-id argmax window,
    * the within-cell pair join, and connected components all run at the
    * multiplied cell sizes — Σ|cell|² is the quantity the blocking exists to
    * bound, and the multiplier scales it quadratically. Summary: cluster
    * census (replicas of a base must collapse; representatives = clusters).
    */
  def semanticDedupSummary(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, tau: Double = 0.95, nCentroids: Int = 64): DataFrame = {
    val pts = multiplied(emb.select(col(idCol), col(vecCol)), idCol, m)
    Dedup.semanticDedup(pts, idCol, vecCol, tau = tau, nCentroids = nCentroids)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("cluster")).as("n_clusters"),
        sum(when(!col("is_representative"), 1L).otherwise(0L)).as("n_dups"))
  }

  /** The Catalyst range join ([[graft.plans.SemanticRangeJoinExec]]) at `m`x
    * left rows: left streams against the broadcast right with the in-scan
    * left-outer null extension, zero shuffle until the summary aggregate —
    * the same posture proof as [[knnBroadcastSummary]] for the θ-join
    * sibling. The right side keeps only `rightFrac` of the base rows so a
    * deterministic slice of the multiplied left exercises the null-extension
    * path at scale. Summary: matched/unmatched census + score extrema.
    */
  def rangeSummary(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, tau: Double = 0.95, rightFrac: Double = 0.8): DataFrame = {
    val left = multiplied(emb.select(col(idCol), col(vecCol)), idCol, m)
    val right = emb.select(col(idCol), col(vecCol))
      .filter(pmod(col(idCol), lit(10)) < lit((rightFrac * 10).toInt))
    graft.plans.GraftPlans.rangeJoin(left, idCol, vecCol, right, idCol, vecCol,
        tau = tau, excludeSelf = false, keepUnmatched = true)
      .agg(count(lit(1)).as("n_rows"),
        count(col("right_id")).as("n_matched"),
        sum(when(col("right_id").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"))
  }

  /** Int8 quantized search ([[Quantize.quantizedTopK]]) at `m`x query rows:
    * the corpus codes broadcast ONCE (1 byte/lane — the leg's point is that
    * the broadcast stays small while the streamed side grows), every
    * multiplied query runs the integer coarse scan, and only the
    * rerankFactor·k candidate pool per query reaches the exact rerank.
    * Replica queries share their base's vector, so the census is the base
    * census at m x counts — deterministic end to end (integer coarse
    * arithmetic, exact rerank). Summary: per-rank census + score extrema.
    */
  def int8Summary(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int = 5, rerankFactor: Int = 4): DataFrame = {
    val left = multiplied(emb.select(col(idCol), col(vecCol)), idCol, m)
    Quantize.quantizedTopK(left, idCol, vecCol, emb, idCol, vecCol,
        k = k, rerankFactor = rerankFactor)
      .groupBy(col("rank"))
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"),
        round(avg(col("score")), 3).as("avg_score"))
      .orderBy(col("rank"))
  }

  /** Persisted-ANN search at `m`x query rows — the serving regime where the
    * query batch is itself corpus-sized, which is exactly the case the probe
    * guard ([[Regime.MaxProbeRows]]) exists for: the multiplied batch exceeds
    * the forced bound, so the search runs the JOIN-based cell restriction
    * (probe assignment stays distributed, cell restriction is the broadcast
    * semi-join on `__cell`, zero driver materialization) rather than the
    * collected-probe isin path the 100-query base leg times. Replica queries
    * share their base's vector, so the census is the base census at `m`x
    * counts — deterministic end to end; value semantics gated by hash-green
    * `q_ann_index_recall` (+ the guard spec's path parity). Summary:
    * per-rank census + score extrema.
    */
  def annSearchSummary(index: Ann.AnnIndex, emb: DataFrame,
      idCol: String, vecCol: String, m: Int, k: Int = 5, nProbe: Int = 8): DataFrame = {
    val queries = multiplied(emb.select(col(idCol), col(vecCol)), idCol, m)
    // force the over-bound (join) path
    Regime.forcing(emb.sparkSession, Regime.MaxProbeRows, 1L)(
      Ann.annSearchIndex(index, queries, idCol, vecCol, k = k, nProbe = nProbe))
      .groupBy(col("rank"))
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"),
        round(avg(col("score")), 3).as("avg_score"))
      .orderBy(col("rank"))
  }

  /** DSIR weighting at `m`x corpus rows (replicas get a one-token suffix so
    * texts differ but the vocabulary barely grows): the explode → bucket
    * count aggregates, the broadcast log-ratio join, and the per-doc
    * ordered-sum fold all run at the multiplied token count. Replica
    * weights equal their base's weight plus the replica token's bucket
    * contribution, so the census is deterministic. Summary: selected-set
    * size + weight extrema.
    */
  def dsirSummary(docs: DataFrame, idCol: String, textCol: String,
      m: Int, targetMod: Int = 10, n: Int = 200, buckets: Int = 1024): DataFrame = {
    val big = multiplied(docs.select(col(idCol), col(textCol)), idCol, m)
      .withColumn(textCol,
        concat(col(textCol), lit(" rep"), pmod(col(idCol), lit(m.toLong))))
    val target = big.filter(pmod(col(idCol), lit(targetMod.toLong)) === 0)
    val w = Dsir.importanceWeights(big, idCol, textCol, target, textCol, buckets = buckets)
    Dsir.resampleTop(w, idCol, n, gumbel = true)
      .agg(count(lit(1)).as("n_selected"),
        round(min(col("weight")), 6).as("min_weight"),
        round(max(col("weight")), 6).as("max_weight"))
  }

  /** The corpus-prep composite (gate → DSIR → token budget) at `m`x rows
    * with the SCALE forms composed: the quality gate runs
    * [[Sampling.topFractionSketch]] (sketch thresholds + a window over only
    * the sketch-error band — the 100 TB shape) instead of the whole-group
    * window `q_corpus_pipeline2`'s bench form uses. The sketch gate is
    * rank-exact by construction, so the scale composite's membership is
    * IDENTICAL to the exact composite's — which the spec pins on the real
    * bench corpus. Returns the selected relation
    * `(idCol, sourceCol, n_tokens)`; [[pipelineSummary]] wraps it in the
    * census the stress leg times. Replicas get a one-token text suffix (the
    * [[dsirSummary]] move) so the multiplied corpus has distinct texts but a
    * near-constant vocabulary.
    */
  def corpusPipelineSelect(docs: DataFrame, idCol: String, sourceCol: String,
      textCol: String, m: Int, scaleGate: Boolean,
      gateFrac: Double = 0.5, targetSource: String = "src0",
      dsirN: Int = 200, budgetPerKey: Long = 300L): DataFrame = {
    val big = multiplied(docs.select(col(idCol), col(sourceCol), col(textCol)), idCol, m)
      .withColumn(textCol,
        concat(col(textCol), lit(" rep"), pmod(col(idCol), lit(m.toLong))))
    // pin the multiplied + scored projection: the sketch gate passes over
    // its input three times (two partial aggs + the final filter/window),
    // and re-running the in-plan multiply + regex quality projection per
    // pass triples the leg's dominant cost
    val scored = TextAnalysis.qualityScore(big, textCol)
      .select(col(idCol), col(sourceCol), col(textCol), col("quality"))
      .localCheckpoint(true)
    val gated = (if (scaleGate)
        Sampling.topFractionSketch(scored, "quality", idCol, Seq(sourceCol), gateFrac)
      else
        Sampling.topFractionExact(scored, "quality", idCol, Seq(sourceCol), gateFrac))
      .select(col(idCol), col(sourceCol), col(textCol))
      .localCheckpoint(true) // four consumers: DSIR raw/target, join-back, tokens
    val w = Dsir.importanceWeights(gated, idCol, textCol,
      gated.filter(col(sourceCol) === targetSource), textCol, buckets = 256)
    val selected = Dsir.resampleTop(w, idCol, n = dsirN * m, gumbel = true, seed = 7)
    val withMeta = selected.join(gated, idCol)
      .select(col(idCol), col(sourceCol),
        TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
    Sampling.tokenBudgetSelect(withMeta, Seq(sourceCol), idCol, "n_tokens",
      budgetPerKey = budgetPerKey * m)
  }

  /** Census over [[corpusPipelineSelect]] with the sketch gate — integer
    * aggregates only, deterministic. Value semantics gated by hash-green
    * `q_corpus_pipeline2` (exact composite) + the spec pinning the two
    * composites member-identical at bench scale.
    */
  def pipelineSummary(docs: DataFrame, idCol: String, sourceCol: String,
      textCol: String, m: Int): DataFrame =
    corpusPipelineSelect(docs, idCol, sourceCol, textCol, m, scaleGate = true)
      .agg(count(lit(1)).as("n_selected"),
        countDistinct(col(sourceCol)).as("n_sources"),
        sum(col("n_tokens")).as("total_tokens"))

  /** Ad-hoc BM25 over an `m`x corpus with the base query set: stresses the
    * corpus-side tokenize → query-vocab semi-join → partial aggregate plan
    * (the corpus vocabulary must still never reach a shuffle). Summary: the
    * top-k result census (ranks × queries, score extrema).
    */
  def bm25Summary(docs: DataFrame, idCol: String, textCol: String,
      m: Int, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val corpus = multiplied(docs.select(col(idCol), col(textCol)), idCol, m)
    val queries = docs.filter(col(idCol) < nQueries)
      .select(col(idCol).as("qid"), col(textCol))
    Lexical.bm25TopK(corpus, idCol, textCol, queries, "qid", textCol, k = k)
      .agg(count(lit(1)).as("n_results"),
        countDistinct(col("query_id")).as("n_queries"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"))
  }

  /** Naturally-tripped BM25 query-side guard: a corpus-sized
    * query batch — a few real documents plus enough synthetic one-term
    * queries to push the exploded (query_id, term) pairs past the DEFAULT
    * [[Regime.MaxQueryTermRows]] — so the over-bound distributed path
    * (checkpointed pairs, bucket semi-join, joined scoring) runs under
    * stock session conf, not a forced override. The synthetic terms miss
    * the corpus vocabulary, so the scoring join stays bounded by the real
    * queries while the REGIME DECISION sees the full batch; guards that
    * only trip when forced rot. The summary row carries the observed
    * guard-counter delta (`guard_trips`, expected 1) next to the result
    * census; value semantics are hash-gated by the 1x base bm25 queries.
    */
  def bm25GuardDefaultSummary(index: Lexical.Bm25Index, docs: DataFrame,
      idCol: String, textCol: String, nRealQueries: Int = 8, k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val bound = Regime.MaxQueryTermRows(spark)
    val synthetic = spark.range(bound + (bound >> 4)).toDF("qid")
      .select(col("qid"), concat(lit("zzzmiss"), col("qid")).as("qtext"))
    val real = docs.filter(col(idCol) < nRealQueries)
      .select((col(idCol).cast("long") + lit(Long.MaxValue / 2)).as("qid"),
        col(textCol).as("qtext"))
    val queries = synthetic.unionByName(real)
    val before = Lexical.joinRestrictionSearches.get()
    // eager checkpoint pins the search result so the counter delta below
    // reflects exactly one search (a lazy frame would re-trip per action)
    val res = Lexical.bm25SearchIndex(index, queries, "qid", "qtext", k = k)
      .localCheckpoint(true)
    val trips = Lexical.joinRestrictionSearches.get() - before
    res.agg(count(lit(1)).as("n_results"),
        countDistinct(col("query_id")).as("n_queries"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"))
      .withColumn("guard_trips", lit(trips))
  }

  /** Filtered search with a tenant-scale allow-list: the allow frame
    * is the corpus's even ids plus `(m-1)·N` synthetic ids beyond the
    * corpus range — large enough to defeat [[Regime.MaxDriverAllowIds]]
    * at bench scale, so the restriction runs as the distributed semi-join
    * (AQE picks broadcast vs shuffle from the DISTINCT matched side). The
    * synthetic surplus matches no posting, so the result census is
    * m-invariant and value-gated by hash-green `q_bm25_filtered` at 1x.
    * `n_disallowed` (odd result docs) must read 0 — the filter held at
    * scale.
    */
  def filteredSummary(index: Lexical.Bm25Index, docs: DataFrame,
      idCol: String, textCol: String, m: Int,
      nRealQueries: Int = 8, k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val evens = docs.select(col(idCol).cast("long").as("id"))
      .filter(col("id") % 2 === 0)
    val n = docs.count()
    val synth = spark.range(n * (m - 1).toLong)
      .select((col("id") + lit(1000000000L)).as("id"))
    val view = Lexical.bm25FilteredView(index, evens.unionByName(synth), "id")
    val queries = docs.filter(col(idCol) < nRealQueries)
      .select(col(idCol).cast("long").as("qid"), col(textCol).as("qtext"))
    val res = Lexical.bm25SearchIndex(view, queries, "qid", "qtext", k = k)
      .localCheckpoint(true)
    res.agg(count(lit(1)).as("n_results"),
      countDistinct(col("query_id")).as("n_queries"),
      round(min(col("score")), 6).as("min_score"),
      round(max(col("score")), 6).as("max_score"),
      sum(when(pmod(col("doc_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_disallowed"))
  }

  /** Naturally-tripped ANN probe guard: the multiplied query batch exceeds
    * the DEFAULT [[Regime.MaxProbeRows]] (|queries| x nProbe probe rows), so
    * the distributed probe assignment + broadcast-semi-join cell
    * restriction runs under stock conf. The index is a small ad-hoc build
    * (few rows per cell) so the multiplied scoring join stays bounded while
    * the regime decision sees the full batch. Summary = per-rank census
    * (replica queries share their base vector, so extrema are m-invariant)
    * plus the observed `guard_trips` delta.
    */
  def annGuardDefaultSummary(emb: DataFrame, idCol: String, vecCol: String,
      corpusRows: Int = 256, nCentroids: Int = 64,
      k: Int = 3, nProbe: Int = 8): DataFrame = {
    val corpus = emb.select(col(idCol), col(vecCol))
      .filter(col(idCol) < corpusRows)
    val (cells, cents) = Ann.annBuildIndex(corpus, idCol, vecCol, nCentroids = nCentroids)
    val index = Ann.AnnIndex(
      cells.localCheckpoint(true), cents.localCheckpoint(true), nCentroids)
    // size the multiplier off the DEFAULT bound itself (one count job of a
    // small table): just past |queries| * nProbe > maxProbeRows, so the
    // regime decision flips naturally without the leg ballooning at larger
    // scale factors
    val nBase = emb.count()
    val m = (Regime.MaxProbeRows(emb.sparkSession) / math.max(nProbe, 1) / nBase + 1).toInt + 1
    val queries = multiplied(emb.select(col(idCol), col(vecCol)), idCol, m)
    val before = Ann.joinRestrictionSearches.get()
    val res = Ann.annSearchIndex(index, queries, idCol, vecCol, k = k, nProbe = nProbe)
      .localCheckpoint(true)
    val trips = Ann.joinRestrictionSearches.get() - before
    res.groupBy(col("rank"))
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"))
      .withColumn("guard_trips", lit(trips))
      .orderBy(col("rank"))
  }

  /** ε-graph clustering (minSamples=2 DBSCAN = dedup_rows' default path) at
    * `m`x points: exact replicas form ε-cliques, so candidate generation
    * (broadcast scan under the bound, SRP-LSH bucket join above it), edge
    * dedup, and iterative components all run at the multiplied scale.
    * Summary: cluster census + noise count.
    */
  def dbscanSummary(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, eps: Double = 0.05): DataFrame = {
    val pts = multiplied(emb.select(col(idCol), col(vecCol)), idCol, m)
    Clustering.dbscanCosine(pts, idCol, vecCol, eps = eps, minSamples = 2)
      .agg(count(lit(1)).as("n_points"),
        countDistinct(when(col("cluster") >= 0, col("cluster"))).as("n_clusters"),
        sum(when(col("cluster") === -1L, 1L).otherwise(0L)).as("n_noise"))
  }

  /** The streaming ingest triad load-tested: fresh MinHash +
    * BM25 + ANN indexes over the corpus, then `epochs` multiplied crawl
    * epochs through [[graft.streaming.StreamOps.ingestEpochPipeline]] — each
    * epoch's batch is a disjoint corpus slice, reversed (genuinely new
    * text), replicated `m`x with a replica-suffix token, so intra-batch
    * keep-first must collapse the replica near-dup cliques at m·|slice|
    * rows before the corpus search and the three appends run. Summary: one
    * row per epoch with the batch/survivor census, the growing MinHash
    * union fan-in, committed batch counts on all three indexes and,
    * managed, the generations the maintenance pass committed. Value
    * semantics are gated by the hash-green 1x ingest legs (q_stream_ingest,
    * q_stream_ingest_bm25, q_stream_ingest_ann). The census makes the
    * append-accumulation curve OBSERVABLE and deterministic: every
    * committed batch adds one more parquet root per layout to each epoch's
    * index opens — exactly the curve [[IndexMaintenance.maintainIndexes]]
    * exists to flatten. What an epoch costs in Spark jobs is a harness
    * measurement (`graft.Profile`), not a result row.
    */
  def ingestTriadSummary(docs: DataFrame, idCol: String, textCol: String,
      embedder: graft.embed.Embedder, epochs: Int = 5, m: Int = 10,
      sliceMod: Int = 0,
      policy: Option[IndexMaintenance.Policy] = None): DataFrame = {
    require(epochs >= 1 && m >= 1, s"epochs/m must be >= 1, got $epochs/$m")
    // epoch batches are disjoint 1/sliceMod corpus slices; the default keeps
    // them as large as disjointness allows, a bigger modulus trims the
    // per-epoch wall without changing what the census shows
    val mod = if (sliceMod > 0) sliceMod else epochs + 1
    require(mod > epochs, s"sliceMod must exceed epochs, got $mod/$epochs")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_stress_ingest").toString
    // managed mode: the same triad under GENERATION roots
    // with maintainIndexes after each epoch — the census then shows the
    // append-accumulation curve (fan-in / batch counts) FLATTENING as
    // compactions fire, next to the unmanaged curve's growth
    val managed = policy.isDefined
    val (mhRoot, bmRoot, annRoot) = (s"$base/mh", s"$base/bm", s"$base/ann")
    def seedPath(root: String): String =
      if (managed) IndexMaintenance.genPath(root, 0) else root
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(docs, idCol, textCol),
      seedPath(mhRoot))
    val (p, st) = Lexical.bm25BuildIndex(docs, idCol, textCol)
    Lexical.bm25WriteIndex(p, st, seedPath(bmRoot), nBuckets = 16)
    val emb = embedder.embed(docs.select(col(idCol), col(textCol)), textCol, "__vec")
      .select(col(idCol), col("__vec"))
    val (cells, cents) = Ann.annBuildIndex(emb, idCol, "__vec", nCentroids = 16)
    Ann.annWriteIndex(cells, cents, seedPath(annRoot))
    if (managed) Seq(mhRoot, bmRoot, annRoot)
      .foreach(IndexMaintenance.commitGeneration(spark, _, 0))
    def cur(root: String): String =
      if (managed) IndexMaintenance.currentPath(spark, root) else root

    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = (1 to epochs).map { e =>
      val slice = docs
        .filter(pmod(col(idCol).cast("long"), lit(mod.toLong)) === e)
        .select(col(idCol), reverse(col(textCol)).as(textCol))
      val batch = multiplied(slice, idCol, m)
        .withColumn(textCol,
          concat(col(textCol), lit(" rep"), pmod(col(idCol), lit(m.toLong))))
        // keep batch ids disjoint from corpus ids AND earlier epochs (the
        // appenders' disjoint-id contract)
        .withColumn(idCol, col(idCol) + lit(e * 100000000L))
      val nBatch = batch.count()
      val survivors = graft.streaming.StreamOps.ingestEpochPipeline(
        batch, idCol, textCol, cur(mhRoot), jaccardThreshold = 0.5,
        batchId = s"stress_$e", bm25Path = Some(cur(bmRoot)),
        ann = Some((cur(annRoot), embedder)))
      val nSurv = survivors.count()
      // managed: the maintenance pass after the epoch's ingest; its census
      // is the generations it committed across the three roots
      val maintGens = policy.map { pol =>
        IndexMaintenance.maintainIndexes(spark, minhashRoot = Some(mhRoot),
          bm25Root = Some(bmRoot), annRoot = Some(annRoot), policy = pol)
          .map(ev => (ev.genAfter - ev.genBefore).toLong).sum
      }.getOrElse(0L)
      (e, nBatch, nSurv,
        Dedup.minhashOpenIndex(spark, cur(mhRoot)).unionFanIn,
        IndexLayout.committedBatchIds(fs, cur(bmRoot)).size,
        IndexLayout.committedBatchIds(fs, cur(annRoot)).size,
        maintGens)
    }
    rows.toDF("epoch", "n_batch", "n_survivors", "minhash_fan_in",
      "bm25_batches", "ann_batches", "maint_generations")
      .orderBy(col("epoch"))
  }
}
