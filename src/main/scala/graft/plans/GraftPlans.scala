package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Entry points for the Catalyst-native semantic join: a Dataset-level
  * constructor, a `graft_knn_join` SQL table function, and the session
  * wiring that installs the strategy + optimizer rules at runtime (the
  * config-time path is `spark.sql.extensions=graft.GraftExtensions`).
  */
object GraftPlans {

  /** Build the planned semantic top-k join over two DataFrames. Same output
    * contract as [[graft.operators.SemanticJoin.knnJoinVec]]; the plan is a
    * single custom node until [[GraftStrategy]] lowers it, so `explain` shows
    * `SemanticTopKJoinExec` with a `BroadcastExchange` on the right child.
    * Children are pre-projected to (id, vec) so scans stay 2-column.
    */
  def knnJoin(
      left: DataFrame, leftId: String, leftVec: String,
      right: DataFrame, rightId: String, rightVec: String,
      k: Int, excludeSelf: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    install(spark)
    def proj(df: DataFrame, cols: Seq[String]): LogicalPlan =
      Project(cols.map(UnresolvedAttribute(_)), ColumnBridge.analyzedPlan(df))
    ColumnBridge.ofRows(spark, SemanticTopKJoin(
      proj(left, Seq(leftId, leftVec)), proj(right, Seq(rightId, rightVec)),
      leftId, leftVec, rightId, rightVec, k, excludeSelf))
  }

  /** Build the planned similarity range join (cosine ≥ `tau`, optionally
    * left-outer) over two DataFrames. Same output contract as
    * [[graft.operators.SemanticJoin.rangeJoinVec]].
    */
  def rangeJoin(
      left: DataFrame, leftId: String, leftVec: String,
      right: DataFrame, rightId: String, rightVec: String,
      tau: Double, excludeSelf: Boolean = false,
      keepUnmatched: Boolean = true): DataFrame = {
    val spark = left.sparkSession
    install(spark)
    def proj(df: DataFrame, cols: Seq[String]): LogicalPlan =
      Project(cols.map(UnresolvedAttribute(_)), ColumnBridge.analyzedPlan(df))
    ColumnBridge.ofRows(spark, SemanticRangeJoin(
      proj(left, Seq(leftId, leftVec)), proj(right, Seq(rightId, rightVec)),
      leftId, leftVec, rightId, rightVec, tau, excludeSelf, keepUnmatched))
  }

  private def str(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }
  private def int(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }
  // SQL integer literals past 2^31 (e.g. epoch-millis timestamps) parse as
  // BIGINT — accept both integral widths
  private def lng(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(s"$what must be an integral literal, got $other")
  }
  private def bool(e: Expression, what: String): Boolean = e match {
    case Literal(b: Boolean, _) => b
    case other => throw new IllegalArgumentException(s"$what must be a boolean literal, got $other")
  }
  // SQL fractional literals parse as DecimalType by default, so a threshold
  // arrives as Decimal unless the user casts — accept every numeric literal
  private def dbl(e: Expression, what: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Float, _) => v.toDouble
    case Literal(v: Int, _) => v.toDouble
    case Literal(v: Long, _) => v.toDouble
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }
  private def rel(table: String, cols: Seq[String]): LogicalPlan =
    Project(cols.map(UnresolvedAttribute(_)),
      UnresolvedRelation(table.split('.').toIndexedSeq))

  /** `graft_knn_join('l_tbl','r_tbl','lid','lvec','rid','rvec', k[, excludeSelf])`
    * table-function builder: table names resolve through the session catalog
    * (temp views included), children are pre-projected to the two used
    * columns, and the node itself carries the by-name bindings.
    */
  private def knnJoinBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 7 || args.length == 8,
      "graft_knn_join(leftTable, rightTable, leftId, leftVec, rightId, rightVec, k[, excludeSelf])")
    val Seq(lt, rt) = args.take(2).zip(Seq("leftTable", "rightTable")).map((str _).tupled)
    val Seq(lid, lvec, rid, rvec) =
      args.slice(2, 6).zip(Seq("leftId", "leftVec", "rightId", "rightVec")).map((str _).tupled)
    val k = int(args(6), "k")
    val excludeSelf = args.length > 7 && bool(args(7), "excludeSelf")
    SemanticTopKJoin(rel(lt, Seq(lid, lvec)), rel(rt, Seq(rid, rvec)),
      lid, lvec, rid, rvec, k, excludeSelf)
  }

  /** `graft_range_join('l_tbl','r_tbl','lid','lvec','rid','rvec', tau[, excludeSelf[, keepUnmatched]])`
    * — the θ-join sibling (cosine ≥ tau; keepUnmatched defaults true for the
    * reference's left-outer `merge_range` contract).
    */
  private def rangeJoinBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 7 && args.length <= 9,
      "graft_range_join(leftTable, rightTable, leftId, leftVec, rightId, rightVec, " +
        "tau[, excludeSelf[, keepUnmatched]])")
    val Seq(lt, rt) = args.take(2).zip(Seq("leftTable", "rightTable")).map((str _).tupled)
    val Seq(lid, lvec, rid, rvec) =
      args.slice(2, 6).zip(Seq("leftId", "leftVec", "rightId", "rightVec")).map((str _).tupled)
    val tau = dbl(args(6), "tau")
    val excludeSelf = args.length > 7 && bool(args(7), "excludeSelf")
    val keepUnmatched = args.length <= 8 || bool(args(8), "keepUnmatched")
    SemanticRangeJoin(rel(lt, Seq(lid, lvec)), rel(rt, Seq(rid, rvec)),
      lid, lvec, rid, rvec, tau, excludeSelf, keepUnmatched)
  }

  /** `graft_fuzzy_join('l_tbl','r_tbl','lid','lstr','rid','rstr', maxDist[, maxLen])`
    * — the edit-distance sibling: every `(left_id, right_id, dist)` with
    * `levenshtein <= maxDist`, computed by [[graft.operators.Fuzzy.fuzzyJoin]]'s
    * symmetric-deletion blocking. Unlike the vector joins this needs no
    * custom node — the operator is a composition of codegen'd builtins
    * (explode → xxhash64 equi-join → banded levenshtein verify), so the
    * builder materializes that composed plan and Catalyst optimizes it like
    * any other (output-column predicates push through the joins into the
    * scans). Table names resolve through the session catalog, children are
    * pre-projected to the two used columns.
    */
  private def fuzzyJoinBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 7 || args.length == 8,
      "graft_fuzzy_join(leftTable, rightTable, leftId, leftStr, rightId, rightStr, " +
        "maxDist[, maxLen])")
    val Seq(lt, rt) = args.take(2).zip(Seq("leftTable", "rightTable")).map((str _).tupled)
    val Seq(lid, lstr, rid, rstr) =
      args.slice(2, 6).zip(Seq("leftId", "leftStr", "rightId", "rightStr")).map((str _).tupled)
    val maxDist = int(args(6), "maxDist")
    val maxLen = if (args.length > 7) int(args(7), "maxLen") else 64
    val spark = SparkSession.active
    val left = ColumnBridge.ofRows(spark, rel(lt, Seq(lid, lstr)))
    val right = ColumnBridge.ofRows(spark, rel(rt, Seq(rid, rstr)))
    ColumnBridge.analyzedPlan(
      graft.operators.Fuzzy.fuzzyJoin(left, lid, lstr, right, rid, rstr, maxDist, maxLen))
  }

  /** `graft_bm25_search('index_path','queries_tbl','qid','qtext', k
    * [, allowedTable, allowedIdCol])` — bucket-pruned BM25 search of a
    * [[graft.operators.Lexical.bm25WriteIndex]] directory from SQL. The
    * index is opened and the query vocabulary collected at resolution time
    * (bounded by the query side — the operator's regime contract), so the
    * returned plan is the same partition-pruned scan → batch-fold → top-k
    * the DataFrame API builds. The optional trailing pair (r13) restricts
    * scoring to the allow-list table's doc ids via [[graft.operators
    * .Lexical.bm25FilteredView]] — filter-context semantics (full-corpus
    * stats, candidates restricted), same surface shape as
    * `graft_ann_search`'s pair.
    */
  private def bm25SearchBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 5 || args.length == 7,
      "graft_bm25_search(indexPath, queriesTable, queryId, queryText, k" +
        "[, allowedTable, allowedIdCol])")
    val path = str(args(0), "indexPath")
    val qt = str(args(1), "queriesTable")
    val qid = str(args(2), "queryId")
    val qtext = str(args(3), "queryText")
    val k = int(args(4), "k")
    val spark = SparkSession.active
    val queries = ColumnBridge.ofRows(spark, rel(qt, Seq(qid, qtext)))
    val idx0 = graft.operators.Lexical.bm25OpenIndex(spark, path)
    val idx =
      if (args.length == 7) {
        val at = str(args(5), "allowedTable")
        val aid = str(args(6), "allowedIdCol")
        graft.operators.Lexical.bm25FilteredView(idx0,
          ColumnBridge.ofRows(spark, rel(at, Seq(aid))), aid)
      } else idx0
    ColumnBridge.analyzedPlan(graft.operators.Lexical.bm25SearchIndex(
      idx, queries, qid, qtext, k))
  }

  /** `graft_ann_search('index_path','queries_tbl','qid','qvec', k[, nProbe
    * [, allowedTable, allowedIdCol]])` — cell-partition-pruned vector search
    * of a [[graft.operators.Ann.annWriteIndex]] directory from SQL; same
    * resolution-time probe collection as the BM25 sibling. The optional
    * trailing pair (r13) restricts the search to the allow-list table's ids
    * via [[graft.operators.Ann.annFilteredView]] — the filtered-search
    * primitive (metadata predicates like language/tenant/license) with the
    * allow-list resolved through the session catalog like every other TVF
    * table argument.
    */
  private def annSearchBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 5 && args.length <= 8 && args.length != 7,
      "graft_ann_search(indexPath, queriesTable, queryId, queryVec, k" +
        "[, nProbe[, allowedTable, allowedIdCol]])")
    val path = str(args(0), "indexPath")
    val qt = str(args(1), "queriesTable")
    val qid = str(args(2), "queryId")
    val qvec = str(args(3), "queryVec")
    val k = int(args(4), "k")
    val nProbe = if (args.length > 5) int(args(5), "nProbe") else 4
    val spark = SparkSession.active
    val queries = ColumnBridge.ofRows(spark, rel(qt, Seq(qid, qvec)))
    val idx0 = graft.operators.Ann.annOpenIndex(spark, path)
    val idx =
      if (args.length > 6) {
        val at = str(args(6), "allowedTable")
        val aid = str(args(7), "allowedIdCol")
        graft.operators.Ann.annFilteredView(idx0,
          ColumnBridge.ofRows(spark, rel(at, Seq(aid))), aid)
      } else idx0
    ColumnBridge.analyzedPlan(graft.operators.Ann.annSearchIndex(
      idx, queries, qid, qvec, k, nProbe))
  }

  /** `graft_index_deletes('index_path')` — the tombstone audit surface of a
    * persisted index from SQL ([[graft.operators.Tombstones.deletesDf]]):
    * one row per committed delete with its exact recorded deltas and wall
    * timestamp. Compliance's "what was removed, how much, and when" without
    * leaving the catalog. Empty on an index with no tombstones.
    */
  private def indexDeletesBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1, "graft_index_deletes(indexPath)")
    val path = str(args(0), "indexPath")
    ColumnBridge.analyzedPlan(
      graft.operators.Tombstones.deletesDf(SparkSession.active, path))
  }

  /** `graft_dsir_select('raw_tbl','target_tbl','id','text', n[, buckets[, seed]])`
    * — DSIR importance resampling from SQL: weight every raw-table document
    * toward the target table's hashed-unigram distribution and Gumbel-sample
    * the top n ([[graft.operators.Dsir]]). No custom node needed (the
    * fuzzy-join move): the builder materializes the composed
    * aggregate/broadcast-join/ordered-sum plan from catalog-resolved tables,
    * so Catalyst pushdown and AQE treat it like any hand-built query.
    *
    * `buckets` is capped at 2^20 as of r9 (was 2^24): the log-ratio table is
    * driver-assembled, and the cap is sized from heap bytes (~200 MB
    * worst-case at the cap — see [[graft.operators.Dsir.importanceWeights]]).
    * Values in (2^20, 2^24] that formerly ran now throw; the paper's regime
    * is B ≈ 10^4.
    */
  private def dsirSelectBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 5 && args.length <= 7,
      "graft_dsir_select(rawTable, targetTable, idCol, textCol, n[, buckets[, gumbelSeed]])")
    val rawT = str(args(0), "rawTable")
    val tgtT = str(args(1), "targetTable")
    val id = str(args(2), "idCol")
    val text = str(args(3), "textCol")
    val n = int(args(4), "n")
    val buckets = if (args.length > 5) int(args(5), "buckets") else 1024
    val seed = if (args.length > 6) int(args(6), "gumbelSeed").toLong else 7L
    val spark = SparkSession.active
    val raw = ColumnBridge.ofRows(spark, rel(rawT, Seq(id, text)))
    val target = ColumnBridge.ofRows(spark, rel(tgtT, Seq(text)))
    val w = graft.operators.Dsir.importanceWeights(raw, id, text, target, text,
      buckets = buckets)
    ColumnBridge.analyzedPlan(
      graft.operators.Dsir.resampleTop(w, id, n, gumbel = true, seed = seed))
  }

  /** `graft_quality_gate('tbl','text','key','id', frac)` — keep each key
    * group's best `frac` share by the composite quality score, rank-exact
    * ([[graft.operators.Sampling.topFractionExact]] over
    * [[graft.operators.TextAnalysis.qualityScore]]).
    */
  private def qualityGateBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 5,
      "graft_quality_gate(table, textCol, keyCol, idCol, frac)")
    val t = str(args(0), "table")
    val text = str(args(1), "textCol")
    val key = str(args(2), "keyCol")
    val id = str(args(3), "idCol")
    val frac = dbl(args(4), "frac")
    val spark = SparkSession.active
    val df = ColumnBridge.ofRows(spark, rel(t, Seq(id, key, text)))
    val scored = graft.operators.TextAnalysis.qualityScore(df, text)
      .select(org.apache.spark.sql.functions.col(id),
        org.apache.spark.sql.functions.col(key),
        org.apache.spark.sql.functions.col("quality"))
    ColumnBridge.analyzedPlan(
      graft.operators.Sampling.topFractionExact(scored, "quality", id, Seq(key), frac))
  }

  /** `graft_token_budget('tbl','key','id','tokens', budget)` — per-key
    * md5-shuffled token-budget prefix selection
    * ([[graft.operators.Sampling.tokenBudgetSelect]], the bucketed plan
    * whose only window runs over the straddle bucket).
    */
  private def tokenBudgetBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 5,
      "graft_token_budget(table, keyCol, idCol, tokensCol, budgetPerKey)")
    val t = str(args(0), "table")
    val key = str(args(1), "keyCol")
    val id = str(args(2), "idCol")
    val toks = str(args(3), "tokensCol")
    val budget = int(args(4), "budgetPerKey").toLong
    val spark = SparkSession.active
    val df = ColumnBridge.ofRows(spark, rel(t, Seq(id, key, toks)))
    ColumnBridge.analyzedPlan(
      graft.operators.Sampling.tokenBudgetSelect(df, Seq(key), id, toks, budget))
  }

  /** `graft_minhash_dedup('tbl','id','text', threshold[, shingleSize[, numBands[, rowsPerBand]]])`
    * — MinHash+LSH near-duplicate clustering from SQL
    * ([[graft.operators.Dedup.minhashLsh]]): returns `(id, cluster)` with
    * cluster = min doc id of each verified near-duplicate group. Composed-plan
    * builder: `minhashLsh` runs at analysis time and its result is the plan —
    * a LocalRelation in the driver regime (one job, while the shingles and
    * signatures fit `spark.graft.vecscan.maxBroadcastBytes` and the band
    * buckets hold ≤ `spark.graft.cc.smallGraphEdgeLimit` row pairs), else
    * the band-join plan over codegen'd builtins with driver-bounded CC, so
    * no custom node is needed; the table name resolves through the session
    * catalog and the child is pre-projected to the two used columns.
    */
  private def minhashDedupBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 4 && args.length <= 7,
      "graft_minhash_dedup(table, idCol, textCol, jaccardThreshold" +
        "[, shingleSize[, numBands[, rowsPerBand]]])")
    val t = str(args(0), "table")
    val id = str(args(1), "idCol")
    val text = str(args(2), "textCol")
    val tau = dbl(args(3), "jaccardThreshold")
    val shingleSize = if (args.length > 4) int(args(4), "shingleSize") else 3
    val numBands = if (args.length > 5) int(args(5), "numBands") else 8
    val rowsPerBand = if (args.length > 6) int(args(6), "rowsPerBand") else 4
    val spark = SparkSession.active
    val df = ColumnBridge.ofRows(spark, rel(t, Seq(id, text)))
    ColumnBridge.analyzedPlan(graft.operators.Dedup.minhashLsh(
      df, id, text, shingleSize, numBands, rowsPerBand, tau))
  }

  /** `graft_contamination('corpus_tbl','bench_tbl','cid','ctext','bid','btext', threshold[, shingleSize])`
    * — benchmark-contamination pairs from SQL
    * ([[graft.operators.Dedup.contamination]]): every
    * `(corpus_id, benchmark_id, jaccard)` with exact-verified Jaccard at or
    * above the threshold, candidates from the banded equi-join (never
    * corpus × benchmark). Composed-plan builder; anti-join the corpus
    * against the result to decontaminate.
    */
  private def contaminationBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 7 || args.length == 8,
      "graft_contamination(corpusTable, benchTable, corpusId, corpusText, " +
        "benchId, benchText, jaccardThreshold[, shingleSize])")
    val ct = str(args(0), "corpusTable")
    val bt = str(args(1), "benchTable")
    val cid = str(args(2), "corpusId")
    val ctext = str(args(3), "corpusText")
    val bid = str(args(4), "benchId")
    val btext = str(args(5), "benchText")
    val tau = dbl(args(6), "jaccardThreshold")
    val shingleSize = if (args.length > 7) int(args(7), "shingleSize") else 3
    val spark = SparkSession.active
    val corpus = ColumnBridge.ofRows(spark, rel(ct, Seq(cid, ctext)))
    val bench = ColumnBridge.ofRows(spark, rel(bt, Seq(bid, btext)))
    ColumnBridge.analyzedPlan(graft.operators.Dedup.contamination(
      corpus, cid, ctext, bench, bid, btext,
      shingleSize = shingleSize, jaccardThreshold = tau))
  }

  /** `graft_rrf_fuse('sys0_tbl','sys1_tbl', k[, k0])` — reciprocal-rank
    * fusion of two retrieval systems' top-k relations (each view carries
    * `(query_id, doc_id, rank)`) via
    * [[graft.operators.Retrieval.rrfFuse]]. Composed-plan builder (the
    * fuzzy-join move): the fusion is unions + partial aggregates, so
    * Catalyst optimizes it like any hand-built query.
    */
  private def rrfFuseBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3 || args.length == 4,
      "graft_rrf_fuse(sys0Table, sys1Table, k[, k0])")
    val s0 = str(args(0), "sys0Table")
    val s1 = str(args(1), "sys1Table")
    val k = int(args(2), "k")
    val k0 = if (args.length > 3) int(args(3), "k0") else 60
    val spark = SparkSession.active
    val cols = Seq("query_id", "doc_id", "rank")
    val a = ColumnBridge.ofRows(spark, rel(s0, cols))
    val b = ColumnBridge.ofRows(spark, rel(s1, cols))
    ColumnBridge.analyzedPlan(graft.operators.Retrieval.rrfFuse(Seq(a, b), k, k0))
  }

  /** `graft_maintenance_log('root')` — the persisted maintenance history of
    * a managed generation root from SQL
    * ([[graft.operators.IndexMaintenance.eventsDf]]): one row per recorded
    * decision `(pass, idx, signal, value, threshold, action, gen_before,
    * gen_after)`. The audit half of the maintenance loop — `maintainIndexes`
    * appends each pass to the root's atomic-marker parquet log; this reads
    * only committed passes.
    */
  private def maintenanceLogBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1, "graft_maintenance_log(root)")
    val root = str(args(0), "root")
    ColumnBridge.analyzedPlan(
      graft.operators.IndexMaintenance.eventsDf(SparkSession.active, root))
  }

  /** `graft_minhash_search('index_path','batch_tbl','id','text', threshold
    * [, allowedTable, allowedIdCol])` — near-dup probe of a persisted
    * [[graft.operators.Dedup.minhashWriteIndex]] directory from SQL:
    * `(corpus_id, batch_id, jaccard)` for every index doc whose exact
    * shingle Jaccard with a batch doc clears the threshold, candidates from
    * the banded equi-join. The optional trailing pair (r13) restricts
    * matches to the allow-list's corpus ids via [[graft.operators.Dedup
    * .minhashFilteredView]] — completing the filtered-search SQL surface
    * across all three index families.
    */
  private def minhashSearchBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 5 || args.length == 7,
      "graft_minhash_search(indexPath, batchTable, idCol, textCol, " +
        "jaccardThreshold[, allowedTable, allowedIdCol])")
    val path = str(args(0), "indexPath")
    val bt = str(args(1), "batchTable")
    val id = str(args(2), "idCol")
    val text = str(args(3), "textCol")
    val tau = dbl(args(4), "jaccardThreshold")
    val spark = SparkSession.active
    val batch = ColumnBridge.ofRows(spark, rel(bt, Seq(id, text)))
    val idx0 = graft.operators.Dedup.minhashOpenIndex(spark, path)
    val idx =
      if (args.length == 7) {
        val at = str(args(5), "allowedTable")
        val aid = str(args(6), "allowedIdCol")
        graft.operators.Dedup.minhashFilteredView(idx0,
          ColumnBridge.ofRows(spark, rel(at, Seq(aid))), aid)
      } else idx0
    ColumnBridge.analyzedPlan(
      graft.operators.Dedup.minhashSearchIndex(idx, batch, id, text, tau))
  }

  /** `graft_denylist('root')` — the ingest denylist of a managed root from
    * SQL ([[graft.streaming.Denylist]]): one `(id)` row per taken-down doc
    * id that [[graft.streaming.StreamOps.streamingTakedownPipelineManaged]]
    * recorded with `denyFuture`. The compliance audit sibling of
    * `graft_index_deletes` for the INGEST side: "which ids can never
    * re-enter this corpus". Empty frame when no takedown ever ran.
    */
  private def denylistBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1, "graft_denylist(root)")
    val root = str(args(0), "root")
    val spark = SparkSession.active
    val df = graft.streaming.Denylist.read(spark, root).getOrElse {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("id", LongType, nullable = false))))
    }
    ColumnBridge.analyzedPlan(df)
  }

  /** `graft_removal_audit('denyRoot', 'minhashRoot', 'bm25Root',
    * 'annRoot')` — the composed compliance invariant from SQL
    * ([[graft.operators.IndexMaintenance.auditRemovals]]): one
    * `(family, id)` row per denylisted id still SERVABLE in a managed
    * root's current generation; the empty relation means compliant. Pass
    * `''` to skip a family. Closes the SQL audit triad: `graft_denylist`
    * says what must stay out, `graft_index_deletes` says what each index
    * removed, this says whether the two agree everywhere.
    */
  private def removalAuditBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 4,
      "graft_removal_audit(denylistRoot, minhashRoot, bm25Root, annRoot) — '' skips a family")
    def opt(i: Int, n: String): Option[String] =
      Option(str(args(i), n)).filter(_.nonEmpty)
    ColumnBridge.analyzedPlan(graft.operators.IndexMaintenance.auditRemovals(
      SparkSession.active, str(args(0), "denylistRoot"),
      opt(1, "minhashRoot"), opt(2, "bm25Root"), opt(3, "annRoot")))
  }

  /** `graft_gen_asof('root', atMillis)` —
    * [[graft.operators.IndexMaintenance.generationAsOf]] from SQL: ONE row
    * `(gen, path)` — the generation that was serving at the wall time and
    * its immutable directory (open it for an exact replay), or nulls when
    * nothing was (pre-commit, or that window's generation has since been
    * pruned — the honest miss, never a surviving neighbor).
    */
  private def genAsOfBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2, "graft_gen_asof(root, atMillis)")
    val root = str(args(0), "root")
    val at = lng(args(1), "atMillis")
    val spark = SparkSession.active
    val g = graft.operators.IndexMaintenance.generationAsOf(spark, root, at)
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("gen", IntegerType), StructField("path", StringType)))
    val row = org.apache.spark.sql.Row(
      g.map(Int.box).orNull,
      g.map(graft.operators.IndexMaintenance.genPath(root, _)).orNull)
    ColumnBridge.analyzedPlan(
      spark.createDataFrame(java.util.Arrays.asList(row), schema))
  }

  /** `graft_snapshots('root')` — the snapshot catalog of a managed root
    * from SQL ([[graft.operators.Snapshots.infoDf]]): one row per committed
    * point-in-time pin `(name, gen, n_batches, n_deletes, at)`. The
    * retention-audit surface — "what is pinning my disk, since when" — for
    * the reproducibility pins that [[graft.operators.IndexMaintenance
    * .pruneGenerations]] and [[graft.operators.Tombstones.consolidate]]
    * refuse to collect. Empty relation when the root has no snapshots.
    */
  private def snapshotsBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1, "graft_snapshots(root)")
    val root = str(args(0), "root")
    ColumnBridge.analyzedPlan(
      graft.operators.Snapshots.infoDf(SparkSession.active, root))
  }

  /** `graft_snapshot_audit('denyRoot', 'minhashRoot', 'bm25Root',
    * 'annRoot')` — [[graft.operators.IndexMaintenance.auditSnapshots]]
    * from SQL: one `(family, snapshot, id)` row per denylisted id still
    * SERVABLE through a committed snapshot pin (snapshots freeze removals
    * too — that is their point — so a compliance purge must see which
    * frozen views conflict and retire them with `Snapshots.drop`). Pass
    * `''` to skip a family; empty relation = no conflicts.
    */
  private def snapshotAuditBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 4,
      "graft_snapshot_audit(denylistRoot, minhashRoot, bm25Root, annRoot) — '' skips a family")
    def opt(i: Int, n: String): Option[String] =
      Option(str(args(i), n)).filter(_.nonEmpty)
    ColumnBridge.analyzedPlan(graft.operators.IndexMaintenance.auditSnapshots(
      SparkSession.active, str(args(0), "denylistRoot"),
      opt(1, "minhashRoot"), opt(2, "bm25Root"), opt(3, "annRoot")))
  }

  /** `graft_snapshot_diff('root', 'name', 'family')` — what drifted since
    * the pin, from SQL ([[graft.operators.Snapshots.diff]]):
    * `('added'|'removed', id)` rows comparing the ids servable through the
    * named snapshot against the root's current generation. `family` is an
    * [[graft.operators.IndexLifecycle]] name: bm25 | ann | minhash.
    */
  private def snapshotDiffBuilder(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3, "graft_snapshot_diff(root, name, family)")
    val root = str(args(0), "root")
    val name = str(args(1), "name")
    val spark = SparkSession.active
    val family = graft.operators.IndexLifecycle.named(str(args(2), "family"))
    ColumnBridge.analyzedPlan(graft.operators.Snapshots.diff(spark, family, root, name))
  }

  /** (name, info, builder) for every exposed table function. */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] =
    Seq(
      (FunctionIdentifier("graft_knn_join"),
        new ExpressionInfo("graft", "graft_knn_join"),
        knnJoinBuilder _),
      (FunctionIdentifier("graft_range_join"),
        new ExpressionInfo("graft", "graft_range_join"),
        rangeJoinBuilder _),
      (FunctionIdentifier("graft_fuzzy_join"),
        new ExpressionInfo("graft", "graft_fuzzy_join"),
        fuzzyJoinBuilder _),
      (FunctionIdentifier("graft_bm25_search"),
        new ExpressionInfo("graft", "graft_bm25_search"),
        bm25SearchBuilder _),
      (FunctionIdentifier("graft_ann_search"),
        new ExpressionInfo("graft", "graft_ann_search"),
        annSearchBuilder _),
      (FunctionIdentifier("graft_dsir_select"),
        new ExpressionInfo("graft", "graft_dsir_select"),
        dsirSelectBuilder _),
      (FunctionIdentifier("graft_quality_gate"),
        new ExpressionInfo("graft", "graft_quality_gate"),
        qualityGateBuilder _),
      (FunctionIdentifier("graft_token_budget"),
        new ExpressionInfo("graft", "graft_token_budget"),
        tokenBudgetBuilder _),
      (FunctionIdentifier("graft_rrf_fuse"),
        new ExpressionInfo("graft", "graft_rrf_fuse"),
        rrfFuseBuilder _),
      (FunctionIdentifier("graft_minhash_dedup"),
        new ExpressionInfo("graft", "graft_minhash_dedup"),
        minhashDedupBuilder _),
      (FunctionIdentifier("graft_contamination"),
        new ExpressionInfo("graft", "graft_contamination"),
        contaminationBuilder _),
      (FunctionIdentifier("graft_maintenance_log"),
        new ExpressionInfo("graft", "graft_maintenance_log"),
        maintenanceLogBuilder _),
      (FunctionIdentifier("graft_index_deletes"),
        new ExpressionInfo("graft", "graft_index_deletes"),
        indexDeletesBuilder _),
      (FunctionIdentifier("graft_minhash_search"),
        new ExpressionInfo("graft", "graft_minhash_search"),
        minhashSearchBuilder _),
      (FunctionIdentifier("graft_denylist"),
        new ExpressionInfo("graft", "graft_denylist"),
        denylistBuilder _),
      (FunctionIdentifier("graft_removal_audit"),
        new ExpressionInfo("graft", "graft_removal_audit"),
        removalAuditBuilder _),
      (FunctionIdentifier("graft_gen_asof"),
        new ExpressionInfo("graft", "graft_gen_asof"),
        genAsOfBuilder _),
      (FunctionIdentifier("graft_snapshots"),
        new ExpressionInfo("graft", "graft_snapshots"),
        snapshotsBuilder _),
      (FunctionIdentifier("graft_snapshot_audit"),
        new ExpressionInfo("graft", "graft_snapshot_audit"),
        snapshotAuditBuilder _),
      (FunctionIdentifier("graft_snapshot_diff"),
        new ExpressionInfo("graft", "graft_snapshot_diff"),
        snapshotDiffBuilder _))

  /** Install strategy, optimizer rules ([[installRules]]) and table
    * functions on a live session. Idempotent — safe to call per query.
    */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(GraftStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ GraftStrategy
    }
    installRules(spark)
    tableFunctions.foreach { case (ident, info, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(ident, info, builder)
    }
  }

  /** Install the optimizer rules on a live session: the left-id pushdown and
    * [[CountLocalRelation]]. Idempotent; a serving search calls it.
    */
  def installRules(spark: SparkSession): Unit = spark.experimental.synchronized {
    val missing = Seq(PushFilterThroughSemanticVecJoin, CountLocalRelation)
      .filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty) {
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++ missing
    }
  }
}
