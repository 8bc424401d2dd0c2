package graft.operators

import graft.core.{Keys, Serialize}
import graft.embed.Embedder
import graft.functions.VectorOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** The semantic-join family: exact cosine kNN join (k=1 "merge", top-k "merge_knn"),
  * threshold range join with left-outer retention ("merge_range"), blocked
  * equi+semantic join ("merge_blocking"), and semantic rollup ("aggregate_rows").
  *
  * Physical shape (SURVEY §4.3): one job sizes and collects the right side's
  * (id, vec) projection, which is broadcast as a [[VecScan.Mat]]; the left
  * side streams through [[VecScan]]'s one exact kernel, split by pair work
  * (left rows × right rows × dim) over up to `defaultParallelism` tasks, with
  * no shuffle and no per-pair rows. The merges pin the scan's ≤k (or ≥τ)
  * result before they join and order it, so the scan runs once; the blocked
  * join co-groups both sides on the block key and scans each block with the
  * same kernel. Over the broadcast bound the joins fall back to a shuffled
  * crossJoin reduced by the partial-aggregating `graft_top_k`, so only ≤k
  * rows per left key shuffle. Exact (matches FAISS IndexFlatIP, reference:
  * src/linktransformer/infer.py:144-151) with deterministic tie-break
  * (score desc, right id asc); a null id or vector never matches.
  */
object SemanticJoin {

  /** kNN join over precomputed vector columns.
    * Returns `(left_id, right_id, score, rank)`, rank 1-based best-first.
    */
  def knnJoinVec(
      left: DataFrame, leftId: String, leftVec: String,
      right: DataFrame, rightId: String, rightVec: String,
      k: Int,
      excludeSelf: Boolean = false,
      skipSizeCheck: Boolean = false): DataFrame = {
    // the broadcast path is size-guarded: an over-limit right side falls back
    // to the shuffle plan instead of collecting to the driver (100 TB safety).
    // skipSizeCheck lets callers with a size guarantee by construction (e.g. a
    // ≤nCentroids centroid table) collect without the bound.
    val mat =
      if (skipSizeCheck) Some(VecScan.collectMat(right, rightId, rightVec))
      else VecScan.collectMatIfFits(right, rightId, rightVec)
    mat match {
      case Some(m) => VecScan.knn(left, leftId, leftVec, m, k, excludeSelf)
      case None =>
        // shuffle path for when neither side fits a broadcast: crossJoin pairs,
        // partial-aggregating native top-k so only ≤k rows per left key shuffle
        val pairs0 = shuffleSide(left, leftId, leftVec, "__lid", "l")
          .crossJoin(shuffleSide(right, rightId, rightVec, "__rid", "r"))
        val pairs = if (excludeSelf) pairs0.filter(col("__lid") =!= col("__rid")) else pairs0
        val scored = pairs.select(
          col("__lid"), col("__rid"),
          cosineWithNorms(dot(col("__lvec"), col("__rvec")), col("__lnorm"), col("__rnorm"))
            .as("__score"))
        scored.groupBy(col("__lid"))
          .agg(graft.functions.VecExpressions.topK(k, col("__score"), col("__rid")).as("__top"))
          .select(col("__lid"), posexplode(col("__top")).as(Seq("__pos", "__s")))
          .select(
            col("__lid").as("left_id"),
            col("__s.id").as("right_id"),
            col("__s.score").as("score"),
            (col("__pos") + 1).cast(IntegerType).as("rank"))
    }
  }

  /** One `(id, vec, norm)` side of the shuffle plans, columns named by `idAs`
    * and prefix `p`. A row with a null id or vector never matches, so no side
    * carries one into the pairs.
    */
  private def shuffleSide(df: DataFrame, id: String, vec: String, idAs: String, p: String): DataFrame =
    df.select(col(id).cast("long").as(idAs), asDouble(col(vec)).as(s"__${p}vec"))
      .filter(col(idAs).isNotNull && col(s"__${p}vec").isNotNull)
      .withColumn(s"__${p}norm", norm(col(s"__${p}vec")))

  /** Similarity range join (theta join on cosine >= tau) over precomputed vectors.
    * With `keepUnmatched` (the reference's left-outer semantics, infer.py:852-864),
    * left rows with no match (a null vector never matches) are retained with
    * null right_id/score; a left row with a null id yields no row.
    */
  def rangeJoinVec(
      left: DataFrame, leftId: String, leftVec: String,
      right: DataFrame, rightId: String, rightVec: String,
      tau: Double,
      excludeSelf: Boolean = false,
      keepUnmatched: Boolean = true): DataFrame = {
    VecScan.collectMatIfFits(right, rightId, rightVec) match {
      case Some(m) =>
        VecScan.range(left, leftId, leftVec, m, tau, excludeSelf, keepUnmatched = keepUnmatched)
      case None =>
        val pairs0 = shuffleSide(left, leftId, leftVec, "left_id", "l")
          .crossJoin(shuffleSide(right, rightId, rightVec, "right_id", "r"))
        val pairs = if (excludeSelf) pairs0.filter(col("left_id") =!= col("right_id")) else pairs0
        val matches = pairs
          .withColumn("score",
            cosineWithNorms(dot(col("__lvec"), col("__rvec")), col("__lnorm"), col("__rnorm")))
          .filter(col("score") >= lit(tau))
          .select("left_id", "right_id", "score")
        if (!keepUnmatched) matches
        else left.select(col(leftId).cast("long").as("left_id"))
          .filter(col("left_id").isNotNull)
          .join(matches, Seq("left_id"), "left")
    }
  }

  // ---------------------------------------------------------------------------
  // Text-level operators (embedder in the loop)
  // ---------------------------------------------------------------------------

  private val LeftIdCol = "__graft_lid"
  private val RightIdCol = "__graft_rid"

  private def withTextVec(
      df: DataFrame, keys: Seq[String], idCol: String,
      embedder: Embedder, sep: String): DataFrame = {
    Keys.requireNoReserved(df, Seq(LeftIdCol, RightIdCol, "__graft_text", "__graft_vec"))
    val withId = df.withColumn(idCol, monotonically_increasing_id())
    val withText = withId.withColumn("__graft_text",
      Serialize.serializeColumns(keys.map(withId(_)), sep))
    // Materialize once before the plan branches (kNN path + join-back path):
    // monotonically_increasing_id is NOT stable across re-evaluations when the
    // input arrives through a shuffle, so branching without a checkpoint can
    // silently misalign the join-back. This is also the embed-once-reuse
    // optimization (reference: infer.py:244-247, CHANGELOG.md:71-72) — the
    // embedding stage is the expensive one and must not run twice.
    // model/API embedders: embed each DISTINCT key text once, join vectors
    // back (reference evaluation.py:448-451) — the distinct+join shuffle is
    // cheap against re-running a model on duplicate keys at scale
    val embedded =
      if (embedder.preferDedup)
        graft.embed.Embedder.embedDistinct(withText, "__graft_text", "__graft_vec", embedder)
      else embedder.embed(withText, "__graft_text", "__graft_vec")
    embedded.localCheckpoint(true)
  }

  /** Semantic top-k join of two arbitrary DataFrames on serialized key columns —
    * the engine's `merge_knn` (reference: src/linktransformer/infer.py:564-711).
    * Output: all df1 columns, all df2 columns (shared names suffixed), `score`;
    * k rows per left row, ordered (left, rank).
    */
  def mergeKnn(
      df1: DataFrame, df2: DataFrame,
      on: Seq[String] = Nil, leftOn: Seq[String] = Nil, rightOn: Seq[String] = Nil,
      embedder: Embedder,
      k: Int = 1,
      suffixes: (String, String) = ("_x", "_y"),
      sep: String = Serialize.DefaultSep): DataFrame = {
    val (lk, rk) = Keys.resolve(df1.columns, df2.columns, on, leftOn, rightOn)
    val l = withTextVec(df1, lk, LeftIdCol, embedder, sep)
    val r = withTextVec(df2, rk, RightIdCol, embedder, sep)

    // materialized (lazily, by the first job that reads it): the ordering's
    // range-partition sample would otherwise run the scan a second time
    val knn = knnJoinVec(
      l, LeftIdCol, "__graft_vec",
      r, RightIdCol, "__graft_vec", k).localCheckpoint(false)

    // string-name joins (all names disjoint after suffixing) — dataset column
    // refs would trip DetectAmbiguousSelfJoin when df1/df2 share lineage
    val (ls, rs) = Keys.suffixConflicts(
      l.drop("__graft_text", "__graft_vec"),
      r.drop("__graft_text", "__graft_vec"), suffixes)
    val outCols = (ls.columns.filterNot(_ == LeftIdCol) ++
      rs.columns.filterNot(_ == RightIdCol)).map(col) :+ col("score")

    val joined = knn.join(ls.withColumnRenamed(LeftIdCol, "left_id"), Seq("left_id"))
      .join(rs.withColumnRenamed(RightIdCol, "right_id"), Seq("right_id"))
    joined.orderBy(col("left_id"), col("rank")).select(outCols: _*)
  }

  /** Semantic 1-NN join — the engine's `merge` (reference: infer.py:24-164). */
  def merge(
      df1: DataFrame, df2: DataFrame,
      on: Seq[String] = Nil, leftOn: Seq[String] = Nil, rightOn: Seq[String] = Nil,
      embedder: Embedder,
      suffixes: (String, String) = ("_x", "_y")): DataFrame =
    mergeKnn(df1, df2, on, leftOn, rightOn, embedder, k = 1, suffixes)

  /** Similarity range join over text keys with left-outer retention and stable
    * left ordering — the engine's `merge_range` (reference: infer.py:714-874).
    */
  def mergeRange(
      df1: DataFrame, df2: DataFrame,
      on: Seq[String] = Nil, leftOn: Seq[String] = Nil, rightOn: Seq[String] = Nil,
      embedder: Embedder,
      simThreshold: Double = 0.7,
      suffixes: (String, String) = ("_x", "_y"),
      sep: String = Serialize.DefaultSep): DataFrame = {
    val (lk, rk) = Keys.resolve(df1.columns, df2.columns, on, leftOn, rightOn)
    val l = withTextVec(df1, lk, LeftIdCol, embedder, sep)
    val r = withTextVec(df2, rk, RightIdCol, embedder, sep)

    // materialized for the same reason as mergeKnn's scan: the ordering
    // samples its input before it shuffles it
    val rj = rangeJoinVec(
      l, LeftIdCol, "__graft_vec",
      r, RightIdCol, "__graft_vec",
      tau = simThreshold, keepUnmatched = true).localCheckpoint(false)

    val (ls, rs) = Keys.suffixConflicts(
      l.drop("__graft_text", "__graft_vec"),
      r.drop("__graft_text", "__graft_vec"), suffixes)
    val outCols = (ls.columns.filterNot(_ == LeftIdCol) ++
      rs.columns.filterNot(_ == RightIdCol)).map(col) :+ col("score")

    rj.join(ls.withColumnRenamed(LeftIdCol, "left_id"), Seq("left_id"))
      .join(rs.withColumnRenamed(RightIdCol, "right_id"), Seq("right_id"), "left")
      .orderBy(col("left_id"), desc_nulls_last("score"), col("right_id"))
      .select(outCols: _*)
  }

  /** Blocked equi+semantic join — the engine's `merge_blocking`
    * (reference: infer.py:169-274). One co-group on the block key, each block
    * scanned by the exact kernel for its top-1 ([[blockTop1]]), instead of the
    * reference's per-block Python loop; blocks present on only one side
    * pass through unmatched with their original (unsuffixed) columns, union'd by
    * name with nulls elsewhere (reference: infer.py:240-274).
    */
  def mergeBlocking(
      df1: DataFrame, df2: DataFrame,
      blockingVars: Seq[String],
      on: Seq[String] = Nil, leftOn: Seq[String] = Nil, rightOn: Seq[String] = Nil,
      embedder: Embedder,
      suffixes: (String, String) = ("_x", "_y"),
      sep: String = Serialize.DefaultSep): DataFrame = {
    require(blockingVars.forall(df1.columns.contains),
      s"Blocking vars $blockingVars not in df1")
    require(blockingVars.forall(df2.columns.contains),
      s"Blocking vars $blockingVars not in df2")
    val (lk, rk) = Keys.resolve(df1.columns, df2.columns, on, leftOn, rightOn)
    val l = withTextVec(df1, lk, LeftIdCol, embedder, sep)
    val r = withTextVec(df2, rk, RightIdCol, embedder, sep)

    val best = blockTop1(l, r, blockingVars, embedder.dim)
    val (ls, rs) = Keys.suffixConflicts(
      l.drop("__graft_text", "__graft_vec"),
      r.drop("__graft_text", "__graft_vec"), suffixes)
    val matched = best
      .join(ls.withColumnRenamed(LeftIdCol, "left_id"), Seq("left_id"))
      .join(rs.withColumnRenamed(RightIdCol, "right_id"), Seq("right_id"))
      .select((ls.columns.filterNot(_ == LeftIdCol) ++
        rs.columns.filterNot(_ == RightIdCol)).map(col) :+ col("score"): _*)

    // pass-through rows from blocks present on only one side
    val blockCols = blockingVars.map(col)
    val d1 = df1
    val d2 = df2
    val leftOnly = d1.join(d2.select(blockCols: _*).distinct(), blockingVars, "left_anti")
    val rightOnly = d2.join(d1.select(blockCols: _*).distinct(), blockingVars, "left_anti")

    matched
      .unionByName(leftOnly, allowMissingColumns = true)
      .unionByName(rightOnly, allowMissingColumns = true)
  }

  /** Best right row per left row within equal block keys:
    * `(left_id, right_id, score)`. Both sides are co-grouped on the block
    * key; within a block the right rows form a [[VecScan.Mat]] that each left
    * row scans with the exact kernel (top-1, (score desc, id asc)). A null
    * block key matches nothing (pandas drops NaN groups), nor does a null
    * vector. The block keys are grouped in the type `===` compares them in
    * ([[equalityTypes]]), so a block matches here exactly when the one-side
    * anti-joins of [[mergeBlocking]] find it on both sides. The co-group
    * runs on as many partitions as the pair work warrants
    * ([[VecScan.slicesFor]]), which AQE does not coalesce back.
    */
  private def blockTop1(l: DataFrame, r: DataFrame, blockingVars: Seq[String],
      dim: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val spark = l.sparkSession
    val keyTypes = equalityTypes(l, r, blockingVars)
    def keyed(df: DataFrame, id: String) = df
      .select(blockingVars.zip(keyTypes).map { case (c, t) => col(c).cast(t).as(c) } ++
        Seq(col(id).cast("long").as("__id"), asDouble(col("__graft_vec")).as("__v")): _*)
      .filter(blockingVars.map(col(_).isNotNull).reduce(_ && _) &&
        col("__id").isNotNull && col("__v").isNotNull)
    val lk = keyed(l, LeftIdCol)
    val rk = keyed(r, RightIdCol)
    val parts = VecScan.slicesFor(VecScan.estimatedRows(lk.queryExecution.optimizedPlan),
      math.min(VecScan.estimatedRows(rk.queryExecution.optimizedPlan), Int.MaxValue).toInt,
      dim, upper = false, spark.sparkContext.defaultParallelism)
    val keyEnc = Encoders.row(StructType(lk.schema.take(blockingVars.length)))
    def grouped(df: DataFrame) = df.repartition(parts, blockingVars.map(col): _*)
      .groupBy(blockingVars.map(col): _*).as[Row, Row](keyEnc, Encoders.row(df.schema))
    val idAt = blockingVars.length
    val pairs = VecScan.pairsScored(spark.sparkContext)
    grouped(lk).cogroup(grouped(rk)) { (_, ls, rs) =>
      val rows = rs.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val m = VecScan.Mat.of(rows.map(_.getLong(idAt)),
          rows.map(_.getSeq[Double](idAt + 1).toArray))
        val out = new Array[Double](m.size)
        val buf = new graft.functions.TopKBuffer(1)
        ls.map { row =>
          val lid = row.getLong(idAt)
          VecScan.topK(lid, row.getSeq[Double](idAt + 1).toArray, m, excludeSelf = false, buf, out)
          pairs.add(m.size)
          (lid, buf.ids(0), buf.scores(0))
        }
      }
    }(Encoders.product[(Long, Long, Double)]).toDF("left_id", "right_id", "score")
  }

  /** Per column of `cols`, the type Spark's `===` compares a value of `l`'s
    * column with one of `r`'s in (its implicit coercion; analysis only, no
    * job).
    */
  private def equalityTypes(l: DataFrame, r: DataFrame, cols: Seq[String]): Seq[DataType] = {
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    cols.map { c =>
      val (lt, rt) = (l.schema(c).dataType, r.schema(c).dataType)
      if (lt == rt) lt
      else l.sparkSession.range(0).select(lit(null).cast(lt) === lit(null).cast(rt))
        .queryExecution.analyzed.expressions.head
        .collectFirst { case e: EqualTo => e.left.dataType }.get
    }
  }

  /** Semantic many-to-one rollup onto a small reference table — the engine's
    * `aggregate_rows` (reference: infer.py:279-312): a 1-NN merge where the
    * reference side is broadcast.
    */
  def aggregateRows(
      df: DataFrame, refDf: DataFrame,
      leftOn: Seq[String], rightOn: Seq[String],
      embedder: Embedder,
      suffixes: (String, String) = ("_x", "_y")): DataFrame =
    merge(df, refDf, Nil, leftOn, rightOn, embedder, suffixes)
}
