package graft.operators

import graft.core.Serialize
import graft.embed.Embedder
import graft.functions.VectorOps._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise similarity scoring and retrieval-quality metrics.
  *
  * `evaluatePairs` scores already-paired columns rowwise (reference:
  * src/linktransformer/infer.py:316-375); `allPairCombos` emits the full n×m
  * long-form score table (reference: infer.py:490-560, which flattens a sklearn
  * cosine matrix — the long form is the Spark-native shape, no matrix needed).
  * Retrieval metrics mirror modified_sbert/evaluation.py:294-405.
  */
object PairScoring {

  /** Rowwise cosine of two text columns. Codegen embedders stay a pure
    * projection (no join, no shuffle); model-shaped embedders
    * (`preferDedup`) embed each distinct text across BOTH columns once and
    * join the vectors back (reference evaluation.py:448-451).
    */
  def evaluatePairs(
      df: DataFrame, leftOn: Seq[String], rightOn: Seq[String],
      embedder: Embedder, scoreCol: String = "score",
      sep: String = Serialize.DefaultSep): DataFrame = {
    val t1 = df.withColumn("__t1", Serialize.serializeColumns(leftOn.map(df(_)), sep))
    val t2 = t1.withColumn("__t2", Serialize.serializeColumns(rightOn.map(t1(_)), sep))
    val e2 =
      if (embedder.preferDedup) {
        val texts = t2.select(col("__t1").as("__t")).union(t2.select(col("__t2"))).distinct()
        val vecs = embedder.embed(texts, "__t", "__v").localCheckpoint(true)
        t2.join(vecs.select(col("__t").as("__t1"), col("__v").as("__v1")), Seq("__t1"))
          .join(vecs.select(col("__t").as("__t2"), col("__v").as("__v2")), Seq("__t2"))
      } else {
        embedder.embed(embedder.embed(t2, "__t1", "__v1"), "__t2", "__v2")
      }
    e2.withColumn(scoreCol, cosineNormalized(col("__v1"), col("__v2")))
      .drop("__t1", "__t2", "__v1", "__v2")
  }

  /** Full pairwise score table: returns (leftKey..., rightKey..., score) only,
    * mirroring the reference's output shape (infer.py:558).
    */
  def allPairCombos(
      df1: DataFrame, leftOn: Seq[String],
      df2: DataFrame, rightOn: Seq[String],
      embedder: Embedder,
      sep: String = Serialize.DefaultSep): DataFrame = {
    val l0 = df1.select(leftOn.map(df1(_)): _*).distinct()
    val r0 = df2.select(rightOn.map(df2(_)): _*).distinct()
    val l = embedder.embed(
      l0.withColumn("__t", Serialize.serializeColumns(leftOn.map(l0(_)), sep)), "__t", "__v1")
    val r = embedder.embed(
      r0.withColumn("__t", Serialize.serializeColumns(rightOn.map(r0(_)), sep)), "__t", "__v2")
      .withColumnsRenamed(rightOn.filter(leftOn.contains).map(c => c -> (c + "_y")).toMap)
    // broadcast only when the embedded right side fits the configured bound —
    // an unguarded broadcast of a large df2 OOMs executors; above the bound the
    // plain crossJoin shuffles instead (the pair table is O(n·m) either way).
    // Sized on the PRE-embed distinct key count (rows × dim × 8): running the
    // size census on the embedded frame would execute the (model-priced) embed
    // stage once for the census and again for the join.
    val rhs = r.drop("__t")
    // pin the LEFT side before the cross join: whole-stage codegen defers
    // stream-side projections into the nested-loop's inner loop (the
    // Pq.pqTopK lesson), so a codegen embedder's __v1 — serialize + md5
    // chain per row — would otherwise be re-evaluated once per PAIR, m
    // times per left row. Both sides are small by this operator's contract
    // (the pair table is O(n·m) either way), so the checkpoint is bounded
    // by the input, not the output; the broadcast side materializes anyway.
    val lhs = l.drop("__t").localCheckpoint(true)
    val joined =
      if (r0.count() * embedder.dim.toLong * 8L <= Regime.MaxBroadcastBytes(r0.sparkSession))
        lhs.crossJoin(broadcast(rhs))
      else lhs.crossJoin(rhs)
    joined
      .withColumn("score", cosineNormalized(col("__v1"), col("__v2")))
      .drop("__v1", "__v2")
  }

  /** Retrieval metrics at k over a ranked candidate table.
    *
    * Input: `(queryId, rank, isRelevant, nRelevant)` — one row per retrieved
    * candidate, rank 1-based. Output: one row of
    * accuracy@k / precision@k / recall@k / mrr@k / ndcg@k / map@k averaged over
    * queries (reference: modified_sbert/evaluation.py:294-405; MAP@k per
    * evaluation.py:357-368: per query, sum over relevant hits of
    * precision-at-their-rank, normalized by min(k, nRelevant)).
    */
  def retrievalMetrics(
      ranked: DataFrame, queryCol: String, rankCol: String,
      relevantCol: String, nRelevantCol: String, k: Int): DataFrame = {
    val q = col(queryCol)
    val rel = col(relevantCol).cast("double")
    // per-query windows partition on the query key — fully parallel at scale
    val wq = Window.partitionBy(q).orderBy(col(rankCol))
    val inK = ranked.filter(col(rankCol) <= k)
      .withColumn("__cumrel", sum(rel).over(wq))
    val perQuery = inK.groupBy(q.as("query"))
      .agg(
        max(rel).as("hit"),
        (sum(rel) / k).as("p_at_k"),
        (sum(rel) / first(col(nRelevantCol))).as("r_at_k"),
        max(when(rel === 1.0, lit(1.0) / col(rankCol)).otherwise(lit(0.0))).as("rr"),
        sum(when(rel === 1.0, lit(1.0) / log2(col(rankCol) + 1)).otherwise(lit(0.0))).as("dcg"),
        sum(when(rel === 1.0, col("__cumrel") / col(rankCol)).otherwise(lit(0.0))).as("sum_prec"),
        first(col(nRelevantCol)).as("n_rel"))
      // ideal DCG: relevant docs at ranks 1..min(nRel,k)
      .withColumn("idcg", expr(s"aggregate(sequence(1, int(least(n_rel, $k))), 0.0d, (a, i) -> a + 1.0d / log2(i + 1))"))
      .withColumn("ndcg", when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(lit(0.0)))
      .withColumn("ap", when(least(col("n_rel"), lit(k)) > 0,
        col("sum_prec") / least(col("n_rel"), lit(k))).otherwise(lit(0.0)))
    perQuery.agg(
      avg("hit").as(s"accuracy_at_$k"),
      avg("p_at_k").as(s"precision_at_$k"),
      avg("r_at_k").as(s"recall_at_$k"),
      avg("rr").as(s"mrr_at_$k"),
      avg("ndcg").as(s"ndcg_at_$k"),
      avg("ap").as(s"map_at_$k"))
  }

  /** Best-F1 threshold over (score, label) pairs — the reference tunes this with
    * hyperopt over a random space (replicate_results_lt.py:210-257); a sorted
    * scan over distinct scores is exact and deterministic instead.
    * Returns one row: (threshold, f1, precision, recall).
    */
  def bestF1Threshold(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val s = scored.select(
      coalesce(col(scoreCol).cast("double"), lit(0.0)).as("score"),
      col(labelCol).cast("double").as("label"))
    // aggregate per distinct score first (partial map-side combine), then a
    // distributed prefix-sum over scores desc — never a single-task window
    // over the raw pair table (PR curves are prefix scans; tied scores share
    // the group total, matching the reference's through-group cumulative).
    // localCheckpoint: the expensive pair table is scanned exactly once;
    // totalPos and the curve both read the tiny per-score aggregate.
    val perScore = s.groupBy("score")
      .agg(sum("label").as("pos"), count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val (cum, totals) = graft.core.Prefix.cumSumsWithTotals(
      perScore, Seq(desc("score")), Seq("pos", "cnt"))
    val totalPos = totals(0)
    val curve = cum
      .select(col("score"), col("__cum_pos").as("tp"), col("__cum_cnt").as("n"))
      .withColumn("precision", col("tp") / col("n"))
      .withColumn("recall", col("tp") / lit(totalPos))
      .withColumn("f1", when(col("precision") + col("recall") > 0,
        lit(2) * col("precision") * col("recall") / (col("precision") + col("recall")))
        .otherwise(lit(0.0)))
    curve.orderBy(desc("f1"), desc("score")).limit(1)
      .select(col("score").as("threshold"), col("f1"), col("precision"), col("recall"))
  }

  /** One output row of [[binaryClassificationMetrics]]. */
  final case class BinaryEvalRow(
      score_fn: String,
      accuracy: Double, accuracy_threshold: Double,
      f1: Double, f1_threshold: Double,
      precision: Double, recall: Double, ap: Double)

  /** Binary-classification pair evaluator over four score functions —
    * cosine / manhattan / euclidean / dot — each with best accuracy+threshold,
    * best F1 / precision / recall + threshold, and average precision
    * (reference: modified_sbert/evaluation.py:409-498; csv headers 436-440).
    *
    * Input: `(vec1, vec2, label∈{0,1})`, one row per pair. Output: 4 rows, one
    * per score function. For similarity scores (cossim, dot) a pair is
    * predicted positive when score ≥ threshold; for distances (manhattan,
    * euclidean) when score ≤ threshold — the reference's `reverse` flag
    * (evaluation.py:464).
    *
    * Scale shape: ONE pass end to end. The pair table is scanned once to
    * produce all four score columns, fanned out long-form (score_fn, score,
    * label) in the same projection, and reduced to a per-(fn, distinct-score)
    * aggregate; a single KEYED distributed prefix scan
    * ([[graft.core.Prefix.cumSumsKeyedWithTotals]]) then sweeps all four PR
    * curves together, and one grouped aggregate extracts best accuracy / best
    * F1 (struct-max argmax with tie-break) and the AP sum per function — no
    * unpartitioned windows, no driver-side sort of the pair table, and 4×
    * fewer jobs/scans than sweeping each score function separately.
    * Tied scores are grouped (threshold semantics over ties are exact rather
    * than the reference's row-by-row scan, which splits ties arbitrarily).
    *
    * AP uses the PR-curve identity Σ (R_i − R_{i−1})·P_i with
    * R_i − R_{i−1} = pos_i / totalPos, so it needs no adjacent-row access —
    * a plain aggregate over the curve (same semantics as sklearn
    * `average_precision_score`, reference evaluation.py:469).
    */
  def binaryClassificationMetrics(
      pairs: DataFrame, vec1Col: String, vec2Col: String, labelCol: String): DataFrame = {
    val spark = pairs.sparkSession
    val v1 = asDouble(col(vec1Col))
    val v2 = asDouble(col(vec2Col))
    // (name, kernel, higherIsBetter): similarities predict positive at
    // score ≥ threshold, distances at score ≤ threshold (the reference's
    // `reverse` flag, evaluation.py:464)
    val kernels = Seq(
      ("cossim", cosine(v1, v2), true), ("manhattan", manhattan(v1, v2), false),
      ("euclidean", euclidean(v1, v2), false), ("dot", dot(v1, v2), true))
    val fns = kernels.map { case (name, _, higher) => (name, higher) }
    // long-form fan-out in the scan projection: one row per (pair, score_fn).
    // __sort flips sign for similarities so ONE ascending order sweeps every
    // curve from "predict-positive-most-eagerly" downward; __tk (= −__sort) is
    // the argmax tie-break: highest score wins ties for similarities, lowest
    // for distances, so plain struct-max realizes both.
    val long = pairs.select(explode(array(kernels.map { case (name, k, higher) =>
      struct(lit(name).as("fn"), k.as("score"),
        (if (higher) -k else k).as("__sort"))
    }: _*)).as("s"), col(labelCol).cast("double").as("label"))
      .select(col("s.fn").as("fn"), col("s.score").as("score"),
        col("s.__sort").as("__sort"), col("label"))
    val perScore = long.groupBy("fn", "score", "__sort")
      .agg(sum("label").as("pos"), count(lit(1)).as("cnt"))
    val (cum, totals) = graft.core.Prefix.cumSumsKeyedWithTotals(
      perScore, Seq("fn"), Seq(asc("__sort")), Seq("pos", "cnt"))
    def totalOf(fn: String, i: Int): Double =
      totals.getOrElse(Seq(fn), Array(0.0, 0.0))(i)
    // per-fn grand totals as a tiny broadcast dimension
    val totalsDf = broadcast(spark.createDataFrame(fns.map { case (name, _) =>
      (name, totalOf(name, 0), totalOf(name, 1))
    }).toDF("fn", "total_pos", "total_n"))
    val curve = cum
      .join(totalsDf, Seq("fn"))
      .select(col("fn"), col("score"), col("pos"), col("total_pos"), col("total_n"),
        col("__cum_pos").as("tp"), col("__cum_cnt").as("n"), (-col("__sort")).as("__tk"))
      .withColumn("precision", col("tp") / col("n"))
      .withColumn("recall", when(col("total_pos") > 0, col("tp") / col("total_pos"))
        .otherwise(lit(0.0)))
      .withColumn("accuracy",
        (col("tp") + (col("total_n") - col("n")) - (col("total_pos") - col("tp"))) / col("total_n"))
      .withColumn("f1", when(col("precision") + col("recall") > 0,
        lit(2) * col("precision") * col("recall") / (col("precision") + col("recall")))
        .otherwise(lit(0.0)))
    val byFn = curve.groupBy("fn").agg(
      max(struct(col("accuracy"), col("__tk"), col("score"))).as("ba"),
      max(struct(col("f1"), col("__tk"), col("score"),
        col("precision"), col("recall"))).as("bf"),
      sum(col("pos") * col("precision")).as("sumap"))
      .collect().map(r => r.getString(0) -> r).toMap
    val rows = fns.map { case (name, _) =>
      byFn.get(name) match {
        case Some(r) =>
          val ba = r.getStruct(1)
          val bf = r.getStruct(2)
          val totalPos = totalOf(name, 0)
          val ap = if (totalPos == 0) 0.0 else r.getDouble(3) / totalPos
          BinaryEvalRow(name, ba.getDouble(0), ba.getDouble(2),
            bf.getDouble(0), bf.getDouble(2), bf.getDouble(3), bf.getDouble(4), ap)
        case None => // empty input: no pairs, no curve — all-zero row
          BinaryEvalRow(name, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
      }
    }
    spark.createDataFrame(rows)
  }

  /** Text-level wrapper: serialize + embed both sides, then run the
    * four-function evaluator. Distinct texts are embedded once across both
    * sides (the reference dedupes the union of sentence lists before encoding,
    * evaluation.py:448-451) — at 100 TB the embed stage dominates, so the
    * dedup-embed-join shape matters more than it looks.
    */
  def evaluateBinaryPairs(
      df: DataFrame, leftOn: Seq[String], rightOn: Seq[String], labelCol: String,
      embedder: Embedder, sep: String = Serialize.DefaultSep): DataFrame = {
    val withTexts = df.select(
      Serialize.serializeColumns(leftOn.map(df(_)), sep).as("__t1"),
      Serialize.serializeColumns(rightOn.map(df(_)), sep).as("__t2"),
      col(labelCol).as("__label"))
    val texts = withTexts.select(col("__t1").as("__t"))
      .union(withTexts.select(col("__t2"))).distinct()
    val embedded = embedder.embed(texts, "__t", "__v").localCheckpoint(true)
    val paired = withTexts
      .join(embedded.select(col("__t").as("__t1"), col("__v").as("__v1")), Seq("__t1"))
      .join(embedded.select(col("__t").as("__t2"), col("__v").as("__v2")), Seq("__t2"))
    binaryClassificationMetrics(paired, "__v1", "__v2", "__label")
  }
}
