package graft.train

import graft.core.Serialize
import graft.operators.Clustering
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation as pure DataFrame jobs — the dataflow contract of the
  * reference's preprocessing pipeline (reference: src/linktransformer/preprocess.py),
  * with the torch gradient step fenced out per SURVEY §7.0.
  *
  * Everything here is shuffle-bounded and driver-light: group-id assignment ranks
  * only the distinct-key set (not all rows), cluster formation is the distributed
  * connected-components of [[graft.operators.Clustering]], and splits are semi-joins
  * against a (small) bucketed cluster-id table.
  */
object TrainPrep {

  /** Broadcast the key→id mapping only below this row count; above it the
    * distinct-key set is itself big data (high-cardinality keys at 100 TB) and
    * a forced broadcast would blow executor memory — fall through to a plain
    * equi-join and let Catalyst pick SMJ/shuffled-hash.
    */
  val MaxBroadcastGroupKeys: Long = 4L * 1000 * 1000

  /** Dense 0-based group ids per distinct key tuple, in key sort order — the
    * engine's `groupby(ids).ngroup()` (reference: preprocess.py:51, 131-147).
    *
    * Scale shape: rank only `distinct(keys)` and join the mapping back, and
    * rank it with [[graft.core.Prefix.globalIndex]] (range-partitioned local
    * ranks + per-partition offsets) — no single-task global window anywhere,
    * even when the distinct-key set itself is large.
    */
  def assignGroupIds(
      df: DataFrame, keys: Seq[String], outCol: String = "group_id",
      maxBroadcastKeys: Long = MaxBroadcastGroupKeys): DataFrame = {
    // the key count falls out of the prefix-scan's offsets pass — no extra job
    val (mapping, nKeys) = graft.core.Prefix.globalIndexWithCount(
      df.select(keys.map(col): _*).distinct(), keys.map(col), outCol)
    df.join(if (nKeys <= maxBroadcastKeys) broadcast(mapping) else mapping, keys)
  }

  /** Cluster labels from positive pairs: edges (leftId, rightId) → connected
    * components (reference: preprocess.py:535-540, cluster_fns.py:81-93).
    * Returns `(id, cluster)`, cluster = min reachable id.
    */
  def clustersFromPairs(pairs: DataFrame, leftCol: String, rightCol: String): DataFrame = {
    val nodes = pairs.select(col(leftCol).cast("long").as("id"))
      .union(pairs.select(col(rightCol).cast("long").as("id")))
      .distinct()
    Clustering.connectedComponents(nodes, pairs.select(col(leftCol), col(rightCol)))
      .withColumnRenamed("component", "cluster")
  }

  /** Split by CLUSTER id, not by row — all members of a cluster land in the same
    * split, so train/val/test never share an entity (the behavior to preserve
    * per SURVEY §2.9; reference: preprocess.py:553-561).
    *
    * Deterministic: cluster → bucket in [0, 100) via `pmod(clusterId, 100)`;
    * cumulative weight ranges pick the split. Returns the input plus a `split`
    * column ("train"/"val"/"test"). The bucket table is tiny → broadcast semi-map.
    */
  def splitByCluster(
      df: DataFrame, clusterCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val bucket = pmod(col(clusterCol).cast("long"), lit(100))
    df.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Seeded random split by cluster (contract-compatible with the reference's
    * `train_test_split(random_state=...)` over cluster ids). Non-reproducible
    * across engines — use [[splitByCluster]] where oracle determinism matters.
    */
  def randomSplitByCluster(
      df: DataFrame, clusterCol: String,
      weights: Array[Double], seed: Long): Array[DataFrame] = {
    val clusters = df.select(col(clusterCol)).distinct()
    // no forced broadcast: the distinct-cluster set can itself be big data at
    // scale — plain semi-join lets AQE pick broadcast when it actually fits
    clusters.randomSplit(weights, seed).map { part =>
      df.join(part, Seq(clusterCol), "left_semi")
    }
  }

  /** Train dict {cluster → member texts}, deduped (reference: preprocess.py:581-587).
    *
    * `memberSep = Some(s)` emits `texts` as one sorted `s`-joined string instead
    * of `array<string>` — the hashable form for flat-file sinks and row-compare
    * harnesses that cannot sort/hash array cells.
    */
  def clusterMembers(
      df: DataFrame, clusterCol: String, textCols: Seq[String],
      sep: String = Serialize.DefaultSep,
      memberSep: Option[String] = None): DataFrame = {
    val withText = df.withColumn("__text",
      Serialize.serializeColumns(textCols.map(df(_)), sep))
    val members = sort_array(collect_set(col("__text")))
    withText.groupBy(col(clusterCol).as("cluster"))
      .agg(memberSep.fold(members)(s => array_join(members, s)).as("texts"))
  }

  /** IR-eval structures: (queries, corpus, relevant_docs) as three DataFrames
    * (reference: preprocess.py:599-623 builds dicts; the DataFrame forms are
    * `(qid, text)`, `(did, text)`, `(qid, did)` with qid/did = row ids and
    * relevance = same cluster).
    */
  def irEvalSplit(
      df: DataFrame, idCol: String, clusterCol: String, textCol: String): (DataFrame, DataFrame, DataFrame) = {
    // query = first member of each cluster (min id); corpus = everything
    val w = Window.partitionBy(col(clusterCol)).orderBy(col(idCol))
    val ranked = df.withColumn("__rn", row_number().over(w))
    val queries = ranked.filter(col("__rn") === 1)
      .select(col(idCol).as("qid"), col(textCol).as("text"), col(clusterCol))
    val corpus = df.select(col(idCol).as("did"), col(textCol).as("text"), col(clusterCol))
    val relevant = queries.select(col("qid"), col(clusterCol))
      .join(corpus.select(col("did"), col(clusterCol)), Seq(clusterCol))
      .filter(col("qid") =!= col("did"))
      .select("qid", "did")
    (queries.drop(clusterCol), corpus.drop(clusterCol), relevant)
  }

  /** Normalized label distribution — `value_counts(normalize=True)`
    * (reference: train_clf_model.py:35-37).
    */
  def labelDistribution(df: DataFrame, labelCol: String): DataFrame = {
    val counts = df.groupBy(col(labelCol)).agg(count(lit(1)).as("n"))
    // broadcast the grand total instead of an empty-partition window (which
    // coalesces to one task); Catalyst reuses the counts exchange for both.
    val total = counts.agg(sum("n").as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("frac", col("n") / col("__total"))
      .drop("__total")
  }
}
