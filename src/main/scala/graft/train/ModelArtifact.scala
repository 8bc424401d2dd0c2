package graft.train

import graft.embed.Embedder
import graft.operators.{IndexLayout, Regime}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training configuration mirroring the reference's JSON config surface
  * (reference: src/linktransformer/configs/linkage.json:1-25; loaded and
  * override-merged in train_model.py:138-144). Fields the torch trainer would
  * consume (learning rate, loss params, wandb) are carried through verbatim so
  * a config written by this engine round-trips into the reference's trainer.
  */
case class TrainConfig(
    modelSaveDir: String = "models",
    modelSaveName: String = "linkage",
    trainBatchSize: Int = 64,
    numEpochs: Int = 10,
    warmUpPerc: Double = 1.0,
    learningRate: Double = 2e-5,
    lossType: String = "supcon",
    valPerc: Double = 0.2,
    largeVal: Boolean = true,
    evalStepsPerc: Double = 0.5,
    testAtEnd: Boolean = true,
    saveValTestPickles: Boolean = true,
    valQueryProp: Double = 0.5)

object TrainConfig {

  /** Keys use the reference's exact snake_case names so configs interoperate. */
  def toJson(c: TrainConfig): String = {
    val m = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val node = m.createObjectNode()
    node.put("model_save_dir", c.modelSaveDir)
    node.put("model_save_name", c.modelSaveName)
    node.put("train_batch_size", c.trainBatchSize)
    node.put("num_epochs", c.numEpochs)
    node.put("warm_up_perc", c.warmUpPerc)
    node.put("learning_rate", c.learningRate)
    node.put("loss_type", c.lossType)
    node.put("val_perc", c.valPerc)
    node.put("large_val", c.largeVal)
    node.put("eval_steps_perc", c.evalStepsPerc)
    node.put("test_at_end", c.testAtEnd)
    node.put("save_val_test_pickles", c.saveValTestPickles)
    node.put("val_query_prop", c.valQueryProp)
    m.writerWithDefaultPrettyPrinter().writeValueAsString(node)
  }

  def fromJson(json: String): TrainConfig = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    def s(k: String, d: String) = if (node.has(k)) node.get(k).asText() else d
    def i(k: String, d: Int) = if (node.has(k)) node.get(k).asInt() else d
    def dd(k: String, d: Double) = if (node.has(k)) node.get(k).asDouble() else d
    def b(k: String, d: Boolean) = if (node.has(k)) node.get(k).asBoolean() else d
    val base = TrainConfig()
    TrainConfig(
      modelSaveDir = s("model_save_dir", base.modelSaveDir),
      modelSaveName = s("model_save_name", base.modelSaveName),
      trainBatchSize = i("train_batch_size", base.trainBatchSize),
      numEpochs = i("num_epochs", base.numEpochs),
      warmUpPerc = dd("warm_up_perc", base.warmUpPerc),
      learningRate = dd("learning_rate", base.learningRate),
      lossType = s("loss_type", base.lossType),
      valPerc = dd("val_perc", base.valPerc),
      largeVal = b("large_val", base.largeVal),
      evalStepsPerc = dd("eval_steps_perc", base.evalStepsPerc),
      testAtEnd = b("test_at_end", base.testAtEnd),
      saveValTestPickles = b("save_val_test_pickles", base.saveValTestPickles),
      valQueryProp = dd("val_query_prop", base.valQueryProp))
  }
}

/** The gradient step behind a trait (SURVEY §7.0): the engine preserves the
  * training pipeline's DATAFLOW (preprocess → split → fit → eval → persist)
  * and fences out torch. The default fitter returns the base embedder
  * unchanged — plug a real ONNX/JNI trainer in here out-of-engine.
  */
trait ModelFitter extends Serializable {
  /** @param trainClusters (cluster, text) training groups (positives share a cluster) */
  def fit(trainClusters: DataFrame, base: Embedder, config: TrainConfig): Embedder
}

/** No-op fitter: the embedding model is treated as frozen. */
class IdentityFitter extends ModelFitter {
  override def fit(trainClusters: DataFrame, base: Embedder, config: TrainConfig): Embedder = base
}

/** Centroid fitter — the cheapest useful "fit" without a gradient framework.
  *
  * For every training cluster it computes the centroid of the members' base
  * embeddings; the fitted embedder pulls a KNOWN training text toward its
  * cluster centroid (`v' = normalize((1−α)·v + α·c)`) and leaves unseen text
  * untouched. That reproduces on the train set the geometry contrastive
  * training induces — positive-cluster members move together, so 1-NN merges
  * and ε-clustering over training entities tighten (reference loss intent:
  * modified_sbert/losses.py:31-61) — while inference on novel text falls back
  * to the base model.
  *
  * The text→centroid map is collected and broadcast only while BOTH bounds
  * hold: `maxTrainTexts` rows AND `maxCollectBytes` of estimated driver heap
  * (count × (dim×8 + 2×avg text chars + per-entry overhead) — a 2M-text map
  * at dim 768 is ~12 GB, which a row-count bound alone would wave through).
  * Above either bound `fit` logs and returns the base embedder unchanged
  * (real gradient training belongs out-of-engine, SURVEY §7.0).
  */
class CentroidFitter(
    alpha: Double = 0.5,
    maxTrainTexts: Long = 2000000L,
    maxCollectBytes: Long = 256L << 20)
  extends ModelFitter with org.apache.spark.internal.Logging {
  override def fit(trainClusters: DataFrame, base: Embedder, config: TrainConfig): Embedder = {
    import org.apache.spark.sql.functions._
    val spark = trainClusters.sparkSession
    val Array(cCol, tCol) = trainClusters.columns.take(2)
    val embedded = base.embed(
      trainClusters.select(col(cCol).as("__c"), col(tCol).as("__t")).distinct(),
      "__t", "__v").localCheckpoint(true)
    val stats = embedded.agg(
      count(lit(1)), coalesce(avg(length(col("__t"))), lit(0.0))).first()
    val n = stats.getLong(0)
    val estBytes = ModelArtifact.estimatedCentroidMapBytes(n, base.dim, stats.getDouble(1))
    if (n > maxTrainTexts || estBytes > maxCollectBytes) {
      logWarning(
        s"CentroidFitter: $n train texts / ~$estBytes estimated map bytes exceed " +
        s"the collect bound (maxTrainTexts=$maxTrainTexts, " +
        s"maxCollectBytes=$maxCollectBytes); returning the base embedder " +
        s"unfitted. Raise the bounds or fit out-of-engine.")
      return base
    }
    val centroids = graft.core.VecAgg.elementWiseMean(embedded, "__c", "__v", "__cent")
    // a text in several clusters contributes to every cluster's centroid but
    // resolves to its MIN cluster's pull — deterministic, where last-in-map
    // would depend on partition collection order
    val textCentroid = embedded.groupBy("__t").agg(min("__c").as("__c"))
      .join(centroids, "__c")
      .select("__t", "__cent").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    new CentroidAdjustedEmbedder(base, spark.sparkContext.broadcast(textCentroid), alpha)
  }
}

/** Embedder produced by [[CentroidFitter]]: base embedding, then the
  * broadcast centroid pull for training texts.
  */
class CentroidAdjustedEmbedder(
    val base: Embedder,
    val centroids: org.apache.spark.broadcast.Broadcast[Map[String, Array[Double]]],
    val alpha: Double) extends Embedder {
  def dim: Int = base.dim

  /** Wrapping must not lose the base model's embed-once policy. */
  override def preferDedup: Boolean = base.preferDedup

  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = alpha
    val bc = centroids
    val adjust = udf { (t: String, v: Seq[Double]) =>
      bc.value.get(t) match {
        case Some(c) =>
          val out = new Array[Double](v.length)
          var i = 0; var n = 0.0
          while (i < out.length) { out(i) = (1 - a) * v(i) + a * c(i); n += out(i) * out(i); i += 1 }
          val nn = math.max(math.sqrt(n), 1e-12)
          i = 0
          while (i < out.length) { out(i) /= nn; i += 1 }
          out.toSeq
        case None => v
      }
    }
    base.embed(df, textCol, outCol).withColumn(outCol, adjust(col(textCol), col(outCol)))
  }
}

/** Model artifact directory: `LT_training_config.json` (reference name —
  * modelling/LinkTransformer.py:272-275) plus parquet sidecars replacing the
  * reference's val/test pickles (train_model.py:182-189).
  */
object ModelArtifact {

  /** Estimated driver-heap bytes of a text→centroid HashMap: per entry one
    * double[] (dim×8 + header) + a UTF-16 String (2×chars + header) + map
    * entry overhead (~128 B combined headers/entry).
    */
  private[train] def estimatedCentroidMapBytes(n: Long, dim: Int, avgTextChars: Double): Long =
    (n.toDouble * (dim.toDouble * 8 + 2 * avgTextChars + 128)).toLong

  def save(
      dir: String,
      config: TrainConfig,
      valQueries: Option[DataFrame] = None,
      valCorpus: Option[DataFrame] = None,
      valRelevant: Option[DataFrame] = None): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(
      p.resolve("LT_training_config.json"),
      TrainConfig.toJson(config).getBytes("UTF-8"))
    valQueries.foreach(_.write.mode("overwrite").parquet(s"$dir/val_queries.parquet"))
    valCorpus.foreach(_.write.mode("overwrite").parquet(s"$dir/val_corpus.parquet"))
    valRelevant.foreach(_.write.mode("overwrite").parquet(s"$dir/val_relevant.parquet"))
  }

  def loadConfig(dir: String): TrainConfig =
    TrainConfig.fromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "LT_training_config.json")), "UTF-8"))

  private def fittedMetaPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "fitted_meta.json")
  private def centroidsPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "centroids.parquet")

  /** Persist a fitted embedder's learned state — the analogue of the
    * reference saving model weights into the artifact dir
    * (modelling/LinkTransformer.py:79-136). A [[CentroidAdjustedEmbedder]]
    * writes its text→centroid table plus (alpha, dim) meta; an
    * unfitted/identity model DELETES any fitted state a previous run left in
    * the dir (otherwise a retrain that fell back to the base model would
    * silently resurrect stale centroids on reload). Meta I/O goes through the
    * Hadoop FS API so hdfs:/s3a: artifact dirs work like local ones.
    */
  def saveFitted(spark: SparkSession, dir: String, embedder: Embedder): Unit = {
    val fs = fittedMetaPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    embedder match {
      case c: CentroidAdjustedEmbedder =>
        val rows = c.centroids.value.toSeq.map { case (t, v) => (t, v.toSeq) }
        // distribute before writing: a LocalRelation would hold yet another
        // driver-side copy of a map that can reach ~GB at the fitter's bound
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, math.max(1, rows.size / 100000)))
          .toDF("text", "centroid")
          .write.mode("overwrite").parquet(centroidsPath(dir).toString)
        IndexLayout.writeJson(fs, fittedMetaPath(dir),
          s"""{"type": "centroid", "alpha": ${c.alpha}, "dim": ${c.dim}}""", overwrite = true)
      case _ =>
        if (fs.exists(fittedMetaPath(dir))) fs.delete(fittedMetaPath(dir), false)
        if (fs.exists(centroidsPath(dir))) fs.delete(centroidsPath(dir), true)
    }
  }

  /** Reload a fitted embedder saved by [[saveFitted]] on top of `base`;
    * returns `base` unchanged when the artifact holds no fitted state.
    * Fails fast when the artifact's dimension does not match `base` (blending
    * vectors from two embedding spaces would be silent corruption).
    */
  def loadFitted(spark: SparkSession, dir: String, base: Embedder): Embedder = {
    val fs = fittedMetaPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(fittedMetaPath(dir))) return base
    val node = IndexLayout.readJson(fs, fittedMetaPath(dir))
    val tpe = Option(node.get("type")).map(_.asText()).getOrElse(
      throw new IllegalArgumentException(s"$dir/fitted_meta.json is malformed: missing \"type\""))
    require(tpe == "centroid", s"unknown fitted-model type '$tpe' in $dir")
    val alpha = node.get("alpha").asDouble()
    val dim = Option(node.get("dim")).map(_.asInt()).getOrElse(base.dim)
    require(dim == base.dim,
      s"fitted artifact in $dir was trained at dim=$dim but the base embedder has dim=${base.dim}")
    val centroidsDf = spark.read.parquet(centroidsPath(dir).toString)
    // size-guard the collect: the artifact may have been written under a
    // larger fit config than this cluster's driver can hold
    val maxBytes = Regime.FittedMaxCollectBytes(spark)
    import org.apache.spark.sql.functions.{avg, coalesce, count, length, lit, col => fcol}
    val stats = centroidsDf.agg(
      count(lit(1)), coalesce(avg(length(fcol("text"))), lit(0.0))).first()
    val estBytes = estimatedCentroidMapBytes(stats.getLong(0), dim, stats.getDouble(1))
    require(estBytes <= maxBytes,
      s"fitted artifact in $dir holds ${stats.getLong(0)} centroids " +
      s"(~$estBytes estimated bytes), over the ${Regime.FittedMaxCollectBytes.key} bound " +
      s"of $maxBytes — raise the bound on a driver large enough to hold it, or " +
      s"refit under a smaller config")
    val map = centroidsDf
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    new CentroidAdjustedEmbedder(base, spark.sparkContext.broadcast(map), alpha)
  }

  /** End-to-end `train_model` dataflow over positive text pairs
    * (reference: train_model.py:101-247 via preprocess.py:438-623): distinct
    * texts → dense ids → connected-component clusters over the pair edges →
    * split BY CLUSTER → fitter.fit on train clusters → IR-eval structures on
    * val → artifact dir. Returns the fitted embedder and the artifact path.
    */
  def trainModel(
      spark: SparkSession,
      pairs: DataFrame, leftCol: String, rightCol: String,
      base: Embedder,
      config: TrainConfig = TrainConfig(),
      fitter: ModelFitter = new IdentityFitter,
      seed: Long = 42L): (Embedder, String) = {
    import org.apache.spark.sql.functions._
    val texts = pairs.select(col(leftCol).as("text"))
      .union(pairs.select(col(rightCol).as("text")))
      .distinct()
    val ids = TrainPrep.assignGroupIds(texts, Seq("text"), "id")
      .localCheckpoint(true)
    val edges = pairs
      .join(ids.select(col("text").as(leftCol), col("id").as("lid")), Seq(leftCol))
      .join(ids.select(col("text").as(rightCol), col("id").as("rid")), Seq(rightCol))
      .select("lid", "rid")
    val clustered = TrainPrep.clustersFromPairs(edges, "lid", "rid")
      .join(ids, Seq("id")) // (id, cluster, text)
    val parts = TrainPrep.randomSplitByCluster(
      clustered, "cluster", Array(1.0 - config.valPerc, config.valPerc), seed)
    val (train, valSplit) = (parts(0), parts(1))
    val fitted = fitter.fit(train.select("cluster", "text"), base, config)
    val (q, c, rel) = TrainPrep.irEvalSplit(valSplit, "id", "cluster", "text")
    val outDir = s"${config.modelSaveDir}/${config.modelSaveName}"
    save(outDir, config,
      if (config.saveValTestPickles) Some(q) else None,
      if (config.saveValTestPickles) Some(c) else None,
      if (config.saveValTestPickles) Some(rel) else None)
    saveFitted(spark, outDir, fitted)
    (fitted, outDir)
  }
}
