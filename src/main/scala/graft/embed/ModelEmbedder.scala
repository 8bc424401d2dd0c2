package graft.embed

import graft.operators.IndexLayout
import org.apache.spark.sql.SparkSession

/** Local-model embedding artifact: a linear projection `W` (dimOut × dimIn)
  * applied to the deterministic [[HashEmbedder]] featurization at `dimIn`,
  * L2-normalized — `v = normalize(W · hashFeat(text))`.
  *
  * This fills the SURVEY §7.1 `OnnxEmbedder` slot (the reference's primary
  * path loads a local SBERT model, utils.py:179-248) with every operational
  * piece real — artifact directory on shared storage (Hadoop FS API, so
  * hdfs:/s3a: work like local paths), driver-side load + broadcast of the
  * raw weights, ONE in-memory model assembly per executor (the cache a real
  * ONNX session would sit in), batched `mapPartitions` inference — and only
  * the tensor runtime swapped for an exact matrix multiply, since no ONNX
  * runtime ships in this container. Swapping in ONNX means replacing
  * [[LinearModel.assemble]]/[[LinearModel.Model.infer]] only.
  */
object LinearModel {

  /** Assembled in-memory model (the "session"): row-major weights over a
    * pluggable featurization — `"hash"` ([[HashEmbedder.embedText]], any
    * dimIn) or `"md5"` ([[graft.functions.Md5EmbedExpr.embedText]], dimIn
    * fixed at 16, every number bit-reproducible in SQL — the featurizer the
    * `q_model_embed` DuckDB oracle hash-checks the whole artifact path
    * through).
    */
  final class Model(val dimIn: Int, val dimOut: Int, val w: Array[Array[Double]],
      val featurizer: String = "hash") {
    require(w.length == dimOut && w.forall(_.length == dimIn),
      s"weight matrix must be $dimOut x $dimIn")
    require(featurizer == "hash" || featurizer == "md5",
      s"featurizer must be hash | md5, got $featurizer")
    require(featurizer != "md5" || dimIn == graft.functions.Md5EmbedExpr.Dim,
      s"md5 featurizer is ${graft.functions.Md5EmbedExpr.Dim}-dim, got dimIn=$dimIn")

    def infer(text: String): Array[Double] = {
      val feat =
        if (featurizer == "md5")
          graft.functions.Md5EmbedExpr.embedText(Option(text).getOrElse(""))
        else HashEmbedder.embedText(Option(text).getOrElse(""), dimIn, tokenMix = true)
      val out = new Array[Double](dimOut)
      var i = 0
      while (i < dimOut) {
        val row = w(i)
        var s = 0.0
        var j = 0
        while (j < dimIn) { s += row(j) * feat(j); j += 1 }
        out(i) = s
        i += 1
      }
      var n = 0.0
      i = 0
      while (i < dimOut) { n += out(i) * out(i); i += 1 }
      val inv = 1.0 / math.max(math.sqrt(n), 1e-12)
      i = 0
      while (i < dimOut) { out(i) *= inv; i += 1 }
      out
    }
  }

  /** Deterministic seeded weight matrix (splitmix64 stream, entries uniform
    * [-1, 1)) — the fixture generator for specs and for demonstrating the
    * artifact round-trip without trained weights.
    */
  def seeded(dimIn: Int, dimOut: Int, seed: Long): Array[Array[Double]] = {
    var state = seed
    def next(): Double = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0
    }
    Array.fill(dimOut)(Array.fill(dimIn)(next()))
  }

  private def metaPath(dir: String) = new org.apache.hadoop.fs.Path(dir, "linear_meta.json")
  private def weightsPath(dir: String) = new org.apache.hadoop.fs.Path(dir, "weights.parquet")

  /** Persist the model: `weights.parquet` (one row per output dimension) +
    * `linear_meta.json` — the same artifact-directory convention as
    * [[graft.train.ModelArtifact]] (reference analogue:
    * modelling/LinkTransformer.py:79-136 saving weights into the model dir).
    */
  def save(spark: SparkSession, dir: String, dimIn: Int, w: Array[Array[Double]],
      featurizer: String = "hash"): Unit = {
    require(w.nonEmpty && w.forall(_.length == dimIn), s"need non-empty $dimIn-wide rows")
    import spark.implicits._
    spark.createDataset(w.toSeq.zipWithIndex.map { case (row, i) => (i, row.toSeq) })
      .toDF("row", "weights")
      .repartition(1) // weight matrices are small; one footer beats 32
      .write.mode("overwrite").parquet(weightsPath(dir).toString)
    val fs = metaPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexLayout.writeJson(fs, metaPath(dir),
      s"""{"type": "linear", "dim_in": $dimIn, "dim_out": ${w.length}, """ +
        s""""featurizer": "$featurizer"}""", overwrite = true)
  }

  /** Driver-side artifact read: `(dimIn, dimOut, rows, featurizer)` with the
    * weights in `(rowIdx, values)` form, size-guarded before collect.
    * Artifacts written before the featurizer field existed read as "hash"
    * (the only featurization they could have used).
    */
  def load(spark: SparkSession, dir: String,
      maxWeightBytes: Long = 64L << 20): (Int, Int, Array[(Int, Array[Double])], String) = {
    val fs = metaPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaPath(dir)), s"no linear model artifact at $dir")
    val node = IndexLayout.readJson(fs, metaPath(dir))
    val tpe = Option(node.get("type")).map(_.asText()).getOrElse("")
    require(tpe == "linear", s"unknown model type '$tpe' in $dir")
    val dimIn = node.get("dim_in").asInt()
    val dimOut = node.get("dim_out").asInt()
    require(dimIn > 0 && dimOut > 0, s"bad dims ${dimOut}x$dimIn in $dir")
    val estBytes = dimOut.toLong * dimIn * 8
    require(estBytes <= maxWeightBytes,
      s"weight matrix ${dimOut}x$dimIn (~$estBytes bytes) exceeds the " +
        s"$maxWeightBytes driver collect bound")
    val featurizer = Option(node.get("featurizer")).map(_.asText()).getOrElse("hash")
    val rows = spark.read.parquet(weightsPath(dir).toString)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    require(rows.length == dimOut, s"artifact holds ${rows.length} weight rows, meta says $dimOut")
    (dimIn, dimOut, rows, featurizer)
  }

  // ------------------------------------------------------- executor-side cache

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Model]()

  /** Observable count of model ASSEMBLIES (the expensive step a real runtime
    * performs once per executor) — the spec asserts exactly one per JVM.
    */
  val initCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One assembled model per (executor JVM, artifact id): the first task to
    * need the model builds it from the broadcast rows; every later task on
    * the executor reuses it. This is where an ONNX `OrtSession` would live.
    */
  def cached(artifactId: String, dimIn: Int, dimOut: Int,
      rows: () => Array[(Int, Array[Double])], featurizer: String = "hash"): Model =
    cache.computeIfAbsent(artifactId, { _ =>
      initCount.incrementAndGet()
      val w = new Array[Array[Double]](dimOut)
      rows().foreach { case (i, v) => w(i) = v }
      require(w.forall(_ != null), s"artifact $artifactId is missing weight rows")
      new Model(dimIn, dimOut, w, featurizer)
    })
}

/** The local-model embedder over a [[LinearModel]] artifact: batched
  * `mapPartitions` inference (via [[BatchedEmbedder]]) with the assembled
  * model cached once per executor. Construct with [[ModelEmbedder.load]].
  */
class ModelEmbedder private (
    artifactId: String,
    dimIn: Int,
    override val dim: Int,
    rows: org.apache.spark.broadcast.Broadcast[Array[(Int, Array[Double])]],
    featurizer: String,
    batchSizeRows: Int) extends BatchedEmbedder(batchSizeRows) {

  override def embedBatch(texts: Seq[String]): Seq[Array[Double]] = {
    val m = LinearModel.cached(artifactId, dimIn, dim, () => rows.value, featurizer)
    texts.map(m.infer)
  }
}

object ModelEmbedder {

  /** Load an artifact directory into an embedder: weights are read once on
    * the driver (size-guarded) and broadcast; assembly happens lazily on each
    * executor at first use.
    */
  def load(spark: SparkSession, dir: String, batchSize: Int = 128): ModelEmbedder = {
    val (dimIn, dimOut, rows, featurizer) = LinearModel.load(spark, dir)
    // content fingerprint in the cache key: re-saving NEW weights to the SAME
    // directory must not serve a stale cached assembly on executors that
    // already built the old model
    val fp = rows.foldLeft(0L) { case (acc, (i, v)) =>
      acc + 31L * (i + 1) * java.util.Arrays.hashCode(v)
    }
    new ModelEmbedder(s"$dir#${dimOut}x$dimIn#$featurizer#$fp", dimIn, dimOut,
      spark.sparkContext.broadcast(rows), featurizer, batchSize)
  }
}
