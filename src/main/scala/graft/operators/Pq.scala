package graft.operators

import graft.functions.PqColumns
import graft.functions.VectorOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization for embedding search at corpus scale (Jégou et al.
  * 2011, public; FAISS `PQ`/`IVF_PQ` regime) — the memory lever BEYOND int8
  * scalar quantization: `m` bytes per vector (8 at the testdata's 64-dim,
  * m=8) instead of `dim` int8 lanes (64) or `dim` doubles (512). Under the
  * same broadcast budget the PQ code matrix holds ~dim/m x more vectors
  * than SQ8 and ~8·dim/m x more than the double matrix — at 64-dim that is
  * a 64x capacity jump, the difference between broadcasting a 100M-vector
  * corpus and not.
  *
  * Division of labor (mirrors [[Quantize.quantizedTopK]]; the scoring
  * itself is written once, in [[Resident.PqScoring]]):
  *  - [[pqTrain]] fits the codebook driver-side on a seeded deterministic
  *    sample (bounded collect — the k-means is O(sample·ks·dim·iters), far
  *    from corpus-sized);
  *  - [[Pq.pqEncode]] / the coarse scan are codegen'd kernels
  *    ([[graft.functions.PqKernels]]): encoding is a per-row argmin against
  *    the reference-object codebook, scoring is ADC — one m·ks lookup
  *    table per QUERY, then `m` table lookups per candidate, zero
  *    per-candidate multiplies;
  *  - the top `rerankFactor·k` candidates per query are re-scored with the
  *    exact double cosine, so kept scores are bit-identical to brute force
  *    and only the candidate SET is approximate — recall-gated by
  *    `q_ann_pq_recall` exactly like the int8 path's `q_ann_int8_recall`.
  *
  * Reference has no quantization at all (FAISS flat indexes only,
  * src/linktransformer/infer.py:141-151); like IVF/SRP-LSH/SQ8 this is a
  * beyond-reference scale component.
  */
object Pq {

  /** Trained codebook: `flat[(j*ks + c)*dsub + d]` = lane `d` of centroid
    * `c` of subspace `j`; `dim = m * dsub`.
    */
  final case class PqCodebook(m: Int, ks: Int, dsub: Int, flat: Array[Double]) {
    def dim: Int = m * dsub
    require(flat.length == m * ks * dsub,
      s"codebook shape mismatch: |flat|=${flat.length}, expected ${m * ks * dsub}")
  }

  /** Fit a PQ codebook on a seeded deterministic sample of the corpus:
    * `sampleRows` vectors picked by hash order (`xxhash64(id, seed)` — the
    * [[Ann.centroids]] sampling discipline, reproducible and unbiased by id
    * order), then per-subspace Lloyd k-means on the driver. `ks` degrades
    * to the sample size when the sample is smaller (tiny corpora quantize
    * near-losslessly). Deterministic end to end: seeded sample order,
    * seeded `java.util.Random` shuffle for the initial centroids, and
    * fixed-order double arithmetic — the same inputs always give the same
    * codebook (spec-pinned), so encoded corpora are reproducible across
    * runs and engines.
    *
    * Scale: the ONLY corpus-sized work is the hash-ordered sample
    * (TakeOrderedAndProject — per-partition top-n, never a global sort);
    * the collect is bounded by `sampleRows · dim` doubles and the k-means
    * by `iters · sampleRows · ks · dim` flops — seconds on a driver core
    * at the defaults, independent of corpus size.
    */
  def pqTrain(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ks: Int = 256, sampleRows: Int = 4096,
      iters: Int = 8, seed: Long = 42L): PqCodebook = {
    require(m >= 1 && ks >= 1 && ks <= 256 && sampleRows >= 1 && iters >= 0,
      s"need m>=1, 1<=ks<=256, sampleRows>=1, iters>=0; got m=$m ks=$ks " +
        s"sampleRows=$sampleRows iters=$iters")
    import org.apache.spark.sql.Row
    val sample: Array[Array[Double]] = corpus
      .select(col(idCol).cast("long").as("__id"), asDouble(col(vecCol)).as("__v"))
      .filter(col("__v").isNotNull) // null vectors can't train and can't encode
      .orderBy(xxhash64(col("__id"), lit(seed)), col("__id"))
      .limit(sampleRows)
      .select("__v")
      .collect()
      .map { case Row(v: scala.collection.Seq[_]) =>
        v.map(_.asInstanceOf[Double]).toArray
      }
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0,
      s"pqTrain: dim=$dim not divisible by m=$m subspaces")
    require(sample.forall(_.length == dim),
      "pqTrain: ragged vector lengths in the sample")
    val dsub = dim / m
    val k = math.min(ks, sample.length)
    val flat = new Array[Double](m * k * dsub)
    val rnd = new java.util.Random(seed)
    // the seeded Fisher-Yates shuffles are drawn SEQUENTIALLY up front (the
    // single Random's stream is the determinism contract — subspace j's
    // shuffle depends on every earlier draw), then the flop-heavy Lloyd
    // loops run in PARALLEL across subspaces: they are independent,
    // write disjoint `flat` regions, and keep their per-subspace arithmetic
    // order — the codebook stays bit-identical to the sequential fit
    val initIdx: Array[Array[Int]] = Array.fill(m) {
      val idx = Array.tabulate(sample.length)(identity)
      var i = idx.length - 1
      while (i > 0) { val r = rnd.nextInt(i + 1); val t = idx(i); idx(i) = idx(r); idx(r) = t; i -= 1 }
      idx
    }
    val subspaces = (0 until m).toVector
    val fitOne = (j: Int) => {
      val idx = initIdx(j)
      val cents = Array.tabulate(k, dsub)((c, d) => sample(idx(c))(j * dsub + d))
      // Lloyd: assign sample to nearest centroid (L2), recompute means; an
      // empty cluster keeps its previous centroid (the refineCentroids rule)
      var it = 0
      while (it < iters) {
        val sums = Array.ofDim[Double](k, dsub)
        val counts = new Array[Int](k)
        var s = 0
        while (s < sample.length) {
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var dist = 0.0
            var d = 0
            while (d < dsub) {
              val diff = sample(s)(j * dsub + d) - cents(c)(d)
              dist += diff * diff
              d += 1
            }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          counts(best) += 1
          var d = 0
          while (d < dsub) { sums(best)(d) += sample(s)(j * dsub + d); d += 1 }
          s += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            var d = 0
            while (d < dsub) { cents(c)(d) = sums(c)(d) / counts(c); d += 1 }
          }
          c += 1
        }
        it += 1
      }
      var c = 0
      while (c < k) {
        var d = 0
        while (d < dsub) { flat((j * k + c) * dsub + d) = cents(c)(d); d += 1 }
        c += 1
      }
    }
    if (m == 1) fitOne(0)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(m, Runtime.getRuntime.availableProcessors()))
      try {
        import scala.jdk.CollectionConverters._
        val futures = pool.invokeAll(
          subspaces.map(j => (() => { fitOne(j); null }): java.util.concurrent.Callable[Null]).asJava)
        futures.asScala.foreach(_.get()) // propagate any fit failure
      } finally pool.shutdown()
    }
    PqCodebook(m, k, dsub, flat)
  }

  /** Add an `m`-byte PQ code column for `vecCol` (codegen argmin per row). */
  def pqEncode(df: DataFrame, vecCol: String, cb: PqCodebook,
      codesName: String = "pq"): DataFrame =
    df.withColumn(codesName,
      PqColumns.pqEncode(asDouble(col(vecCol)), cb.flat, cb.m, cb.ks, cb.dsub))

  /** Persist a codebook as JSON next to an index layout. Doubles are
    * serialized with `Double.toString` (round-trip exact), so a reloaded
    * codebook encodes bit-identically.
    */
  def saveCodebook(
      spark: org.apache.spark.sql.SparkSession, path: String, cb: PqCodebook): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val sb = new StringBuilder
    sb.append(s"""{"m": ${cb.m}, "ks": ${cb.ks}, "dsub": ${cb.dsub}, "flat": [""")
    var i = 0
    while (i < cb.flat.length) {
      if (i > 0) sb.append(',')
      sb.append(java.lang.Double.toString(cb.flat(i)))
      i += 1
    }
    sb.append("]}")
    IndexLayout.writeJson(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      sb.toString, overwrite = true)
  }

  /** Load a [[saveCodebook]] JSON; None when the file does not exist
    * (non-PQ layouts).
    */
  def loadCodebook(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[PqCodebook] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val node = IndexLayout.readJson(fs, p)
    val flatNode = node.get("flat")
    val flat = new Array[Double](flatNode.size())
    var i = 0
    while (i < flat.length) { flat(i) = flatNode.get(i).asDouble(); i += 1 }
    Some(PqCodebook(
      node.get("m").asInt(), node.get("ks").asInt(), node.get("dsub").asInt(), flat))
  }

  /** PQ coarse search + exact rerank — output contract =
    * [[SemanticJoin.knnJoinVec]] (`left_id, right_id, score, rank`), with
    * `score` the EXACT cosine on every kept pair (only the candidate set is
    * approximate). Candidates are ranked by the ADC approximate cosine
    * `adc_dot / (||q||·||x||)` — the reconstruction dot over the true
    * norms, so norm variation cannot masquerade as similarity.
    *
    * Scale shape ([[Ann.scanTopK]] with [[Resident.PqScoring]]): the corpus
    * side is encoded IN-PLAN (one distributed pass) and collected as an
    * `m`-bytes-plus-id-and-norm code matrix (~dim/m x more vectors per
    * broadcast byte than SQ8) in the one job that sizes it; coarse scoring
    * is a map-partitions scan over the broadcast matrix that builds each
    * query's LUT ONCE and then pays `m` lookups per candidate — ADC's
    * point is LUT amortization across candidates, which the scan shape
    * keeps; the exact rerank joins the survivors back to the original
    * vectors. A corpus whose matrix exceeds [[Regime.MaxBroadcastBytes]]
    * fails loudly unless `skipSizeCheck`.
    */
  def pqTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      cb: PqCodebook, k: Int, rerankFactor: Int = 4,
      excludeSelf: Boolean = false, skipSizeCheck: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    Ann.scanTopK(queries, qId, qVec, corpus, cId, cVec, k, Resident.PqScoring(cb, rerankFactor),
      excludeSelf, skipSizeCheck, bound =>
        s"corpus PQ matrix (8 id + ${cb.m} code + 8 norm bytes per vector) exceeds the " +
          s"$bound-byte broadcast bound — raise ${Regime.MaxBroadcastBytes.key} or " +
          "shard the corpus (PQ within IVF cells)")
  }
}
