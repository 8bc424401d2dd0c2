package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Large-scale deduplication operators for training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard verification, and
  * embedding-cosine near-dup (via [[Clustering.epsilonCluster]]).
  *
  * [[minhashLsh]] runs in one of two regimes. While the documents'
  * `(id, shingles, signature)` rows fit the driver-collect bound
  * (`spark.graft.vecscan.maxBroadcastBytes`) and the band buckets hold at
  * most `spark.graft.cc.smallGraphEdgeLimit` row pairs, one Spark job
  * computes and collects those rows, and banding, the exact verify and
  * union-find run on the driver. Above either bound every stage is
  * shuffle-minimal: candidate generation is a self-equi-join on LSH band
  * buckets (shuffle on the band hash, never all-pairs), verification runs
  * only on candidates, and final representative selection is one window.
  */
object Dedup extends Logging {

  /** [[minhashLsh]] calls of this context that ran in the driver regime. */
  def lshDriverRuns(sc: SparkContext): LongAccumulator = VecScan.counter(sc, "graft.dedup.lsh_driver_runs")

  /** Distinct `(i, j)` candidate id pairs (i < j) [[minhashLsh]] found in a
    * shared band bucket, in either regime.
    */
  def lshCandidatePairs(sc: SparkContext): LongAccumulator =
    VecScan.counter(sc, "graft.dedup.lsh_candidate_pairs")

  /** Row pairs of candidates that pass [[minhashLsh]]'s exact Jaccard verify,
    * in either regime: one per verified candidate pair, or one per passing
    * row pair when an id has several rows.
    */
  def lshVerifiedPairs(sc: SparkContext): LongAccumulator =
    VecScan.counter(sc, "graft.dedup.lsh_verified_pairs")

  /** Exact dedup on key columns, keep-first by `ordCol` (deterministic version of
    * pandas keep="first", reference: src/linktransformer/infer.py:477).
    */
  def exact(df: DataFrame, keys: Seq[String], ordCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ordCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signature of a shingle set: for each of `numHashes` hash
    * functions, the min over shingles of a seeded shingle hash. Two families:
    * `"md5"` (default; md5-derived, reproducible by the DuckDB oracle — see
    * graft.functions.MinHashSigMd5) and `"xx"` (xxhash64 chain — cheapest
    * per byte, for 100 TB runs where no cross-engine parity is needed).
    */
  def minhashSignature(shingles: Column, numHashes: Int, hashFamily: String = "md5"): Column =
    hashFamily match {
      // both are native one-pass kernels; min is invariant under duplicate
      // shingles so no pre-dedup is needed either way
      case "md5" => graft.functions.MinHashSigMd5.minhashSigMd5(shingles, numHashes)
      case "xx" => graft.functions.MinHashSig.minhashSig(shingles, numHashes)
      case f => throw new IllegalArgumentException(
        s"unknown minhash hash family: $f (expected md5 | xx)")
    }

  /** Per-doc distinct shingle set + minhash signature `(id, sh, sig)`. The
    * id expression keeps its natural type.
    */
  private def shingleSigFrame(
      df: DataFrame, idExpr: Column, textCol: Column,
      shingleSize: Int, numHashes: Int, hashFamily: String): DataFrame =
    df.select(
      idExpr.as("id"),
      array_distinct(TextAnalysis.wordShingles(textCol, shingleSize)).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes, hashFamily))

  /** [[shingleSigFrame]] computed ONCE and pinned (reused by the band join
    * and the exact-Jaccard verify).
    */
  private def shingleSig(
      df: DataFrame, idExpr: Column, textCol: Column,
      shingleSize: Int, numHashes: Int, hashFamily: String): DataFrame = {
    val sig = shingleSigFrame(df, idExpr, textCol, shingleSize, numHashes, hashFamily)
    // the signature frame has two consumers (banding + the verify join), so
    // it is pinned eagerly to compute shingles/minhash once — EXCEPT when
    // the whole plan folds to a LocalRelation (a serving-regime batch):
    // there the fold is a cheap driver-side eval, and the checkpoint would
    // cost a scheduler job per search for nothing (serving job census)
    val folded = sig.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    if (folded) sig else sig.localCheckpoint(true)
  }

  /** One narrow `(id, band, bucket, bkey)` row per band from the signature —
    * the SINGLE definition of the banding scheme, shared by the one-table
    * ([[minhashLsh]]) and two-table ([[contamination]]) LSH paths. Candidate
    * semantics are EXACT slice equality (`bucket`, oracle-reproducible as a
    * plain list comparison); `bkey` is an 8-byte hash of the slice used only
    * as the shuffle/join key so a sort-merge join at scale orders longs, not
    * arrays — [[bandJoin]] re-checks the slices after the hash join, so hash
    * collisions can never add candidates.
    */
  private def bandBuckets(base: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    base.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)),
        bnd => slice(col("sig"), bnd * rowsPerBand + 1, lit(rowsPerBand)))))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
      .withColumn("bkey", xxhash64(col("bucket")))

  /** Equi-join two banded sides on `(band, bkey)` with the exact slice
    * equality re-checked as a residual predicate, then `pairPred` on the two
    * id columns. Returns distinct `(leftIdName, rightIdName)` pairs.
    */
  private def bandJoin(
      left: DataFrame, leftIdName: String,
      right: DataFrame, rightIdName: String,
      pairPred: (Column, Column) => Column = (_, _) => lit(true)): DataFrame = {
    val l = left.select(col("band"), col("bkey"), col("bucket").as("__bl"), col("id").as(leftIdName))
    val r = right.select(col("band"), col("bkey"), col("bucket").as("__br"), col("id").as(rightIdName))
    l.join(r, Seq("band", "bkey"))
      .filter(col("__bl") === col("__br") && pairPred(col(leftIdName), col(rightIdName)))
      .select(leftIdName, rightIdName)
      .distinct()
  }

  /** Exact shingle-set Jaccard; 0 when both sets are empty. */
  private def jaccardOf(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** MinHash+LSH near-duplicate clustering.
    *
    * shingle → minhash(numBands*rowsPerBand) → band buckets → verify
    * (exact n-gram Jaccard >= `jaccardThreshold`) → connected components.
    * Returns `(id, cluster)`, one row per distinct id (a null id included);
    * cluster = min doc id of the duplicate group.
    *
    * Two regimes, with the same rows and schema:
    *  - driver ([[minhashLshOnDriver]]): one job computes and collects
    *    `(id, shingles, signature)` while they fit
    *    `spark.graft.vecscan.maxBroadcastBytes`, and the buckets hold at most
    *    `spark.graft.cc.smallGraphEdgeLimit` row pairs; buckets, verify and
    *    union-find then run on the driver and the result is a LocalRelation;
    *  - plan ([[minhashLshPlan]]): above either bound, a band-bucket
    *    self-equi-join, a join-back verify and distributed components.
    */
  def minhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numBands: Int = 8, rowsPerBand: Int = 4,
      jaccardThreshold: Double = 0.5, hashFamily: String = "md5"): DataFrame = {
    // CC needs long node ids — cast here, not in the shared helper
    val sig = shingleSigFrame(df, col(idCol).cast("long"), col(textCol), shingleSize,
      numBands * rowsPerBand, hashFamily)
    minhashLshOnDriver(sig, numBands, rowsPerBand, jaccardThreshold).getOrElse(
      minhashLshPlan(df, idCol, textCol, shingleSize, numBands, rowsPerBand,
        jaccardThreshold, hashFamily))
  }

  /** A filter condition that keeps every row and adds one to `acc` per row. */
  private def counting(acc: LongAccumulator): Column =
    udf(() => { acc.add(1); true }).asNondeterministic()()

  /** [[minhashLsh]]'s distributed regime. */
  private def minhashLshPlan(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numBands: Int, rowsPerBand: Int,
      jaccardThreshold: Double, hashFamily: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val base = shingleSig(df, col(idCol).cast("long"), col(textCol), shingleSize,
      numBands * rowsPerBand, hashFamily)
    val banded = bandBuckets(base, numBands, rowsPerBand)
    val candidates = bandJoin(banded, "i", banded, "j", (i, j) => i < j)
      .filter(counting(lshCandidatePairs(sc)))

    // verify candidates with exact shingle-set Jaccard (arrays joined back in)
    val edges = candidates
      .join(base.select(col("id").as("i"), col("sh").as("si")), "i")
      .join(base.select(col("id").as("j"), col("sh").as("sj")), "j")
      .filter(jaccardOf(col("si"), col("sj")) >= jaccardThreshold)
      .filter(counting(lshVerifiedPairs(sc)))
      .select("i", "j")

    Clustering.connectedComponents(df.select(col(idCol).cast("long")), edges)
      .withColumnRenamed("component", "cluster")
  }

  /** A document of [[minhashLshOnDriver]]: its id (null for a null id), its
    * signature and its distinct shingles (each null when null).
    */
  private final class LshDoc(val id: java.lang.Long, val sig: Array[Long], val sh: Array[String])
    extends Serializable

  /** What a `(id, sh, sig)` row costs the driver: its id, its signature's
    * longs and its shingles' UTF-8 bytes.
    */
  private def lshDocBytes(r: InternalRow, numHashes: Int): Long = {
    var bytes = 8L + 8L * numHashes
    if (!r.isNullAt(1)) {
      val sh = r.getArray(1)
      var i = 0
      while (i < sh.numElements()) { bytes += sh.getUTF8String(i).numBytes(); i += 1 }
    }
    bytes
  }

  private def readLshDoc(r: InternalRow): LshDoc =
    if (r.isNullAt(0)) new LshDoc(null, null, null)
    else {
      val sh = if (r.isNullAt(1)) null
        else { val a = r.getArray(1); Array.tabulate(a.numElements())(a.getUTF8String(_).toString) }
      // a signature has a null component only for an empty shingle set,
      // which word shingles never are
      new LshDoc(r.getLong(0), if (r.isNullAt(2)) null else r.getArray(2).toLongArray(), sh)
    }

  /** `len` signature components from `from`, compared and hashed in place. */
  private final class Slice(val sig: Array[Long], val from: Int, val len: Int) {
    override def hashCode: Int = {
      var h = 1
      var i = from
      while (i < from + len) { h = 31 * h + java.lang.Long.hashCode(sig(i)); i += 1 }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case t: Slice => java.util.Arrays.equals(sig, from, from + len, t.sig, t.from, t.from + t.len)
      case _ => false
    }
  }

  /** [[minhashLsh]]'s driver regime over the `(id long, sh, sig)` frame, or
    * None when its rows exceed `spark.graft.vecscan.maxBroadcastBytes` or its
    * band buckets hold more than `spark.graft.cc.smallGraphEdgeLimit` row
    * pairs (hot buckets, e.g. many identical texts). Same rows and schema as
    * [[minhashLshPlan]]: a bucket is an exact signature slice (a null
    * signature joins none); a candidate id pair verifies when any row of
    * `i` and any row of `j` pass the exact Jaccard (a null shingle set
    * scores as `size(null)` does in the session: null under ANSI, so it
    * never passes); every distinct id gets a row, an isolated one its own
    * cluster.
    */
  private def minhashLshOnDriver(sig: DataFrame, numBands: Int, rowsPerBand: Int,
      jaccardThreshold: Double): Option[DataFrame] = {
    val spark = sig.sparkSession
    val numHashes = numBands * rowsPerBand
    val collected = VecScan.collectIfFits(sig, Regime.MaxBroadcastBytes(spark))(
      lshDocBytes(_, numHashes), readLshDoc)
    if (collected.isEmpty) return None
    val docs = collected.get.filter(_.id != null).sortBy(_.id.longValue)
    val n = docs.length

    // band buckets of row indices, checked against the pair bound before
    // any pair is enumerated
    val buckets = (0 until numBands).flatMap { b =>
      val m = new java.util.HashMap[Slice, mutable.ArrayBuffer[Int]]
      var k = 0
      while (k < n) {
        val s = docs(k).sig
        if (s != null)
          m.computeIfAbsent(new Slice(s, b * rowsPerBand, rowsPerBand), _ => mutable.ArrayBuffer.empty) += k
        k += 1
      }
      m.values.asScala.filter(_.length > 1)
    }
    val rowPairs = buckets.iterator.map(g => g.length.toLong * (g.length - 1) / 2).sum
    if (rowPairs > Regime.SmallGraphEdgeLimit(spark)) return None

    // dense id index u: distinct ids in order, rows of u in [start(u), start(u + 1))
    val ids = mutable.ArrayBuilder.make[Long]
    val start = mutable.ArrayBuilder.make[Int]
    val dense = new Array[Int](n)
    var u = -1
    for (k <- 0 until n) {
      if (k == 0 || docs(k).id.longValue != docs(k - 1).id.longValue) {
        ids += docs(k).id; start += k; u += 1
      }
      dense(k) = u
    }
    start += n
    val uid = ids.result()
    val first = start.result()

    // distinct candidate pairs (i < j) as packed dense ids
    val packed = mutable.ArrayBuilder.make[Long]
    for (g <- buckets; x <- g.indices; y <- x + 1 until g.length) {
      val a = dense(g(x)); val b = dense(g(y))
      if (a != b) packed += (math.min(a, b).toLong << 32) | math.max(a, b)
    }
    val sorted = packed.result()
    java.util.Arrays.sort(sorted)
    val cand = sorted.indices.iterator.filter(k => k == 0 || sorted(k) != sorted(k - 1))
      .map(sorted(_)).toArray

    // exact Jaccard over distinct shingle sets, as the plan's jaccardOf
    val nullPasses = spark.conf.get("spark.sql.legacy.sizeOfNull").toBoolean &&
      !spark.conf.get("spark.sql.ansi.enabled").toBoolean && 1.0 >= jaccardThreshold
    val sets = new Array[java.util.HashSet[String]](n)
    def passes(x: Int, y: Int): Boolean = {
      val (sx, sy) = (docs(x).sh, docs(y).sh)
      if (sx == null || sy == null) nullPasses
      else {
        if (sets(x) == null) sets(x) = new java.util.HashSet(java.util.Arrays.asList(sx: _*))
        val inter = sy.count(sets(x).contains)
        val uni = sx.length + sy.length - inter
        (if (uni == 0) 0.0 else inter.toDouble / uni) >= jaccardThreshold
      }
    }
    var verified = 0L
    val edges = cand.flatMap { c =>
      val (a, b) = ((c >>> 32).toInt, c.toInt)
      val hits = (first(a) until first(a + 1)).iterator
        .flatMap(x => (first(b) until first(b + 1)).iterator.filter(passes(x, _))).size
      verified += hits
      if (hits > 0) Some((uid(a), uid(b))) else None
    }

    val label = Clustering.unionFindMinLabel(edges).toMap
    val rows = uid.map(i => Row(i, label.getOrElse(i, i))).toSeq ++
      (if (collected.get.exists(_.id == null)) Seq(Row(null, null)) else Nil)
    val sc = spark.sparkContext
    lshCandidatePairs(sc).add(cand.length)
    lshVerifiedPairs(sc).add(verified)
    lshDriverRuns(sc).add(1)
    val nullable = sig.schema("id").nullable
    Some(Resident.toDf(spark, rows, StructType(Seq(
      StructField("id", LongType, nullable), StructField("cluster", LongType, nullable)))))
  }

  /** Exact n-gram Jaccard near-duplicate pairs — the no-sketch reference point
    * for [[minhashLsh]] (same shingles, same verify, but candidate generation
    * by inverted shingle index instead of LSH bands, so no probabilistic
    * recall loss). Returns `(i, j, jaccard)` for all pairs with
    * `jaccard >= threshold` (i < j).
    *
    * Candidate generation is EXACT for any threshold > 0 when
    * `maxShingleDf == 0`: two docs with non-zero Jaccard share at least one
    * shingle, so the shingle-key self-equi-join finds every qualifying pair.
    * At corpus scale that join is quadratic in the document frequency of the
    * hottest shingle, so `maxShingleDf > 0` drops shingles appearing in more
    * than that many docs from candidate generation (fan-out per shingle key
    * is then bounded by maxShingleDf², and AQE skew-split handles the rest).
    * The only pairs that can be missed are those sharing NOTHING but
    * ultra-common boilerplate shingles — which near-always sit far below any
    * useful threshold. Reported Jaccard values are exact either way: uncapped,
    * the shared-posting count IS the intersection size (pure count algebra, no
    * arrays shuffled); capped, an upper-bound prune runs first and only the
    * surviving pairs pay the full-set verify.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5, maxShingleDf: Int = 0): DataFrame = {
    // pin the shingle projection: four branches read it (postings twice via
    // the self-join, sizes, survivor verify) and re-shingling costs ~1ms/doc
    // of CPU per branch — measured 3-4x the one-time checkpoint write
    val base = df.select(
      col(idCol).cast("long").as("id"),
      array_distinct(TextAnalysis.wordShingles(col(textCol), shingleSize)).as("sh"))
      .localCheckpoint(true)
    ngramJaccardPairsFromShingles(base, threshold, maxShingleDf)
  }

  /** [[ngramJaccardPairs]] over an ALREADY-SHINGLED frame
    * `(id long, sh array<string>)` with per-doc-distinct shingles: the seam
    * for callers that can build the shingle arrays cheaper than a full
    * re-tokenize — e.g. the scale-stress leg, whose replicas share every
    * base-document shingle by construction, so pinning the 1x base arrays
    * and expanding in-plan beats checkpointing m copies (the multiplied
    * checkpoint was 5.9s of GC under a 4.8s wall). Four branches
    * read `shingled` (postings twice via the self-join, sizes, survivor
    * verify): pass a pinned frame or one whose recompute is cheap.
    */
  def ngramJaccardPairsFromShingles(
      shingled: DataFrame, threshold: Double, maxShingleDf: Int): DataFrame = {
    val base = shingled
    // inverted index: one (shingle, id) posting per distinct shingle per doc
    val postings = base.select(col("id"), explode(col("sh")).as("s"))
    val sizes = base.select(col("id"), size(col("sh")).as("n"))
    if (maxShingleDf <= 0) {
      // uncapped: the per-pair count of shared postings IS |A ∩ B|, so
      // J = c/(|A|+|B|-c) exactly — counts only, the shingle arrays are
      // never shuffled and no per-pair set intersection ever runs
      val shared = postings.as("a").join(postings.as("b"), "s")
        .filter(col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("i"), col("b.id").as("j"))
        .agg(count(lit(1)).as("c"))
      shared
        .join(sizes.select(col("id").as("i"), col("n").as("ni")), "i")
        .join(sizes.select(col("id").as("j"), col("n").as("nj")), "j")
        .select(col("i"), col("j"),
          (col("c").cast("double") / (col("ni") + col("nj") - col("c"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    } else {
      // capped: c counts shared RARE shingles, so c <= |A ∩ B| <= c + min(h_i,
      // h_j) with h = per-doc hot-shingle count. Prune candidates whose
      // Jaccard UPPER bound misses the threshold (J is increasing in |A ∩ B|),
      // then verify only the survivors against the full shingle sets — the
      // exact-score contract costs one array join-back sized by the output,
      // not by the candidate set.
      val dfs = postings.groupBy("s").agg(count(lit(1)).as("df"))
      // the df cap runs on TRUE shingle strings (semantics unchanged), but
      // the quadratic candidate join downstream runs on xxhash64 of the kept
      // shingles: 8-byte shuffle/hash keys instead of ~25-byte strings in
      // the hottest join of the plan. A hash collision can only INFLATE the
      // shared count c — c stays an upper bound on shared shingles, the
      // bound below keeps more survivors, and the full-set verify scores
      // them exactly — so recall and reported values are both unaffected.
      val kept = postings.join(
          dfs.filter(col("df") <= maxShingleDf).select("s"), Seq("s"), "left_semi")
        .select(col("id"), xxhash64(col("s")).as("k"))
      val hot = kept.groupBy("id").agg(count(lit(1)).as("nk"))
        .join(sizes, "id")
        .select(col("id"), (col("n") - col("nk")).as("h"))
      val shared = kept.as("a").join(kept.as("b"), "k")
        .filter(col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("i"), col("b.id").as("j"))
        .agg(count(lit(1)).as("c"))
      val bounded = shared
        .join(sizes.select(col("id").as("i"), col("n").as("ni")), "i")
        .join(sizes.select(col("id").as("j"), col("n").as("nj")), "j")
        .join(hot.select(col("id").as("i"), col("h").as("hi")), "i")
        .join(hot.select(col("id").as("j"), col("h").as("hj")), "j")
        // clamp to min(ni, nj): a true intersection never exceeds the
        // smaller set, and the clamp keeps the bound's denominator positive
        // even if hash collisions inflate c past it
        .withColumn("__m",
          least(col("c") + least(col("hi"), col("hj")), least(col("ni"), col("nj"))))
        .filter(col("__m").cast("double") / (col("ni") + col("nj") - col("__m"))
          >= threshold)
      bounded.select("i", "j")
        .join(base.select(col("id").as("i"), col("sh").as("si")), "i")
        .join(base.select(col("id").as("j"), col("sh").as("sj")), "j")
        .select(col("i"), col("j"), jaccardOf(col("si"), col("sj")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
  }

  /** Exact n-gram Jaccard dedup: [[ngramJaccardPairs]] edges → connected
    * components → `(id, cluster)` with cluster = min doc id of the duplicate
    * group (keep-first then = `filter(id === cluster)`). Same output contract
    * as [[minhashLsh]]; use this when exact recall at the threshold matters
    * more than the LSH path's immunity to hot shingles.
    */
  def ngramJaccardDedup(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5, maxShingleDf: Int = 0): DataFrame = {
    val edges = ngramJaccardPairs(df, idCol, textCol, shingleSize, threshold, maxShingleDf)
      .select("i", "j")
    Clustering.connectedComponents(df.select(col(idCol).cast("long")), edges)
      .withColumnRenamed("component", "cluster")
  }

  /** 64-bit SimHash over whitespace tokens: bit b of the fingerprint is the sign
    * of sum over tokens of (+1 if bit b of md5-hash64(token) else -1). A native
    * codegen expression (graft.functions.SimHash64Expr); md5 token hashes make
    * the fingerprint reproducible by the DuckDB oracle, so simhash queries are
    * hash-checked rather than rows-only.
    */
  def simhash64(text: Column): Column = graft.functions.SimHash64Expr.simhash64(text)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("int")

  /** SimHash near-dup pairs: block on 4×16-bit sub-fingerprints (any pair within
    * Hamming distance 3 shares at least one block — pigeonhole), then verify the
    * true Hamming distance. Returns (i, j, hamming).
    *
    * `maxBlockFreq` caps the bucket join: a degenerate fingerprint (e.g. a
    * corpus full of empty or near-identical texts) puts every row in the same
    * four blocks and turns the equi-join quadratic. Blocks above the cap are
    * dropped from candidate generation (recall loss only inside the hot block;
    * use [[simhashDedup]] when identical fingerprints must still cluster —
    * it collapses them exactly, before any pairwise work).
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBlockFreq: Long = 10000L): DataFrame =
    pairsFromFps(
      df.select(col(idCol).cast("long").as("id"), simhash64(col(textCol)).as("fp")),
      maxHamming, maxBlockFreq)

  private def pairsFromFps(base: DataFrame, maxHamming: Int, maxBlockFreq: Long): DataFrame = {
    val blocked = base.select(col("id"), col("fp"),
      posexplode(array((0 until 4).map(blk =>
        shiftright(col("fp"), blk * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnsRenamed(Map("pos" -> "blk", "col" -> "blockval"))
    // hot-block cap: frequency census (one small aggregate, ≤ 4×2^16 distinct
    // block keys by construction — pinned so the over-cap audit below doesn't
    // re-run it), then a semi-join keeps only rows in under-cap blocks
    val census = blocked.groupBy("blk", "blockval")
      .agg(count(lit(1)).as("__bf"))
      .localCheckpoint(true)
    // no-silent-caps: a dropped hot block loses candidate recall inside that
    // block only (pairs may still collide via their other 3 blocks) — but the
    // caller must be able to see it happened
    val over = census.filter(col("__bf") > maxBlockFreq)
      .agg(count(lit(1)).as("b"), coalesce(sum("__bf"), lit(0L)).as("r")).first()
    if (over.getLong(0) > 0) {
      logWarning(
        s"simhash candidate generation: dropped ${over.getLong(0)} hot block(s) " +
        s"covering ${over.getLong(1)} block-entries (maxBlockFreq=$maxBlockFreq). " +
        s"Pairs inside those blocks can only be found via their other blocks; " +
        s"use simhashDedup to collapse identical fingerprints exactly first, or " +
        s"raise maxBlockFreq to trade cost for recall.")
    }
    val underCap = census.filter(col("__bf") <= maxBlockFreq)
      .select("blk", "blockval")
    val kept = blocked.join(underCap, Seq("blk", "blockval"), "left_semi")
    val lhs = kept.select(col("blk"), col("blockval"), col("id").as("i"), col("fp").as("fi"))
    val rhs = kept.select(col("blk"), col("blockval"), col("id").as("j"), col("fp").as("fj"))
    lhs.join(rhs, Seq("blk", "blockval"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), hamming64(col("fi"), col("fj")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup clustering that stays LINEAR on degenerate inputs.
    *
    * Rows collapse to their exact fingerprint first (identical texts — the
    * common degenerate case — become ONE representative with zero pairwise
    * work), the hamming-ball candidate join runs over distinct fingerprints
    * only, and fingerprint-level components map back to rows with one
    * equi-join. Returns `(id, cluster)`, cluster = min row id of the group.
    */
  def simhashDedup(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBlockFreq: Long = 10000L): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), simhash64(col(textCol)).as("fp"))
      .localCheckpoint(true) // branches: representatives + final map-back
    val repr = base.groupBy("fp").agg(min("id").as("rid"))
    val fpPairs = pairsFromFps(repr.select(col("rid").as("id"), col("fp")),
      maxHamming, maxBlockFreq)
    val comps = Clustering.connectedComponents(
      repr.select(col("rid").as("id")), fpPairs.select("i", "j"))
    base.join(repr, "fp")
      .join(comps.withColumnRenamed("id", "rid"), "rid")
      .select(col("id"), col("component").as("cluster"))
  }

  /** Benchmark decontamination: flag corpus documents whose n-gram Jaccard
    * with ANY benchmark document reaches `jaccardThreshold` — the train/eval
    * overlap check run before training on scraped corpora. Two-table variant
    * of [[minhashLsh]]: both sides shingle + minhash once, candidates come
    * from the band-bucket equi-join (never corpus × benchmark), exact Jaccard
    * verifies. Returns one row per contaminated pair
    * `(corpus_id, benchmark_id, jaccard)`; anti-join the corpus against it to
    * clean. The benchmark side is typically tiny — Catalyst broadcasts its
    * banded form on its own.
    */
  def contamination(
      corpus: DataFrame, corpusId: String, corpusText: String,
      benchmark: DataFrame, benchId: String, benchText: String,
      shingleSize: Int = 3, numBands: Int = 8, rowsPerBand: Int = 4,
      jaccardThreshold: Double = 0.5, hashFamily: String = "md5"): DataFrame = {
    val numHashes = numBands * rowsPerBand
    // ids keep their natural type (string/UUID doc ids are common in scraped
    // corpora; no connected components here, so nothing needs a long)
    val c = shingleSig(corpus, col(corpusId), col(corpusText), shingleSize, numHashes, hashFamily)
    val b = shingleSig(benchmark, col(benchId), col(benchText), shingleSize, numHashes, hashFamily)
    val candidates = bandJoin(
      bandBuckets(c, numBands, rowsPerBand), "corpus_id",
      bandBuckets(b, numBands, rowsPerBand), "benchmark_id")
    candidates
      .join(c.select(col("id").as("corpus_id"), col("sh").as("cs")), "corpus_id")
      .join(b.select(col("id").as("benchmark_id"), col("sh").as("bs")), "benchmark_id")
      .withColumn("jaccard", jaccardOf(col("cs"), col("bs")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("corpus_id", "benchmark_id", "jaccard")
  }

  /** Pick `(numBands, rowsPerBand)` for a target Jaccard threshold: over all
    * factorizations `b·r = numHashes`, minimize the sum of false-positive
    * and false-negative mass of the S-curve `p(s) = 1 − (1 − s^r)^b` around
    * the threshold (trapezoid integral on a fixed grid — deterministic).
    * The standard calibration (Mining of Massive Datasets §3.4, public):
    * more bands → higher recall below the threshold (more FPs), more rows →
    * sharper cutoff (more FNs just below it). Returns the balanced knee so
    * callers stop hand-tuning `numBands`/`rowsPerBand` per corpus.
    */
  def lshParams(jaccardThreshold: Double, numHashes: Int = 32): (Int, Int) = {
    require(jaccardThreshold > 0 && jaccardThreshold < 1,
      s"threshold in (0,1), got $jaccardThreshold")
    require(numHashes >= 2, s"numHashes must be >= 2, got $numHashes")
    val factorizations =
      (1 to numHashes).filter(numHashes % _ == 0).map(b => (b, numHashes / b))
    def cost(b: Int, r: Int): Double = {
      val grid = (0 until 100).map(i => 0.005 + i * 0.01)
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      // FP mass: collision probability below the threshold; FN mass: miss
      // probability above it
      grid.map(s => if (s < jaccardThreshold) p(s) else 1.0 - p(s)).sum * 0.01
    }
    factorizations.minBy { case (b, r) => cost(b, r) }
  }

  /** A persisted MinHash-LSH index opened from disk — the dedup sibling of
    * [[Lexical.Bm25Index]]/[[Ann.AnnIndex]] for the INCREMENTAL regime: a
    * crawl pipeline dedups each day's batch against the corpus it already
    * ingested, and re-shingling + re-minhashing 100 TB per batch is the cost
    * this layout kills. `postings` is the banded `(id, band, bucket, bkey)`
    * table (band-partitioned parquet), `shingles` the pinned distinct-shingle
    * sets for the exact-Jaccard verify; both are paid once at build.
    */
  final case class MinHashIndex(
      postings: DataFrame, shingles: DataFrame,
      shingleSize: Int, numBands: Int, rowsPerBand: Int, hashFamily: String,
      nRows: Option[Long] = None,
      appendedBatches: Int = 0,
      deletedPostings: Long = 0L,
      allowed: Option[DataFrame] = None) {
    /** Tombstoned postings ÷ scanned postings — the delete-cadence signal.
      * Deletes are exact here for the same reason appends are (no corpus-
      * global stats; see [[minhashDeleteFromIndex]]); what accumulates is
      * scan waste. Compact when it grows past taste.
      */
    def deleteFraction: Double =
      nRows.filter(_ > 0).map(deletedPostings.toDouble / _).getOrElse(0.0)
    /** The triad's third cadence signal (vs [[graft.operators.Ann.AnnIndex
      * .appendStaleness]] and [[graft.operators.Lexical.Bm25Index
      * .appendFraction]]): MinHash appends cost NOTHING in result quality —
      * postings are per-document, no global stat goes stale — so what
      * accumulates is purely physical: every committed batch adds one more
      * union branch (and parquet root) to each search's scan.
      * [[minhashCompactIndex]] when the fan-in grows past taste.
      */
    def unionFanIn: Int = appendedBatches + 1
    /** The serving tiers ([[Resident.Tiers]]) of a pinned open: the driver
      * (band, bucket) → postings + shingle-set mirror under the resident
      * bound, the partitioned tier over it.
      */
    @transient private[operators] val tiers =
      Resident.minhashTiers(postings, shingles, nRows, allowed)
  }

  /** Build the persistable structures: banded postings + shingle sets (same
    * kernels as [[minhashLsh]]/[[contamination]] — same params → the search
    * is row-identical to the from-scratch two-table run, which the driver
    * query checks against the SAME oracle text). Returns a [[MinHashIndex]]
    * CARRYING the banding params it was built with, so [[minhashWriteIndex]]
    * persists the params the postings actually encode — a caller can no
    * longer build with one banding and accidentally write a meta file
    * claiming another (the silent candidate-generation drift the meta file
    * exists to prevent).
    */
  def minhashBuildIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numBands: Int = 8, rowsPerBand: Int = 4,
      hashFamily: String = "md5"): MinHashIndex = {
    val base = shingleSig(corpus, col(idCol), col(textCol),
      shingleSize, numBands * rowsPerBand, hashFamily)
    MinHashIndex(bandBuckets(base, numBands, rowsPerBand),
      base.select(col("id"), col("sh")),
      shingleSize, numBands, rowsPerBand, hashFamily)
  }

  /** Persist a [[minhashBuildIndex]] result: postings band-partitioned
    * (search joins arrive per band; a single-band probe prunes to one
    * directory), shingles as-is, plus a meta file pinning the banding
    * parameters THE INDEX CARRIES — a search against an index built with
    * different params would silently change semantics, so open() trusts the
    * meta and the meta can only come from the build. The meta's `n_rows` is
    * the postings count the write took ([[IndexLayout.writeComponent]]),
    * which the serving tiers' residency gate reads.
    */
  def minhashWriteIndex(index: MinHashIndex, path: String): Unit = {
    val nRows = layoutComponents(index.postings, index.shingles)
      .map(IndexLayout.writeComponent(path, _).nRows).head
    IndexLayout.writeMeta(index.postings.sparkSession, path, IndexLayout.MinHashLsh,
      s""""shingle_size": ${index.shingleSize}, """ +
        s""""num_bands": ${index.numBands}, "rows_per_band": ${index.rowsPerBand}, """ +
        // the id column keeps the CORPUS id type (string keys are
        // first-class here, unlike bm25's integral contract), so open()
        // needs it recorded to skip schema inference
        s""""id_type": "${index.postings.schema("id").dataType.typeName}", """ +
        s""""hash_family": "${index.hashFamily}", "n_rows": $nRows""")
  }

  /** A base layout's or a batch's components; the postings are counted. */
  private def layoutComponents(postings: DataFrame, shingles: DataFrame) =
    Seq(IndexLayout.Component("postings", postings, Some("band")),
      IndexLayout.Component("shingles", shingles))

  /** Absorb a new batch into a persisted index WITHOUT a rebuild, as one
    * committed batch ([[IndexLifecycle.append]]: atomic, idempotent,
    * crash-invisible): a crawl pipeline first dedups each day's batch
    * against the corpus ([[minhashSearchIndex]]), then appends the
    * verified-new rows here. Only the batch is shingled and signed, with the
    * banding params pinned by the index's meta file, never caller-supplied,
    * and it lands as `path/batches/<batchId>/{postings, shingles}`. After
    * the append, `open → search ≡ full rebuild → search` row-identically,
    * which the spec and the `q_minhash_index_append` bench query
    * (q_contamination's oracle) hash-check.
    *
    * This works for MinHash because the index holds no corpus-global
    * statistics: postings rows and shingle sets are per-document, so
    * append IS the incremental build. The BM25 append merges its exact
    * corpus stats ([[Lexical.bm25AppendIndex]]); the ANN index offers the
    * existing-centroids middle ground ([[Ann.annAppendIndex]]). Return
    * value: [[IndexLifecycle.append]].
    */
  def minhashAppendIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      batchId: String): Boolean =
    MinhashLifecycle.append(spark, path, batch, idCol, textCol, batchId)

  /** Compact an appended index into a fresh single-layout index at
    * `dstPath` — the MinHash sibling of [[Ann.annCompactIndex]], bounding
    * [[minhashAppendIndex]]'s batch-directory accumulation (every open
    * unions base + committed batches; dozens of batches mean dozens of
    * parquet roots per search). The base postings/shingles plus every
    * COMMITTED batch are rewritten as one band-partitioned layout with the
    * same banding params (the postings already carry their band buckets —
    * nothing is re-shingled, so `open(dst) → search ≡ open(src) → search`
    * row-for-row) and a freshly counted meta row count
    * ([[IndexLifecycle.compact]]).
    */
  def minhashCompactIndex(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit =
    MinhashLifecycle.compact(spark, srcPath, dstPath)

  /** Exact schemas of the persisted layout components, as
    * [[minhashWriteIndex]] / [[minhashAppendIndex]] write them: a
    * known schema skips the footer/schema-inference job per component read —
    * see [[Lexical.postingsReadSchema]] for the rationale. The id column
    * keeps the CORPUS id type, so it is parameterised from the meta's
    * `id_type` record. Spec-pinned equal to inference (EngineSpec), incl.
    * a string-id index.
    */
  private[graft] def minhashPostingsReadSchema(
      idType: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", idType),
      StructField("bucket", ArrayType(LongType)),
      StructField("bkey", LongType),
      StructField("band", IntegerType)))
  }
  private[graft] def shinglesReadSchema(
      idType: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", idType),
      StructField("sh", ArrayType(StringType))))
  }

  /** Open a [[minhashWriteIndex]] directory ([[IndexLayout.open]]): the
    * base layout unioned with every committed append batch, minus every
    * visible tombstone, in both the postings and the shingles, with
    * per-directory `band=` partition pruning in every branch, so a banded
    * search still scans only the probed band's files in each layout. The
    * id type comes from the meta (the corpus id type). `pins` restricts
    * the open to a snapshot's batches and tombstones ([[Snapshots]]).
    */
  def minhashOpenIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      pins: Option[IndexPins] = None): MinHashIndex = {
    val o = IndexLayout.open(spark, path, IndexLayout.MinHashLsh, pins)
    val idType = org.apache.spark.sql.types.DataType.fromDDL(o.meta.get("id_type").asText())
    val idx = MinHashIndex(
      o.component("postings", minhashPostingsReadSchema(idType), "id"),
      o.component("shingles", shinglesReadSchema(idType), "id"),
      o.meta.get("shingle_size").asInt(),
      o.meta.get("num_bands").asInt(),
      o.meta.get("rows_per_band").asInt(),
      o.meta.get("hash_family").asText(),
      Some(o.nRows),
      appendedBatches = o.batches.size,
      deletedPostings = o.deltas.nRows)
    o.share(idx.tiers)
    idx
  }

  /** Tombstone-delete documents from a persisted MinHash index — the removal
    * verb of the lifecycle (see [[Tombstones]] for the shared protocol).
    * Exact for the same reason the append is: the index holds no
    * corpus-global statistics — postings rows and shingle sets are
    * per-document — so excluding a document's rows IS the incremental
    * un-build, and `open → search` after a delete is row-identical to a
    * full rebuild over the surviving corpus (`q_minhash_index_delete`
    * hash-checks it). A deleted document stops matching incoming batches
    * immediately: a re-crawled copy of a taken-down page is NOT a duplicate
    * of the (now absent) corpus entry and will be admitted as new — exactly
    * the takedown semantics a dedup corpus needs. Protocol and return
    * value: [[IndexLifecycle.delete]].
    */
  def minhashDeleteFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String, delId: String): Boolean =
    MinhashLifecycle.delete(spark, path, ids, idCol, delId)

  /** The MinHash lifecycle ([[IndexLifecycle]]): one shingle row per
    * document is the membership table, and every document has exactly
    * `numBands` posting rows (posexplode over the fixed band sequence), so a
    * delete's dropped-row count needs no second scan. Maintenance compacts
    * on the union fan-in, then on the tombstoned share, and carries the
    * `ingest_manifests` directory into the new generation so a
    * crash-replayed ingest epoch still reads its committed survivor set
    * back from the new current path.
    */
  object MinhashLifecycle extends IndexLifecycle("minhash", "id", IndexLayout.MinHashLsh) {
    type Index = MinHashIndex

    def open(spark: org.apache.spark.sql.SparkSession, path: String, pins: Option[IndexPins]) =
      minhashOpenIndex(spark, path, pins)

    // the banding params come from the meta alone: an open would also read
    // the tombstones, which an append never needs
    protected def batchRows(spark: org.apache.spark.sql.SparkSession, path: String,
        meta: com.fasterxml.jackson.databind.JsonNode, batch: DataFrame,
        idCol: String, textCol: String): IndexLifecycle.BatchRows = {
      val (bands, rows) = (meta.get("num_bands").asInt(), meta.get("rows_per_band").asInt())
      val base = shingleSig(batch, col(idCol), col(textCol),
        meta.get("shingle_size").asInt(), bands * rows, meta.get("hash_family").asText())
      IndexLifecycle.BatchRows(layoutComponents(
        bandBuckets(base, bands, rows), base.select(col("id"), col("sh"))))
    }

    protected def members(index: MinHashIndex): DataFrame = index.shingles

    protected def doomed(index: MinHashIndex, found: DataFrame): IndexLifecycle.Doomed =
      IndexLifecycle.Doomed(found.select(col("id")),
        w => Tombstones.Deltas(nIds = w.nRows, nRows = w.nRows * index.numBands))

    protected def compactInto(index: MinHashIndex, dst: String): Unit =
      minhashWriteIndex(index, dst)

    private[operators] def signals(spark: org.apache.spark.sql.SparkSession, index: MinHashIndex,
        src: String, policy: IndexMaintenance.Policy): Seq[IndexLifecycle.Signal] = {
      import org.apache.hadoop.fs.{FileUtil, Path}
      def compact(dst: String): Unit = {
        this.compact(spark, index, src, dst)
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = new Path(src).getFileSystem(conf)
        val mani = new Path(src, "ingest_manifests")
        // a false return must fail the pass before the generation commits
        if (fs.exists(mani)) require(
          FileUtil.copy(fs, mani, fs, new Path(dst, "ingest_manifests"), false, conf),
          s"copy $mani -> $dst/ingest_manifests reported failure")
      }
      Seq(
        IndexLifecycle.Signal("unionFanIn", index.unionFanIn,
          policy.minhashMaxFanIn, "compact", compact),
        IndexLifecycle.Signal("deleteFraction", index.deleteFraction,
          policy.maxDeleteFraction, "compact", compact))
    }
  }

  /** Allow-list-restricted view of a MinHash index — the near-dup leg of
    * the metadata-filtered-retrieval surface ([[graft.operators.Ann
    * .annFilteredView]] / [[graft.operators.Lexical.bm25FilteredView]] are
    * the vector/lexical legs). Searches against the view return only
    * matches whose `corpus_id` is in the allow set.
    *
    * Jaccard has no corpus-global statistics, so the restriction point is
    * pure efficiency, not semantics: on the distributed plan the semi-join
    * lands on the POSTINGS scan, before the band equi-join, so disallowed
    * docs never generate candidates (a post-filter on the output would
    * verify and then discard them). No broadcast hint — AQE broadcasts a
    * small allow set. A PINNED index with a driver-sized allow-list still
    * serves from the base index's mirrors ([[Regime.MaxDriverAllowIds]]):
    * candidate ids are filtered in the fold before Jaccard verification —
    * zero jobs on the driver mirror, one on the partitioned tier, same
    * rows. Search-only: append/delete/compact take the index PATH and
    * ignore views.
    */
  def minhashFilteredView(
      index: MinHashIndex, allowed: DataFrame, idCol: String): MinHashIndex =
    index.tiers.view(allowed, idCol)(a => index.copy(allowed = a))(_.tiers)

  /** Near-dup pairs between an incoming batch and the persisted corpus:
    * `(corpus_id, batch_id, jaccard)` with jaccard ≥ the threshold — exactly
    * [[contamination]]'s relation when corpus/benchmark are the same frames
    * (same banding, same verify), but the corpus side costs a parquet scan
    * instead of a full re-shingle + re-minhash. Only the BATCH is shingled
    * and signed per run; the band equi-join shuffles the batch's ≤numBands
    * rows per doc against the persisted postings.
    */
  def minhashSearchIndex(
      index: MinHashIndex, batch: DataFrame, idCol: String, textCol: String,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val b = shingleSig(batch, col(idCol), col(textCol),
      index.shingleSize, index.numBands * index.rowsPerBand, index.hashFamily)
    // pinned serving ([[Resident.Tiers.serve]]): the batch's rows are
    // collected once, bounded, and the same fold answers on the driver
    // mirror under the resident bound (zero jobs) or on the partitioned tier
    // over it (one job) — spec-pinned row-identical to the plan below. The
    // batch is collected only for a pinned index
    val served = Resident.serveMinhash(index.tiers, servingBatch(b), index.numBands,
      index.rowsPerBand, jaccardThreshold, StructType(Seq(
        StructField("corpus_id", index.postings.schema("id").dataType, nullable = true),
        StructField("batch_id", b.schema("id").dataType, nullable = true),
        StructField("jaccard", DoubleType, nullable = false))))
    if (served.isDefined) return served.get
    // distributed plan: a view's allow semi-join sits on the postings scan,
    // before band candidates form (see [[minhashFilteredView]]). The ALLOW
    // side is cast into the id domain, not the ids into long:
    // long→string never fails, while string-id postings under ANSI mode
    // would throw on the first non-numeric id — a non-numeric id must be
    // EXCLUDED by a long-keyed filter, not crash the search
    val posts = index.allowed match {
      case Some(ids) => index.postings
        .join(ids.select(col("__allow_id")
            .cast(index.postings.schema("id").dataType).as("__allow_id")),
          index.postings("id") === col("__allow_id"), "left_semi")
      case None => index.postings
    }
    val candidates = bandJoin(
      posts, "corpus_id",
      bandBuckets(b, index.numBands, index.rowsPerBand), "batch_id")
    candidates
      .join(index.shingles.select(col("id").as("corpus_id"), col("sh").as("cs")), "corpus_id")
      .join(b.select(col("id").as("batch_id"), col("sh").as("bs")), "batch_id")
      .withColumn("jaccard", jaccardOf(col("cs"), col("bs")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("corpus_id", "batch_id", "jaccard")
  }

  /** Serving batches above this many docs take the distributed plan even
    * on a pinned index: the serving tiers collect the batch's shingle sets
    * and signatures, and that collect must stay bounded.
    */
  private val MaxServingBatchDocs = 1024

  /** The batch's `(id, sh, sig)` rows, collected once (zero jobs when the
    * batch folds to a LocalRelation — the common serving case; one bounded
    * job otherwise), or None when it exceeds [[MaxServingBatchDocs]].
    */
  private def servingBatch(b: DataFrame): Option[Array[Row]] = {
    val folded = b.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val rows =
      if (folded) b.collect()
      else b.coalesce(1).limit(MaxServingBatchDocs + 1).collect()
    if (rows.length > MaxServingBatchDocs) None else Some(rows)
  }

  /** Exact n-gram benchmark contamination (the public GPT-3/Pile
    * decontamination shape, at word n-grams): for every corpus document, how
    * many of its DISTINCT n-grams appear anywhere in the benchmark set.
    * Returns `(corpus_id, n_hits)` — rows only for contaminated documents;
    * filter `n_hits >= threshold` (or any hit) and drop. Complements
    * [[contamination]]'s Jaccard-similarity view with the
    * membership-overlap view decontamination pipelines actually gate on.
    *
    * Scale: corpus grams explode in place; the benchmark gram SET is
    * vocabulary-sized (benchmarks are small by definition), so the semi-join
    * broadcasts and the only shuffle is the per-doc hit count's partial agg.
    */
  def ngramContamination(
      corpus: DataFrame, corpusId: String, corpusText: String,
      benchmark: DataFrame, benchText: String, n: Int = 3): DataFrame = {
    val cg = corpus.select(col(corpusId).as("corpus_id"),
      explode(array_distinct(TextAnalysis.wordShingles(col(corpusText), n))).as("g"))
    val bg = benchmark.select(
      explode(array_distinct(TextAnalysis.wordShingles(col(benchText), n))).as("g"))
      .distinct()
    cg.join(bg, Seq("g"), "left_semi")
      .groupBy("corpus_id").agg(count(lit(1)).as("n_hits"))
  }

  /** [[ngramContamination]] with a Bloom pre-filter — the 100 TB plan: the
    * benchmark grams fold into a kilobytes-sized [[org.apache.spark.util.sketch.BloomFilter]]
    * on the driver, and the corpus grams are pruned by a codegen'd
    * `might_contain` probe INSIDE the scan stage
    * ([[graft.functions.BloomMightContainExpr]]), so ~everything
    * uncontaminated dies before any join machinery runs. Survivors (true
    * hits + the fpp share of false positives) still pass the exact semi-join
    * verify, so the output is IDENTICAL to [[ngramContamination]] — the
    * filter only bounds how many rows reach the verify, never what it
    * returns.
    */
  def ngramContaminationBloom(
      corpus: DataFrame, corpusId: String, corpusText: String,
      benchmark: DataFrame, benchText: String, n: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    val bg = benchmark.select(
      explode(array_distinct(TextAnalysis.wordShingles(col(benchText), n))).as("g"))
      .distinct()
      .localCheckpoint(true) // read thrice: count, bloom fold, exact verify
    val bloom = gramBloom(bg, fpp)
    val cg = corpus.select(col(corpusId).as("corpus_id"),
      explode(array_distinct(TextAnalysis.wordShingles(col(corpusText), n))).as("g"))
      .filter(graft.functions.BloomMightContainExpr.mightContain(
        xxhash64(col("g")), bloom))
    cg.join(bg, Seq("g"), "left_semi")
      .groupBy("corpus_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Fold a benchmark's distinct word n-grams into a driver-side Bloom
    * filter — the reusable artifact behind [[ngramContaminationBloom]] and
    * [[contaminationGate]]; build once, gate many batches/streams.
    */
  def benchmarkGramBloom(
      benchmark: DataFrame, benchText: String, n: Int = 3,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    gramBloom(benchmark.select(
      explode(array_distinct(TextAnalysis.wordShingles(col(benchText), n))).as("g"))
      .distinct(), fpp)

  private def gramBloom(
      distinctGrams: DataFrame, fpp: Double): org.apache.spark.util.sketch.BloomFilter = {
    val expected = math.max(distinctGrams.count(), 1L)
    distinctGrams.select(xxhash64(col("g")).as("gh")).stat
      .bloomFilter("gh", expected, fpp)
  }

  /** STATELESS contamination gate: keep only documents NONE of whose word
    * n-grams might belong to `bloom`. One-sided error by construction —
    * a contaminated document is NEVER kept; a clean one is dropped with
    * probability ≈ per-gram fpp × grams, the conservative direction for a
    * decontamination gate. Being a pure row predicate (`exists` over the
    * shingle array, probe inside codegen), it runs identically under
    * Structured Streaming — the ingest-time decontamination shape — where
    * the exact-verify join of [[ngramContaminationBloom]] has no
    * per-microbatch equivalent.
    */
  def contaminationGate(
      df: DataFrame, textCol: String,
      bloom: org.apache.spark.util.sketch.BloomFilter, n: Int = 3): DataFrame = {
    val grams = array_distinct(TextAnalysis.wordShingles(col(textCol), n))
    df.filter(!exists(grams, g =>
      graft.functions.BloomMightContainExpr.mightContain(xxhash64(g), bloom)))
  }

  /** Embedding-cosine near-dup representatives: ε-cluster then keep min id per
    * cluster. Returns the deduplicated id set as (id, cluster, is_representative).
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame = {
    val clustered = Clustering.epsilonCluster(df, idCol, vecCol, tau)
    clustered.withColumn("is_representative", col("id") === col("cluster"))
  }

  /** LSH-accelerated variant of [[embeddingNearDup]] — SRP bucket equi-join
    * candidate generation instead of the all-pairs scan (the 100 TB path;
    * approximate: recall < 1 near the threshold).
    */
  def embeddingNearDupLsh(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      nBands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    val clustered = Clustering.epsilonClusterLsh(df, idCol, vecCol, tau, nBands, bitsPerBand)
    clustered.withColumn("is_representative", col("id") === col("cluster"))
  }

  /** SemDeDup-style centroid-blocked embedding near-dup (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus by nearest centroid, run the
    * cosine>=tau near-dup graph WITHIN each centroid cell only, cluster, keep
    * the min-id representative. The k-means cells play the blocking role SRP
    * bands play in [[embeddingNearDupLsh]] — pairwise work drops from O(n²)
    * to Σ|cell|², and the only recall loss is pairs straddling a cell
    * boundary (the paper's accepted trade).
    *
    * Centroids here are a deterministic md5-ordered pick of `nCentroids`
    * corpus rows — bit-stable across engines and partitionings, which is what
    * lets the DuckDB oracle replay the whole pipeline value-for-value. Pass
    * the pick through [[Ann.refineCentroids]] (Lloyd rounds on a sample) when
    * cell quality matters more than cross-engine parity; every downstream
    * stage is centroid-agnostic.
    *
    * Scale: assignment is one broadcast nested-loop scan against the
    * ≤nCentroids centroid table + a per-id argmax window whose fan-in is
    * bounded by nCentroids (never by data); the within-cell join is an
    * equi-join on `cid` (AQE skew-split absorbs hot cells — and a hot cell
    * means nCentroids is too small for the corpus). Vectors travel through
    * the narrow (id, cid, score) shuffle only once each via the two verify
    * join-backs. Returns `(id, cluster, is_representative)`, same contract as
    * [[embeddingNearDup]].
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      nCentroids: Int = 64): DataFrame = {
    import graft.functions.VectorOps._
    require(nCentroids >= 1, s"nCentroids must be >= 1, got $nCentroids")
    val pts = df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .localCheckpoint(true) // branches: centroid pick + scoring + 2 join-backs
    val cents = pts
      .orderBy(md5(concat(lit("graft-sd-"), col("id").cast("string"))), col("id"))
      .limit(nCentroids)
      .select(col("id").as("cid"), col("v").as("cv"))
    // nearest-centroid assignment; ties broken toward the lowest centroid id
    // (row_number over <= nCentroids rows per id — bounded fan-in by design)
    val scored = pts.crossJoin(broadcast(cents))
      .select(col("id"), col("cid"), cosine(col("v"), col("cv")).as("cs"))
    val w = Window.partitionBy("id").orderBy(col("cs").desc, col("cid"))
    val assigned = scored
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("id", "cid")
    val edges = assigned.select(col("cid"), col("id").as("i"))
      .join(assigned.select(col("cid"), col("id").as("j")), "cid")
      .filter(col("i") < col("j"))
      .join(pts.select(col("id").as("i"), col("v").as("vi")), "i")
      .join(pts.select(col("id").as("j"), col("v").as("vj")), "j")
      .filter(cosine(col("vi"), col("vj")) >= tau)
      .select("i", "j")
    Clustering.connectedComponents(pts.select("id"), edges)
      .withColumnRenamed("component", "cluster")
      .withColumn("is_representative", col("id") === col("cluster"))
  }

  /** Paragraph-level exact dedup WITHIN documents (the public CCNet recipe):
    * split each document on `sepRegex`, keep only the globally-first
    * occurrence of every distinct trimmed paragraph (first = lowest
    * `(ordCol, position)`), and reassemble each document from its surviving
    * paragraphs joined with `joinSep`. Kills boilerplate (headers, footers,
    * cookie banners) that repeats across pages without discarding the pages
    * themselves. Returns `(ordCol, textCol, n_paras, n_kept)` — documents
    * whose every paragraph was already seen elsewhere come back with empty
    * text and `n_kept = 0` (filter on it to drop them); documents with no
    * non-blank paragraph at all produce no output row.
    *
    * Scale: posexplode fans out in place (no shuffle); the keep-first
    * decision is `groupBy(p).agg(min(struct(ord, pos)))` — a hash aggregate
    * with PARTIAL (map-side) combine, so a cross-site boilerplate paragraph
    * repeated a billion times collapses to one candidate row per map task
    * before the shuffle (a row_number window instead would funnel
    * every occurrence of a hot paragraph into one task — a straggler/OOM
    * hazard at 100 TB). The join back on `p` is first-row-vs-all, and AQE's
    * skew-join split handles residual hot keys (windows get no such help);
    * reassembly is one groupBy(doc) of the kept rows. Compare keys are the
    * paragraph text itself — at scale swap the aggregate key for
    * `xxhash64(p)` to shuffle 8-byte keys instead of strings (collisions
    * then merge paragraphs; acceptable for dedup, not for the bit-exact
    * oracle here).
    */
  def paragraphDedup(
      df: DataFrame, ordCol: String, textCol: String,
      sepRegex: String = "\\n+", joinSep: String = "\n"): DataFrame = {
    val paras = df
      .select(col(ordCol), posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "p")))
      .withColumn("p", trim(col("p")))
      .filter(col("p") =!= "")
    val firsts = paras.groupBy(col("p"))
      .agg(min(struct(col(ordCol), col("pos"))).as("__first"))
    val marked = paras.join(firsts, Seq("p"))
      .withColumn("__keep", struct(col(ordCol), col("pos")) === col("__first"))
      .drop("__first")
    marked.groupBy(col(ordCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(col("__keep").cast("long")).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__keep"), struct(col("pos"), col("p"))))),
            x => x.getField("p")),
          joinSep).as(textCol))
      .select(col(ordCol), col(textCol), col("n_paras"), col("n_kept"))
  }

  /** Per-document duplicated-span statistics — the exact-substring-dedup
    * signal (public "Deduplicating Training Data Makes Language Models
    * Better" recipe, windowed form): a span is a `window`-token shingle
    * ([[TextAnalysis.wordShingles]]); a span is DUPLICATED when it occurs in
    * ≥ 2 documents (or twice in one — df counts per-doc-distinct occurrences
    * across the corpus). Appends per document `n_spans` (distinct spans),
    * `dup_spans`, and `dup_frac = dup_spans / n_spans` — filter on
    * `dup_frac` to drop documents that are mostly copied spans, or join the
    * flagged spans back to excise them. Documents with null text get zeros.
    *
    * Scale: explode → one span-frequency aggregate (vocabulary-of-spans
    * rows, partial combine absorbs hot spans) → join back on span (the df
    * side is UNIQUE per span, so hot spans cannot fan out) → per-doc
    * aggregate. Same shape as [[Lexical.unigramBitsPerToken]]; no windows,
    * no driver state. At 100 TB swap the join key for `xxhash64(span)` to
    * shuffle 8-byte keys (collisions only overcount duplication — same trade
    * as [[paragraphDedup]]'s note).
    */
  def spanDupStats(
      df: DataFrame, idCol: String, textCol: String, window: Int = 8): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    // `spans` feeds both the frequency census and the per-doc join, so the
    // tokenize+shingle+explode pipeline runs twice — DELIBERATE: it is
    // map-only (no shuffle re-runs), and pinning the exploded span stream
    // would cache a LARGER-than-corpus projection (same trade as bm25TopK's
    // stats pass; contrast bm25SearchIndex, which pins post-aggregate rows)
    val spans = df.select(col(idCol).as("__id"),
      explode(array_distinct(TextAnalysis.wordShingles(col(textCol), window))).as("span"))
    val dfreq = spans.groupBy("span").agg(count(lit(1)).as("__df"))
    val perDoc = spans.join(dfreq, Seq("span"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("dup_spans"))
    df.join(perDoc, df(idCol) === perDoc("__id"), "left")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumn("dup_spans", coalesce(col("dup_spans"), lit(0L)))
      .withColumn("dup_frac",
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(col("dup_spans").cast("double") / col("n_spans").cast("double")))
      .drop("__id")
  }
}
