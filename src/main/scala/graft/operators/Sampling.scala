package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling / rebalancing operators for training-data pipelines. At 100 TB the
  * corpus is dominated by a few huge sources; these keep the mix bounded and
  * reproducible without driver-side state.
  */
object Sampling {

  /** Cap each key group at `cap` rows, keeping the first `cap` in `ordCol`
    * order — bounds any one source/domain's contribution to a training mix.
    * One key-partitioned window (WindowGroupLimit pushes the cap below the
    * sort at the physical level — no full per-group materialization).
    */
  def capPerKey(df: DataFrame, keys: Seq[String], cap: Int, ordCol: String): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ordCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Deterministic hash-bucket sample: keeps a row iff
    * `xxhash64(key, seed) mod 1e6 < fraction·1e6`. Reproducible across runs,
    * engines, and cluster sizes (unlike `df.sample`, whose output depends on
    * partitioning), and co-sampling-safe: the same key draws the same verdict
    * in every table, so sampled fact/dim tables still join.
    */
  def deterministicSample(
      df: DataFrame, keyCol: String, fraction: Double, seed: Long = 42L): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction in [0,1], got $fraction")
    df.filter(
      pmod(xxhash64(col(keyCol), lit(seed)), lit(1000000L)) < lit((fraction * 1e6).toLong))
  }

  /** md5 hash bucket in [0, 1e6) — the shared [[graft.functions.DetHash]]
    * convention, recomputable by ANY engine with md5 (the SQL oracle does).
    */
  private def md5Bucket(key: org.apache.spark.sql.Column, seed: Long): org.apache.spark.sql.Column =
    graft.functions.DetHash.md5Bucket(key, seed)

  /** [[deterministicSample]] with an md5 bucket: same reproducibility and
    * co-sampling contract, but the verdict is recomputable by ANY engine with
    * md5 — the cross-engine form a pipeline uses when Spark and a warehouse
    * must agree on the sample, and the one the SQL oracle hash-checks.
    */
  def deterministicSampleMd5(
      df: DataFrame, keyCol: String, fraction: Double, seed: Long = 42L): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction in [0,1], got $fraction")
    df.filter(md5Bucket(col(keyCol), seed) < lit((fraction * 1e6).toLong))
  }

  /** Rebalance a skewed corpus: downsample each key group (source, domain,
    * language, ...) toward `targetPerKey` expected rows, leaving groups at or
    * under the target untouched. Keep rate per group is the INTEGER-EXACT
    * `min(1e6, targetPerKey·1e6 div count)` against the row's md5 bucket, so
    * the kept set is deterministic, partition-invariant, and bit-reproducible
    * by the SQL oracle (no float rate is ever computed).
    *
    * Scale: one partial-agg count per key, a key equi-join of the tiny count
    * table back (Catalyst/AQE broadcasts it), and a codegen filter — no
    * window, no per-group materialization, works on 100 TB with millions of
    * distinct keys (the join simply stops being a broadcast).
    */
  def rebalancePerKey(
      df: DataFrame, keys: Seq[String], idCol: String, targetPerKey: Long,
      seed: Long = 42L): DataFrame = {
    require(targetPerKey > 0, s"targetPerKey must be positive, got $targetPerKey")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cnt"))
    val withThr = counts.withColumn("__thr",
      least(lit(1000000L), expr(s"(${targetPerKey}L * 1000000L) div __cnt")))
    df.join(withThr, keys)
      .filter(md5Bucket(col(idCol), seed) < col("__thr"))
      .select(df.columns.map(col): _*)
  }

  /** Temperature-flattened source mixing — the standard multilingual-LM
    * resampling where source `s`'s share of the mix is `c_s^α / Σ c_t^α`
    * (α = 1 natural distribution, α = 0 uniform, α ≈ 0.3-0.7 the usual
    * flattening range). Realized DOWNSAMPLE-ONLY at the maximum feasible
    * size: the group minimizing `c/c^α` (the smallest, for α < 1) keeps all
    * its rows and every other group keeps the md5-bucket fraction
    * `floor(1e6 · min_t(c_t/c_t^α) · c_s^α / c_s)` — deterministic,
    * partition-invariant, co-sampling-safe, upsampling left to an explicit
    * repeat op.
    *
    * Cross-engine exactness: α = 0.5 is computed via `sqrt` (IEEE requires
    * CORRECT rounding for sqrt, so Spark and any SQL engine produce
    * bit-identical doubles — `pow(x, 0.5)` carries no such guarantee), and
    * the keep threshold is floored to integer millionths before the bucket
    * comparison; the α = 0.5 query is hash-checked against DuckDB. Other α
    * use `pow` (Java and C libm agree in practice; spec-tested in-engine).
    *
    * Scale shape = [[rebalancePerKey]]: one partial-agg count per key, one
    * scalar min broadcast, a tiny threshold table joined back, a codegen
    * filter — no window, no driver state.
    */
  def temperatureMix(
      df: DataFrame, keys: Seq[String], idCol: String, alpha: Double,
      seed: Long = 42L): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha in [0,1], got $alpha")
    val counts = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("double").as("__cnt"))
    def weight(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (alpha == 0.5) sqrt(c) else pow(c, lit(alpha))
    val withW = counts.withColumn("__w", weight(col("__cnt")))
    val minRatio = withW.agg(min(col("__cnt") / col("__w")).as("__minr"))
    // expression tree mirrored verbatim in the SQL oracle: ((minr * w) / cnt)
    // * 1e6, floored — identical doubles in, identical threshold out
    val withThr = withW.crossJoin(broadcast(minRatio))
      .withColumn("__thr", least(lit(1000000L),
        floor(col("__minr") * col("__w") / col("__cnt") * lit(1000000.0)).cast("long")))
    df.join(withThr, keys)
      .filter(md5Bucket(col(idCol), seed) < col("__thr"))
      .select(df.columns.map(col): _*)
  }

  /** Keep the top `frac` share of each key group by `scoreCol` — the
    * quality-percentile gate of a filtered-corpus recipe ("keep each source's
    * best quartile"), rank-exact: row `r` survives iff its dense position by
    * `(score desc, idCol asc)` within its group is ≤ `ceil(frac · group
    * count)`. Integer rank against an integer cutoff — no float percentile
    * interpolation anywhere, so the kept set is deterministic,
    * partition-invariant, and bit-reproducible by the SQL oracle.
    *
    * This is the EXACT form: one key-partitioned window (a per-group sort).
    * Fine for bounded groups or bench scale; at 100 TB with huge groups use
    * [[topFractionApprox]], which replaces the window with a count + an
    * approx-threshold table joined back.
    */
  def topFractionExact(
      df: DataFrame, scoreCol: String, idCol: String, keys: Seq[String],
      frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac in (0,1], got $frac")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(scoreCol).desc, col(idCol))
    val wc = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(wc))
      .filter(col("__rn") <= ceil(col("__cnt") * lit(frac)))
      .drop("__rn", "__cnt")
  }

  /** The per-key `(keys..., thrCol)` threshold table behind
    * [[topFractionApprox]] — exposed so other regimes (e.g. a streaming
    * gate joining each micro-batch against a static threshold table) can
    * reuse the fitted cutoffs without rescanning the corpus.
    */
  def approxThresholds(
      df: DataFrame, scoreCol: String, keys: Seq[String], frac: Double,
      accuracy: Int = 10000, thrCol: String = "threshold"): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac in (0,1], got $frac")
    require(accuracy >= 1, s"accuracy must be >= 1, got $accuracy")
    df.groupBy(keys.map(col): _*)
      .agg(percentile_approx(col(scoreCol), lit(1.0 - frac), lit(accuracy)).as(thrCol))
  }

  /** The scale form of [[topFractionExact]]: per-group score threshold from
    * `approx_percentile` (one partial aggregate), joined back as a tiny
    * per-key table (Catalyst/AQE broadcasts it) and applied as a codegen
    * `score >= threshold` filter — no window, no per-group sort, works with
    * millions of groups. The kept set can differ from the exact gate by the
    * rows within the sketch's rank-error band around the cutoff
    * (`accuracy` trades memory for band width); the spec pins the two forms
    * equal at bench scale where the sketch is exact.
    */
  def topFractionApprox(
      df: DataFrame, scoreCol: String, keys: Seq[String], frac: Double,
      accuracy: Int = 10000): DataFrame = {
    val thr = approxThresholds(df, scoreCol, keys, frac, accuracy, "__thr")
    df.join(broadcast(thr), keys)
      .filter(col(scoreCol) >= col("__thr"))
      .select(df.columns.map(col): _*)
  }

  /** Rank-EXACT scale form of [[topFractionExact]] — kept set identical to
    * the windowed gate on every input (same `(score desc, id asc)` cutoff at
    * `ceil(frac·n)` per group), but the window only ever runs over a narrow
    * sketch-error band around the cutoff instead of the whole group: the
    * [[tokenBudgetSelect]] straddle move applied to percentile gating.
    *
    * Mechanics: one aggregate yields per-group `n`, `k = ceil(frac·n)`, and
    * two sketch thresholds bracketing the cutoff (`percentile_approx` at
    * `1-frac ± margin`). Rows scoring above the high threshold are certainly
    * inside the top-k (their count `c_hi ≤ k` is verified from a second
    * partial aggregate) and pass with a codegen filter; rows inside the
    * band get the real `(score desc, id asc)` window, offset by `c_hi`; rows
    * below the low threshold are certainly out. The per-group counts make
    * correctness UNCONDITIONAL: if the sketch breaches its margin (`c_hi > k`
    * or fewer than `k` rows clear the low threshold), that group degrades to
    * windowing its remainder — exactness never depends on the sketch, only
    * the band width does.
    *
    * Scale: two partial aggregates over the data, two tiny broadcast-joined
    * per-key tables, and a window over ~`2·bandFrac` of each group (0.5% by
    * default) — at 100 TB the difference between sorting the corpus and
    * sorting a two-hundredth of it, with the exact gate's bit-identical
    * output (spec-pinned equal on adversarial tie/tiny-group inputs, and the
    * composite spec pins the whole gate→DSIR→budget recipe equal through it).
    *
    * Default accuracy 1000, NOT topFractionApprox's 10000: here the sketch
    * never decides membership (the per-group counts make exactness
    * unconditional), it only positions the band — and the margin is floored
    * at `bandFrac` (0.005 > 4/1000), so a finer sketch buys nothing while
    * `percentile_approx`'s buffer merge cost scales with accuracy
    * (measured: the 10000-sketch dominated the gate's task time at bench
    * scale).
    */
  def topFractionSketch(
      df: DataFrame, scoreCol: String, idCol: String, keys: Seq[String],
      frac: Double, accuracy: Int = 1000, bandFrac: Double = 0.005): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac in (0,1], got $frac")
    require(accuracy >= 1, s"accuracy must be >= 1, got $accuracy")
    require(bandFrac > 0 && bandFrac < 1, s"bandFrac in (0,1), got $bandFrac")
    // sketch rank error is ~n/accuracy rows; the margin (in percentile units)
    // must dominate it plus the quantile definition's ±1 — the floor keeps the
    // band honest for small accuracy, and the runtime count checks below keep
    // correctness even if the margin is breached
    val margin = math.max(4.0 / accuracy, bandFrac)
    val pHi = math.min(1.0, 1.0 - frac + margin)
    val pLo = math.max(0.0, 1.0 - frac - margin)
    val stats = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        percentile_approx(col(scoreCol), array(lit(pLo), lit(pHi)), lit(accuracy)).as("__ts"))
      .select((keys.map(col) :+
        ceil(col("__n") * lit(frac)).cast("long").as("__k") :+
        col("__ts").getItem(0).as("__tlo") :+
        col("__ts").getItem(1).as("__thi")): _*)
    val withThr = df.join(broadcast(stats), keys)
    // band census (second partial aggregate): how many rows clear each
    // threshold — the unconditional-correctness check
    val bandCounts = withThr.groupBy(keys.map(col): _*)
      .agg(sum(when(col(scoreCol) > col("__thi"), 1L).otherwise(0L)).as("__chi"),
        sum(when(col(scoreCol) >= col("__tlo"), 1L).otherwise(0L)).as("__cgelo"))
    val full = withThr.join(broadcast(bandCounts), keys)
      // sure rows are inside the top-k only if there are at most k of them
      .withColumn("__sureOk", col("__chi") <= col("__k"))
      // sketch breached the low margin: too few candidates clear __tlo, so
      // this group's band extends to its whole sub-__thi remainder
      .withColumn("__bandAll", col("__cgelo") < col("__k"))
    val sure = full.filter(col("__sureOk") && col(scoreCol) > col("__thi"))
    val bandRows = full.filter(
      (!col("__sureOk") || col(scoreCol) <= col("__thi") || col(scoreCol).isNull) &&
        (col("__bandAll") || col(scoreCol) >= col("__tlo")))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(scoreCol).desc, col(idCol))
    val bandKept = bandRows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") + when(col("__sureOk"), col("__chi")).otherwise(lit(0L))
        <= col("__k"))
    sure.select(df.columns.map(col): _*)
      .unionByName(bandKept.select(df.columns.map(col): _*))
  }

  /** Token-budget corpus assembly: keep, per key group, the md5-shuffled
    * PREFIX of rows whose running token total stays within `budgetPerKey` —
    * "give me ~2B tokens per source, uniformly sampled, deterministically".
    * Semantics (the oracle's definition): order each group's rows by
    * `(md5 millionths bucket, id)` and keep a row iff its inclusive running
    * `tokensCol` sum is ≤ the budget. All integer arithmetic over an
    * md5-total order — bit-reproducible by any engine with md5 and a window.
    *
    * The implementation never runs that window over the data: rows are
    * coarse-bucketed (millionths div 1000 → ≤1000 buckets/key), per-bucket
    * token sums aggregate small, the bucket-level prefix runs over the tiny
    * `keys x 1000` table, whole buckets under the budget pass with a
    * broadcast-join filter, and only the single straddle bucket per key
    * (~1/1000 of the group) pays a real window. At 100 TB that is the
    * difference between sorting the corpus and sorting a millionth of it.
    */
  def tokenBudgetSelect(
      df: DataFrame, keys: Seq[String], idCol: String, tokensCol: String,
      budgetPerKey: Long, seed: Long = 42L): DataFrame = {
    require(budgetPerKey > 0, s"budgetPerKey must be positive, got $budgetPerKey")
    val m = md5Bucket(col(idCol), seed)
    val keyed = df.withColumn("__m", m).withColumn("__cb", (col("__m") / lit(1000L)).cast("long"))
    // tiny per-(key, coarse-bucket) token sums + bucket-level exclusive prefix
    val buckets = keyed.groupBy((keys.map(col) :+ col("__cb")): _*)
      .agg(sum(col(tokensCol)).cast("long").as("__bt"))
    val wb = Window.partitionBy(keys.map(col): _*).orderBy(col("__cb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pin the ≤ keys x 1000-row prefix table: the keep and straddle branches
    // below would otherwise each re-run the corpus-wide bucket aggregate
    val pref = buckets
      .withColumn("__cumIncl", sum(col("__bt")).over(wb))
      .withColumn("__cumBefore", col("__cumIncl") - col("__bt"))
      .localCheckpoint(true)
    // whole buckets fully inside the budget; the one straddle bucket per key
    val keep = pref.filter(col("__cumIncl") <= lit(budgetPerKey))
      .select((keys.map(col) :+ col("__cb")): _*)
    // `<=` on the exclusive prefix (advisor r7): a bucket whose prefix
    // equals the budget EXACTLY still holds keepable rows — its zero-token
    // head rows have inclusive running sums == budget, which the one-window
    // oracle keeps; `<` would drop them with the rest of the bucket
    val straddle = pref
      .filter(col("__cumBefore") <= lit(budgetPerKey) && col("__cumIncl") > lit(budgetPerKey))
      .select((keys.map(col) :+ col("__cb") :+ col("__cumBefore")): _*)
    val wholesale = keyed.join(broadcast(keep), keys :+ "__cb")
    // window ONLY over the straddle slice (~1/1000 of each group)
    val ws = Window.partitionBy(keys.map(col): _*).orderBy(col("__m"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val partial = keyed.join(broadcast(straddle), keys :+ "__cb")
      .withColumn("__cumIn", sum(col(tokensCol).cast("long")).over(ws))
      .filter(col("__cumBefore") + col("__cumIn") <= lit(budgetPerKey))
    wholesale.select(df.columns.map(col): _*)
      .unionByName(partial.select(df.columns.map(col): _*))
  }

  /** The upsampling dual of [[temperatureMix]]: flatten the mix toward
    * `share ∝ count^α` by REPLICATING under-represented groups instead of
    * dropping rows — the regime used when the corpus is the bottleneck and
    * epochs-per-source is the knob. The largest group stays at its natural
    * size (factor exactly 1) and every other group is repeated by
    * `r_s = (c_max/c_s)^(1-α)` ≥ 1: each row emits `floor(r_s)` copies plus
    * one more iff its md5 bucket clears the fractional millionths
    * `floor((r_s - floor(r_s))·1e6)` — deterministic, partition-invariant,
    * and bit-reproducible by the SQL oracle. Copies are distinguished by a
    * 0-based `repCol` so downstream shuffles/dedups see distinct rows.
    *
    * Cross-engine exactness mirrors [[temperatureMix]]: for α = 0.5 the
    * factor is `sqrt(c_max/c_s)` — one correctly-rounded IEEE divide and one
    * correctly-rounded sqrt, so any engine reproduces the exact double;
    * other α route through `pow` (in-engine spec only).
    *
    * Scale: one partial-agg count per key, one scalar max broadcast, a tiny
    * factor table joined back, and a codegen `explode(sequence(...))` whose
    * blow-up is bounded by `(c_max/c_min)^(1-α)` — no window, no driver
    * state; output size is known from the count table before running.
    */
  def temperatureUpsample(
      df: DataFrame, keys: Seq[String], idCol: String, alpha: Double,
      seed: Long = 42L, repCol: String = "rep"): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha in [0,1], got $alpha")
    val counts = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("double").as("__cnt"))
    val maxC = counts.agg(max(col("__cnt")).as("__cmax"))
    val ratio = col("__cmax") / col("__cnt")
    // expression tree mirrored verbatim in the SQL oracle: r, floor(r), and
    // floor((r - floor(r))·1e6) — identical doubles in, identical copies out
    val r =
      if (alpha == 0.5) sqrt(ratio)
      else if (alpha == 1.0) lit(1.0)
      else pow(ratio, lit(1.0 - alpha))
    val withT = counts.crossJoin(broadcast(maxC))
      .withColumn("__full", floor(r).cast("long"))
      .withColumn("__frac", floor((r - floor(r)) * lit(1000000.0)).cast("long"))
    df.join(withT, keys)
      .withColumn(repCol, explode(sequence(lit(0L),
        col("__full") - 1L +
          when(md5Bucket(col(idCol), seed) < col("__frac"), 1L).otherwise(0L))))
      .select(df.columns.map(col) :+ col(repCol): _*)
  }
}
