package graft.operators

import graft.functions.{Int8Kernels, PqColumns, PqKernels, TopKBuffer, TopKPayloadBuffer}
import graft.functions.VectorOps.{asDouble, cosineWithNorms, dot, norm}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-resident serving: below a strict size bound, a
  * PINNED persisted index is mirrored ONCE into driver-heap structures
  * keyed by the exact lookup the search needs — term → posting slice for
  * BM25, (band, bucket) → posting entries for MinHash, cell → vector
  * matrix for ANN — and every later search runs as plain driver
  * arithmetic returning a LocalRelation: **zero Spark jobs per search**.
  *
  * Rationale, measured (`ServingProbe`): with the 1-job fast paths in
  * place, the serving wall decomposed into the local-mode scheduler
  * round-trip floor (0.06–0.08 s) plus 30–80 ms of single-task scan work,
  * because a cached partition cannot be pruned below bucket granularity —
  * the task reads every posting row of the hit buckets. The resident
  * mirror IS the sub-bucket layout: the driver map jumps straight to the
  * query terms' posting slices, and eliminating the job eliminates the
  * floor with it.
  *
  * Bit parity is by construction, not by re-derivation: every kernel the
  * executors run is reused verbatim on the driver —
  * [[graft.functions.TopKBuffer]] / [[TopKPayloadBuffer]] for selection,
  * the exact scan kernel [[VecScan.scores]] (and [[VecScan.dot]]/
  * [[VecScan.cosine]] for a candidate rerank or an allow-listed cell) for
  * scoring, each quantized ANN scoring's array form ([[AnnScoring]]: the
  * int8 quantize and integer dot, the PQ lookup table and ADC), the
  * [[graft.functions.MultiOrderedSumAggregate.ByteOrder]] comparator for
  * the BM25 fold order, and the `contribCol` arithmetic in the same
  * operation order. Specs differential-test every resident path against
  * the distributed plan row-for-row, score-bit-for-bit.
  *
  * Scale honesty: this is a SERVING-regime optimization with the same
  * contract as the other fast paths — it fires only when (a) the index
  * frames are pinned (a retrieval service's configuration; never on a
  * cold batch read) and (b) the meta row count fits
  * [[Regime.DriverResidentRows]]. A 100 TB corpus index fails (b) and
  * is not mirrored on the driver: pinned, it serves from per-partition
  * mirrors ([[Resident.Partitioned]]) with the same fold, one job per
  * search; unpinned, it keeps the distributed partition-pruned plan.
  *
  * One shape for both tiers: the driver mirror is the partitioned tier
  * with one partition, merged on the driver. Each index open holds one
  * [[Resident.Tiers]] (both mirrors and the gate between them and the
  * plan); each family gives its index rows and mirror build once
  * (`bm25Tiers`, `annTiers`, `minhashTiers`) and, per search, one fold and
  * one merge (`serveBm25`, `serveAnn`, `serveMinhash`).
  */
object Resident {

  /** Residency gate for PINNED frames (the serving configuration; its
    * caller, [[Tiers]], has checked [[Serving.pinned]] first, and a pin
    * lookup walks the cache manager, so it is not repeated here): known row
    * count under [[Regime.DriverResidentRows]] + pinned bytes under the
    * optional [[Regime.DriverResidentBytes]]. An index over the byte budget
    * is declined residency before any driver copy exists and serves from
    * the partitioned tier (a [[ServingSession]] still swaps generations; it
    * never builds the mirror, and `residentBytes` reads 0).
    */
  private[operators] def eligible(
      spark: SparkSession, nRows: Option[Long], frames: DataFrame*): Boolean = {
    // bound must be strictly positive: driverResidentRows=0 means "disable
    // residency", and a pinned EMPTY index (nRows=Some(0)) must honor that
    // rather than satisfy 0 <= 0
    val bound = Regime.DriverResidentRows(spark)
    val byteBudget = Regime.DriverResidentBytes(spark)
    bound > 0 && byteBudget > 0 && nRows.exists(_ <= bound) &&
      // stats only touched when a budget is SET: the pinned frames are
      // materialized InMemoryRelations, so sizeInBytes is their accounted
      // cache footprint (driver-known, no job)
      (byteBudget == Long.MaxValue ||
        frames.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum
          <= BigInt(byteBudget))
  }

  /** Count of searches served driver-resident — observable for the specs
    * (the [[Ann.joinRestrictionSearches]] move).
    */
  private[graft] val residentSearches = new java.util.concurrent.atomic.AtomicLong

  // ------------------------------------------------------------------
  // mirror accounting + explicit release
  // ------------------------------------------------------------------

  /** A driver-resident index mirror. `bytes` is the estimated heap
    * footprint, computed exactly from the primitive arrays plus modeled
    * JVM object/entry overheads (arrays are exactly sizeable; boxed
    * structures use documented constants) — the accounting a long-lived
    * server reads before deciding how many generations it can afford to
    * hold across swaps.
    */
  sealed trait Mirror {
    def bytes: Long
    /** Frees what the mirror holds outside the driver heap, once it leaves
      * the census; the driver structures go with their last reference.
      */
    private[operators] def release(): Unit = ()
  }

  /** Live mirrors → kind label. Registered at build, removed by
    * [[Holder.drop]]. Keys are WEAK references on purpose: the census must
    * never extend a mirror's lifetime — a mirror abandoned without drop()
    * (an index object going unreferenced, e.g. the plain pinned-index path
    * with no [[ServingSession]]) is reclaimed by GC exactly as the old
    * bare `lazy val` was, and falls out of this census with it. Mirror
    * classes do not override equals, so WeakHashMap's equals() lookup IS
    * identity here. [[ServingSession]] still drops explicitly on
    * swap/close — deterministic release beats waiting for GC.
    */
  private val live =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[Mirror, String]())

  private def register(kind: String, m: Mirror): Unit = live.put(m, kind)
  private def deregister(m: Mirror): Unit = { live.remove(m); m.release() }

  /** Estimated bytes of all live (built, not-yet-dropped) mirrors: the
    * driver mirrors plus the cached blocks of the partitioned tiers.
    */
  def residentBytes: Long = residentCensus.map(_._2).sum

  /** (kind, estimatedBytes) per live mirror. Sized outside the census lock:
    * a `*-partitioned` mirror asks the block manager's status store.
    */
  def residentCensus: Seq[(String, Long)] = {
    val mirrors = Seq.newBuilder[(Mirror, String)]
    live.synchronized {
      live.forEach((m, kind) => mirrors += ((m, kind)))
    }
    mirrors.result().map { case (m, kind) => (kind, m.bytes) }.sortBy(_._1)
  }

  // ------------------------------------------------------------------
  // shared per-(path, batch-set) mirror cache
  // ------------------------------------------------------------------

  /** Refcounted slot for one shared mirror. Builds happen under the SLOT's
    * monitor (per-key), so two concurrent opens of one generation build
    * once while other keys proceed — a build runs collect jobs and must
    * not serialize across index families. The slot's reference is WEAK:
    * the strong chain is each [[Holder]]'s own `ref`, so a keyed open
    * abandoned WITHOUT drop() (the plain pinned-index path with no
    * session) is still reclaimed by GC exactly as before sharing existed —
    * the slot must never be the thing that pins a mirror in heap.
    */
  private final class SharedSlot {
    var mirror: java.lang.ref.WeakReference[Mirror] = null
    var refs = 0
    def live: Mirror = if (mirror == null) null else mirror.get()
  }
  private val shared =
    new java.util.concurrent.ConcurrentHashMap[String, SharedSlot]

  private def sharedAcquire[A <: Mirror](
      key: String, kind: String, build: => A): A = {
    while (true) {
      val slot = shared.computeIfAbsent(key, _ => new SharedSlot)
      slot.synchronized {
        // the slot may have been released to 0 and removed between our
        // computeIfAbsent and taking its monitor — retry on a fresh slot
        // rather than resurrect an unmapped one (two live mirrors)
        if (shared.get(key) eq slot) {
          var m = slot.live
          if (m == null) {
            // first build, or every prior holder was abandoned and GC
            // already reclaimed the mirror — rebuild into the same slot
            m = build
            register(kind, m)
            slot.mirror = new java.lang.ref.WeakReference(m)
          }
          slot.refs += 1
          return m.asInstanceOf[A]
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def sharedRelease(key: String): Unit = {
    val slot = shared.get(key)
    if (slot != null) slot.synchronized {
      slot.refs -= 1
      if (slot.refs <= 0) {
        val m = slot.live
        if (m != null) deregister(m)
        slot.mirror = null
        shared.remove(key)
      }
    }
  }

  /** Live shared-mirror keys with refcounts — observable for the specs. */
  private[graft] def sharedCensus: Seq[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    shared.asScala.toSeq.map { case (k, s) =>
      (k, s.synchronized(s.refs))
    }.sortBy(_._1)
  }

  /** Once-per-open mirror slot with explicit release — replaces the bare
    * `lazy val` (which could only be freed by abandoning the whole index
    * object to GC). `get` builds+registers on
    * first call (thread-safe, builds at most once while held); `drop`
    * deregisters and clears, the frames' `unpersist` sibling — a later
    * search simply rebuilds (and from unpinned frames won't be eligible
    * at all).
    *
    * Sharing: when the index openers stamp a `shareKey` —
    * the qualified index path PLUS the sorted committed-batch names, i.e.
    * exactly the immutable inputs the mirror is a function of (a later
    * append to the same generation dir changes the batch set and thus the
    * key) — two opens of one generation REFCOUNT one mirror instead of
    * each building their own: a process serving bm25+ann+minhash through
    * sessions AND holding parity-fixture opens of the same generations
    * halves its steady driver footprint. `drop` releases this holder's
    * reference; the mirror dies with the LAST holder. Ad-hoc builds and
    * `copy()`d indexes have no key and keep the per-open behavior.
    */
  private[operators] final class Holder[A <: Mirror](kind: String) {
    /** Stamped once by the index openers (same package); never mutated
      * after the index escapes the open call.
      */
    @volatile private[operators] var shareKey: Option[String] = None
    @volatile private var ref: AnyRef = null
    def get(build: => A): A = {
      var r = ref
      if (r == null) synchronized {
        r = ref
        if (r == null) {
          val built = shareKey match {
            case Some(k) => sharedAcquire(k, kind, build)
            case None =>
              val b = build
              register(kind, b)
              b
          }
          ref = built
          r = built
        }
      }
      r.asInstanceOf[A]
    }
    /** The mirror if already built, without forcing a build. */
    def peek: Option[A] = Option(ref).map(_.asInstanceOf[A])
    def drop(): Unit = synchronized {
      val r = ref
      if (r != null) {
        shareKey match {
          case Some(k) => sharedRelease(k)
          case None => deregister(r.asInstanceOf[Mirror])
        }
        ref = null
      }
    }
  }

  // ------------------------------------------------------------------
  // the partitioned tier: one mirror per partition, one job per search
  // ------------------------------------------------------------------

  /** The tier between the driver mirror and the distributed plan, for a
    * pinned index over [[Regime.DriverResidentRows]]: the index rows dealt to
    * partitions by their document id, each partition holding the mirror of
    * its documents, cached MEMORY_ONLY. A search is one job of one stage
    * whose tasks run the family's fold over their partition; the driver
    * merges their output. Each document is whole inside one partition and
    * every selection orders by (score desc, id asc), which is total, so the
    * rows are those of the driver mirror (one partition) whatever the
    * partition count. An evicted block is rebuilt from lineage: eviction
    * costs speed, never correctness.
    */
  private[operators] final class Partitioned[M <: Mirror](val parts: RDD[M]) extends Mirror {
    /** The cached blocks as the block manager's status store reports them:
      * no job, and 0 until the first search or prewarm materializes them.
      */
    def bytes: Long = parts.sparkContext.getRDDStorageInfo
      .find(_.id == parts.id).map(i => i.memSize + i.diskSize).getOrElse(0L)
    override private[operators] def release(): Unit = parts.unpersist(blocking = false)
    /** Builds and caches every partition: one job. */
    def materialize(): Unit = { parts.count(); () }
  }

  /** Count of searches served by a partitioned tier — the sibling of
    * [[residentSearches]].
    */
  private[graft] val partitionedSearches = new java.util.concurrent.atomic.AtomicLong

  /** A view's driver-sized allow set, passed to every fold; null without a
    * view.
    */
  private[operators] type AllowSet = java.util.HashSet[java.lang.Long]

  /** The serving tiers of one index open, and the one decision between
    * them and the plan ([[serve]]). The driver mirror is the partitioned
    * tier with one partition, merged on the driver, so a family gives each
    * once: its index rows (`rows(dealt)`, frames read by `Row => R`;
    * `dealt` is true for the partitioned tier), the document id of a row
    * (`key`, the deal key) and the mirror of a run of rows; a search gives a
    * fold over one mirror and a merge of the folds' output. `frames` are the
    * index frames the gate checks, `allowed` a filtered view's allow frame.
    */
  private[operators] final class Tiers[R: ClassTag, M <: Mirror: ClassTag](
      kind: String, val frames: Seq[DataFrame], nRows: Option[Long],
      allowed: Option[DataFrame])(
      rows: Boolean => Seq[(DataFrame, Row => R)], key: R => Any, mirror: Iterator[R] => M) {
    // each tier in a holder, so a serving session can release it
    // explicitly on a generation swap
    private val driver = new Holder[M](kind)
    private val dealt = new Holder[Partitioned[M]](kind + "-partitioned")
    private def spark: SparkSession = frames.head.sparkSession

    /** The shared-mirror identity of both tiers (see [[Holder]]); stamped
      * once by the index openers.
      */
    def shareKey: Option[String] = driver.shareKey
    def shareAs(key: Option[String]): Unit = {
      driver.shareKey = key
      dealt.shareKey = key.map(_ + "|partitioned")
    }

    /** A filtered view's allow set, collected once per view on its first
      * pinned search; None when the allow-list exceeds
      * [[Regime.MaxDriverAllowIds]] (the view keeps the semi-join plan).
      */
    private lazy val allowSet: Option[AllowSet] = allowed.flatMap(Serving.collectAllowSet)

    /** The driver mirror: every index row collected into one mirror. */
    private def driverMirror: M = driver.get(mirror(rows(false).iterator.flatMap { case (frame, row) =>
      frame.collect().iterator.map(row)
    }))

    /** The partitioned tier, dealt into `nParts` partitions by the call that
      * builds it.
      */
    def partitioned(nParts: Int = partitionsFor(spark, nRows)): Partitioned[M] = dealt.get {
      val k = key
      deal(rows(true).map { case (frame, row) => frame.rdd.map(row) }.reduce(_ union _)
        .map(r => (k(r), r)), nParts, kind + "-partitioned")(mirror)
    }

    /** True when a pinned search is served by the driver mirror, false
      * when by the partitioned tier.
      */
    private def onDriver: Boolean = eligible(spark, nRows, frames: _*)

    /** Builds the tier the searches of the pinned frames will use. */
    def prewarm(): Unit = if (onDriver) driverMirror else partitioned().materialize()

    /** Estimated bytes of the driver mirror; 0 while it is not built. */
    def residentBytes: Long = driver.peek.map(_.bytes).getOrElse(0L)

    /** Releases both tiers (see [[Holder.drop]]). */
    def drop(): Unit = { driver.drop(); dealt.drop() }

    /** The one serving gate. When the frames are pinned, any allow set is
      * driver-sized and the search is `ready`, the search runs as
      * `merge(fold(mirror, allowSet))` and returns a LocalRelation: on the
      * driver mirror under [[Regime.DriverResidentRows]] (zero jobs, counted
      * in [[residentSearches]]), else on the partitioned tier ([[foldParts]],
      * counted in [[partitionedSearches]]), whose one job runs here, when the
      * search is called, not when its result is acted on. Either way an
      * action on the result runs no job, a `count()` included
      * ([[graft.plans.CountLocalRelation]], installed here). None: the
      * family's distributed plan serves. The pin check comes first: the
      * allow set's first evaluation and a search's `ready` may run jobs an
      * unpinned index must not pay; `fold` and `merge` are built after the
      * checks.
      */
    def serve[T: ClassTag](schema: StructType, ready: => Boolean = true)(
        fold: => (M, AllowSet) => Iterator[T])(
        merge: => Iterator[T] => Iterator[InternalRow]): Option[DataFrame] =
      if (!Serving.pinned(frames: _*) || allowed.isDefined && allowSet.isEmpty || !ready) None
      else {
        val (f, m, allow) = (fold, merge, allowSet.orNull)
        val folded =
          if (onDriver) { residentSearches.incrementAndGet(); Some(f(driverMirror, allow)) }
          else foldParts(f, allow).map { out => partitionedSearches.incrementAndGet(); out }
        folded.map { out =>
          graft.plans.GraftPlans.installRules(spark)
          ColumnBridge.fromLocalRows(spark, m(out).toVector, schema)
        }
      }

    /** `f` over every partition of the tier, in one job of one stage: each
      * task ships its fold's output when its estimated size fits an even
      * share of [[Regime.MaxBroadcastBytes]], so the driver never holds more
      * than the bound. None when a partition's output is over its share.
      */
    private def foldParts[T: ClassTag](f: (M, AllowSet) => Iterator[T],
        allow: AllowSet): Option[Iterator[T]] = {
      val parts = partitioned().parts
      val share = Regime.MaxBroadcastBytes(spark) / math.max(parts.getNumPartitions, 1)
      val outs = spark.sparkContext.runJob(parts, (it: Iterator[M]) => {
        val out = it.flatMap(f(_, allow)).toArray
        if (org.apache.spark.util.SizeEstimator.estimate(out) <= share) out else null
      })
      if (outs.contains(null)) None else Some(outs.iterator.flatMap(_.iterator))
    }

    /** A filtered view of this index: `copy` of it with the allow frame of
      * `allowedIds`' `idCol`, intersected with its own (chained filters mean
      * "both"), and with this index's mirror identity: the view's mirrors
      * ARE this index's, unfiltered, since the allow set applies in the
      * fold, so a view never duplicates a mirror a plain open holds.
      */
    def view[I](allowedIds: DataFrame, idCol: String)(copy: Option[DataFrame] => I)(
        tiersOf: I => Tiers[_, _ <: Mirror]): I = {
      val ids = allowedIds.select(col(idCol).cast("long").as("__allow_id")).distinct()
      val v = copy(Some(allowed.fold(ids)(prev => ids.join(prev, Seq("__allow_id"), "left_semi"))))
      tiersOf(v).shareAs(shareKey)
      v
    }
  }

  /** Index rows one partition of the tier holds: an index just over the
    * resident bound spreads over 4 partitions.
    */
  private val RowsPerPartition: Long = Regime.DriverResidentRows.default / 4

  /** Partitions for `nRows` index rows: [[RowsPerPartition]] each, at least
    * one, at most `parallelism`.
    */
  private def partitionsFor(spark: SparkSession, nRows: Option[Long]): Int =
    math.max(1L, math.min((nRows.getOrElse(0L) + RowsPerPartition - 1) / RowsPerPartition,
      math.max(spark.sparkContext.defaultParallelism, 1).toLong)).toInt

  /** The tier over `rows`, keyed by document id: dealt into `nParts`
    * partitions, one `mirror` per partition. Lazy: the first action (a
    * search or [[Partitioned.materialize]]) deals and caches it, inside its
    * own job.
    */
  private def deal[R: ClassTag, M <: Mirror: ClassTag](
      rows: RDD[(Any, R)], nParts: Int, kind: String)(mirror: Iterator[R] => M): Partitioned[M] =
    new Partitioned(rows.partitionBy(new HashPartitioner(nParts))
      .mapPartitions(it => Iterator.single(mirror(it.map(_._2))))
      .setName(kind)
      .persist(StorageLevel.MEMORY_ONLY))

  // modeled JVM overheads for the byte estimates: 16 B object header +
  // array length word (arrays), ~32-48 B per hash-map entry / boxed key,
  // 2 B per UTF-16 char. Estimates, not measurements — good to ~20%,
  // which is what a capacity decision needs.
  private def arrBytes(n: Int, width: Int): Long = 16L + width.toLong * n
  private def anyBytes(v: Any): Long = v match {
    case s: String => 48L + 2L * s.length
    case _ => 24L // boxed primitive
  }

  private val Utf8Order = graft.functions.MultiOrderedSumAggregate.ByteOrder

  /** Primitive open-addressing long → double sum accumulator: the per-doc
    * score map of a resident BM25 search touches every matched posting
    * (hundreds of thousands of adds for common-term queries), and boxed
    * java.util map entries dominated its wall. Accumulation ORDER is the
    * caller's (terms iterated sorted — the fold-order contract lives
    * there); this map only holds running sums, and iteration order is
    * irrelevant to the order-invariant TopKBuffer selection downstream.
    */
  private final class LongDoubleSumMap(expected: Int) {
    private var cap = Integer.highestOneBit(math.max(expected, 8) * 4 - 1) << 1
    private var keys = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var vals = new Array[Double](cap)
    private var n = 0
    private def idx(k: Long): Int = {
      var i = (java.lang.Long.hashCode(k * -7046029254386353131L)) & (cap - 1)
      while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def add(k: Long, v: Double): Unit = {
      val i = idx(k)
      if (used(i)) vals(i) += v
      else {
        if ((n + 1) * 10 >= cap * 7) { grow(); add(k, v) }
        else { used(i) = true; keys(i) = k; vals(i) = v; n += 1 }
      }
    }
    private def grow(): Unit = {
      val (ok, ou, ov, oc) = (keys, used, vals, cap)
      cap <<= 1
      keys = new Array[Long](cap); used = new Array[Boolean](cap)
      vals = new Array[Double](cap); n = 0
      var i = 0
      while (i < oc) {
        if (ou(i)) { val j = idx(ok(i)); used(j) = true; keys(j) = ok(i); vals(j) = ov(i); n += 1 }
        i += 1
      }
    }
    def foreach(f: (Long, Double) => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(keys(i), vals(i)); i += 1 }
    }
  }

  // ------------------------------------------------------------------
  // BM25
  // ------------------------------------------------------------------

  /** One term's posting slice (parallel arrays; `contrib0` null when the
    * layout carries no bake — appended indexes, ad-hoc builds) and the
    * term's corpus-wide document frequency.
    */
  private[operators] final class Bm25Postings(
      val docIds: Array[Long], val tf: Array[Double], val dl: Array[Double],
      val contrib0: Array[Double], val df: Double) extends Serializable

  private[operators] final class Bm25Resident(
      val byTerm: java.util.HashMap[String, Bm25Postings]) extends Mirror with Serializable {
    lazy val bytes: Long = {
      var b = 64L
      byTerm.forEach { (t, p) =>
        val n = p.docIds.length
        b += 48L + 2L * t.length + 36L + 16L + // key string + entry + slice obj
          3L * arrBytes(n, 8) +
          (if (p.contrib0 != null) arrBytes(n, 8) else 0L)
      }
      b
    }
  }

  /** One posting row of a mirror build; `contrib0` is read only when the
    * layout carries the bake.
    */
  private[operators] final case class Bm25Row(docId: Long, term: String, tf: Double,
      dl: Double, df: Double, contrib0: Double)

  /** Groups posting rows into term slices. A NaN `df` means the rows are
    * the whole index, so a term's df is its slice length.
    */
  private def bm25Slices(rows: Iterator[Bm25Row], hasBake: Boolean): Bm25Resident = {
    val grouped = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Bm25Row]]
    rows.foreach { r =>
      grouped.computeIfAbsent(r.term,
        _ => scala.collection.mutable.ArrayBuffer.empty[Bm25Row]) += r
    }
    val byTerm = new java.util.HashMap[String, Bm25Postings](grouped.size() * 2)
    grouped.forEach { (term, rs) =>
      val n = rs.length
      val ids = new Array[Long](n); val tf = new Array[Double](n)
      val dl = new Array[Double](n)
      val c0 = if (hasBake) new Array[Double](n) else null
      var i = 0
      while (i < n) {
        val r = rs(i)
        ids(i) = r.docId; tf(i) = r.tf; dl(i) = r.dl
        if (hasBake) c0(i) = r.contrib0
        i += 1
      }
      val df = if (rs(0).df.isNaN) n.toDouble else rs(0).df
      byTerm.put(term, new Bm25Postings(ids, tf, dl, c0, df))
    }
    new Bm25Resident(byTerm)
  }

  /** The tiers of a BM25 index's postings, dealt by `doc_id`. The
    * partitioned tier's rows carry each term's corpus-wide df, attached
    * in-plan, so appended and tombstoned indexes score exactly; the driver
    * mirror holds every row, so a term's df is its slice length.
    */
  private[operators] def bm25Tiers(postings: DataFrame, nRows: Option[Long],
      allowed: Option[DataFrame]): Tiers[Bm25Row, Bm25Resident] = {
    val hasBake = postings.columns.contains("contrib0")
    new Tiers[Bm25Row, Bm25Resident]("bm25", Seq(postings), nRows, allowed)({ dealt =>
      val (frame, df) =
        if (dealt) (Lexical.ensureDf(postings), col("df").cast("double"))
        else (postings, lit(Double.NaN))
      val cols = Seq(col("doc_id").cast("long"), col("term"), col("tf").cast("double"),
        col("dl").cast("double"), df) ++
        (if (hasBake) Seq(col("contrib0").cast("double")) else Nil)
      Seq((frame.select(cols: _*), r => Bm25Row(r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), if (hasBake) r.getDouble(5) else 0.0)))
    }, _.docId, bm25Slices(_, hasBake))
  }

  /** A BM25 search through `tiers`: the fold over one mirror has the same
    * df (the slice's corpus-wide count), the same `contribCol` arithmetic in
    * the same operation order, the same term-byte-order score fold as
    * `MultiOrderedSumAggregate` and the same `TopKBuffer` selection as
    * `topKPerQuery`, and keeps at most k `(query_id, doc_id, score)` per
    * query; the merge re-selects them with the same [[TopKBuffer]] and
    * emits `(query_id, rank, doc_id, score)` rows in query order.
    */
  private[operators] def serveBm25(
      tiers: Tiers[Bm25Row, Bm25Resident], qSets: Seq[(Long, Seq[String])],
      nDocs: Double, avgdl: Double, k: Int, k1: Double, b: Double,
      useBake: Boolean): Option[DataFrame] = {
    val qids = qSets.map(_._1).toArray
    tiers.serve(Bm25Schema) { (res, allowed) =>
      val k1p1 = k1 + 1.0
      val oneMinusB = 1.0 - b
      // per-term idf memo: log() is per-row in the plan but value-identical.
      // StrictMath, as Catalyst's Log evaluates: the Math.log intrinsic may
      // differ from it in the last bit
      val idf = new java.util.HashMap[String, java.lang.Double]
      def idfOf(t: String, dfv: Double): Double = {
        val cached = idf.get(t)
        if (cached != null) cached.doubleValue()
        else {
          val v = StrictMath.log(1.0 + (nDocs - dfv + 0.5) / (dfv + 0.5))
          idf.put(t, v); v
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      qSets.foreach { case (qid, ts) =>
        val sorted = ts.distinct.map(t => (t, t.getBytes("UTF-8"))).sortWith {
          (a, bb) => Utf8Order.compare(a._2, bb._2) < 0
        }
        // per-doc accumulator: each doc's contributions arrive in global
        // sorted-term order (the outer loop IS the MultiOrderedSum fold
        // order); the primitive map only holds running sums
        var expected = 0
        sorted.foreach { case (t, _) =>
          val p = res.byTerm.get(t)
          if (p != null) expected += p.docIds.length
        }
        val scores = new LongDoubleSumMap(expected)
        sorted.foreach { case (t, _) =>
          val p = res.byTerm.get(t)
          if (p != null) {
            val w = idfOf(t, p.df)
            var i = 0
            while (i < p.docIds.length) {
              val contrib =
                if (useBake && p.contrib0 != null) p.contrib0(i)
                else w * p.tf(i) * k1p1 /
                  (p.tf(i) + k1 * (oneMinusB + b * p.dl(i) / avgdl))
              scores.add(p.docIds(i), contrib)
              i += 1
            }
          }
        }
        val buf = new TopKBuffer(k)
        // allow-list filters MEMBERSHIP only, after scoring: df/idf above came
        // from the full corpus (filter-context, [[graft.operators
        // .Lexical.bm25FilteredView]])
        scores.foreach((d, s) => if (allowed == null || allowed.contains(d)) buf.insert(s, d))
        var r = 0
        while (r < buf.n) { out += ((qid, buf.ids(r), buf.scores(r))); r += 1 }
      }
      out.iterator
    } { hits =>
      val merged = new java.util.HashMap[java.lang.Long, TopKBuffer]
      hits.foreach { case (qid, id, s) =>
        merged.computeIfAbsent(qid, _ => new TopKBuffer(k)).insert(s, id)
      }
      inQueryOrder(qids, merged)((qid, buf, r) =>
        InternalRow(qid, (r + 1).toLong, buf.ids(r), buf.scores(r)))
    }
  }

  /** Each query's merged rows, in query order. */
  private def inQueryOrder(qids: Array[Long], merged: java.util.HashMap[java.lang.Long, TopKBuffer])(
      row: (Long, TopKBuffer, Int) => InternalRow): Iterator[InternalRow] =
    qids.iterator.flatMap { qid =>
      val buf = merged.get(qid)
      if (buf == null) Iterator.empty else Iterator.tabulate(buf.n)(row(qid, buf, _))
    }

  private[operators] val Bm25Schema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  // ------------------------------------------------------------------
  // MinHash
  // ------------------------------------------------------------------

  /** Resident banded postings + shingle sets. Map keys are (band, bucket
    * slice) directly — the plan's xxhash64 INSET is only a prefilter ahead
    * of the exact bucket-equality check, and a driver map on the exact key
    * yields the identical candidate set (Seq equality is elementwise with
    * null == null, the equi-join's key semantics).
    */
  private[operators] final class MinhashResident(
      val byBucket: java.util.HashMap[(Int, Seq[Any]), scala.collection.mutable.ArrayBuffer[Any]],
      val shingles: java.util.HashMap[Any, Set[Any]],
      val corpusIdType: DataType) extends Mirror {
    lazy val bytes: Long = {
      var b = 64L
      byBucket.forEach { (k, ids) =>
        b += 80L + k._2.iterator.map(anyBytes).sum // tuple + bucket slice + entry
        b += 32L + 32L * ids.length                // buffer + boxed ids
      }
      shingles.forEach { (id, sh) =>
        b += 48L + anyBytes(id) +
          32L + sh.iterator.map(anyBytes(_) + 40L).sum // set nodes + values
      }
      b
    }
  }

  /** One row of a MinHash mirror build, keyed by its corpus id: a banded
    * posting or a document's shingle set.
    */
  private[operators] sealed trait MinhashRow extends Serializable { def id: Any }
  private final case class MinhashPosting(id: Any, band: Int, bucket: Seq[Any]) extends MinhashRow
  private final case class MinhashShingles(id: Any, sh: Seq[Any]) extends MinhashRow

  private def minhashMirror(rows: Iterator[MinhashRow], corpusIdType: DataType): MinhashResident = {
    val byBucket =
      new java.util.HashMap[(Int, Seq[Any]), scala.collection.mutable.ArrayBuffer[Any]]
    val shingles = new java.util.HashMap[Any, Set[Any]]
    rows.foreach {
      case MinhashPosting(id, band, bucket) =>
        byBucket.computeIfAbsent((band, bucket),
          _ => scala.collection.mutable.ArrayBuffer.empty[Any]) += id
      case MinhashShingles(id, sh) => shingles.put(id, Option(sh).getOrElse(Seq.empty).toSet)
    }
    new MinhashResident(byBucket, shingles, corpusIdType)
  }

  /** The tiers of a MinHash index: postings and shingle sets dealt by the
    * same hash of the corpus id, so every document is whole in one
    * partition.
    */
  private[operators] def minhashTiers(postings: DataFrame, shingles: DataFrame,
      nRows: Option[Long], allowed: Option[DataFrame]): Tiers[MinhashRow, MinhashResident] = {
    val idType = postings.schema("id").dataType
    new Tiers[MinhashRow, MinhashResident]("minhash", Seq(postings, shingles), nRows, allowed)(
      _ => Seq(
        (postings.select(col("id"), col("band").cast("int"), col("bucket")),
          r => MinhashPosting(r.get(0), r.getInt(1), r.getSeq[Any](2))),
        (shingles.select(col("id"), col("sh")),
          r => MinhashShingles(r.get(0), r.getSeq[Any](1)))),
      _.id, minhashMirror(_, idType))
  }

  /** A [[Dedup.minhashSearchIndex]] through `tiers`, over the batch's
    * `(id, sh, sig)` rows; `batch` is read only for a pinned index, and
    * None declines the tiers. Every document is whole in one partition, so
    * the merge is a concatenation.
    */
  private[operators] def serveMinhash(
      tiers: Tiers[MinhashRow, MinhashResident], batch: => Option[Array[Row]],
      numBands: Int, rowsPerBand: Int, jaccardThreshold: Double,
      schema: StructType): Option[DataFrame] = {
    lazy val rows = batch
    tiers.serve(schema, rows.isDefined) {
      val batchRows = rows.get
      (res, allowed) => {
        val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(schema)
        foldMinhash(res, batchRows, numBands, rowsPerBand, jaccardThreshold, allowed)
          .iterator.map(toRow(_).asInstanceOf[InternalRow])
      }
    }(identity)
  }

  /** The [[Dedup.minhashSearchIndex]] fold over one mirror: per batch band
    * slice, exact (band, bucket) candidate lookup, per distinct (corpus,
    * batch) pair ONE exact Jaccard (the plan computes it per colliding band
    * and maxes — identical per duplicate, so once ≡ max), thresholded.
    * `batchRows` are the batch's collected `(id, sh, sig)` rows.
    */
  private def foldMinhash(
      res: MinhashResident, batchRows: Array[Row],
      numBands: Int, rowsPerBand: Int, jaccardThreshold: Double,
      allowed: AllowSet): Seq[Row] = {
    // Allow-set membership by corpus-id TYPE: minhash corpus
    // ids are generic — a string-id corpus crashed here on the old
    // `asInstanceOf[Number]` while the distributed plan's cast semi-join
    // returned rows. Match the plan's semantics instead: the long allow ids
    // are rendered INTO the id domain (one pass per search, bounded by
    // [[Regime.MaxDriverAllowIds]]), so a non-numeric corpus id simply
    // never matches — excluded, not crashed.
    val allowContains: Any => Boolean =
      if (allowed == null) _ => true
      else if (res.corpusIdType == org.apache.spark.sql.types.StringType) {
        val s = new java.util.HashSet[String](allowed.size() * 2)
        allowed.forEach(l => { s.add(l.toString); () })
        id => id != null && s.contains(id.toString)
      } else {
        case n: Number => allowed.contains(java.lang.Long.valueOf(n.longValue()))
        case _ => false
      }
    val seen = new java.util.HashSet[(Any, Any)]
    val out = Seq.newBuilder[Row]
    // a null id, on either side, joins nothing: the plan meets the shingle
    // sets through equi-joins on the ids
    batchRows.iterator.filter(!_.isNullAt(0)).foreach { row =>
      val batchId = row.get(0)
      val bs = Option(row.getSeq[Any](1)).getOrElse(Seq.empty).toSet
      val sig = row.getSeq[Any](2)
      var band = 0
      while (band < numBands) {
        val bucket = sig.slice(band * rowsPerBand, band * rowsPerBand + rowsPerBand)
        val cands = res.byBucket.get((band, bucket))
        if (cands != null) cands.foreach { corpusId =>
          // allow-list filters candidates before Jaccard verification —
          // Jaccard has no corpus stats, so this is the semi-join, verbatim
          if (corpusId != null && allowContains(corpusId) && seen.add((corpusId, batchId))) {
            val cs = res.shingles.get(corpusId)
            if (cs != null) {
              // size(array_intersect) / size(array_union) on distinct arrays
              val inter = cs.count(bs.contains).toDouble
              val uni = (cs.size + bs.size).toDouble - inter
              val j = if (uni == 0.0) 0.0 else inter / uni
              if (j >= jaccardThreshold) out += Row(corpusId, batchId, j)
            }
          }
        }
        band += 1
      }
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // ANN (float, int8, PQ)
  // ------------------------------------------------------------------

  /** The coarse side of a quantized scoring: each row's code and the norm
    * its zero-norm guard reads, as a double (int8's integer norms are exact
    * in one).
    */
  private[operators] final class Codes(val codes: Array[Array[Byte]], val norms: Array[Double])
      extends Serializable {
    def bytes: Long = {
      val n = codes.length
      arrBytes(n, 8) + codes.iterator.map(c => arrBytes(c.length, 1)).sum + arrBytes(n, 8)
    }
  }

  /** One cell's resident matrix; `int8` null on layouts without the SQ8
    * bake, `pq` null on layouts without the PQ bake.
    */
  private[operators] final class CellMat(val mat: VecScan.Mat, val int8: Codes, val pq: Codes) {
    def ids: Array[Long] = mat.ids
    def vecs: Array[Array[Double]] = mat.vecs
    def norms: Array[Double] = mat.norms
  }

  private[operators] final class AnnResident(
      val cells: java.util.HashMap[java.lang.Long, CellMat]) extends Mirror {
    lazy val bytes: Long = {
      var b = 64L
      cells.forEach { (_, m) =>
        val n = m.ids.length
        val dim = if (n > 0) m.vecs(0).length else 0
        b += 60L + 2L * arrBytes(n, 8) +            // entry + ids + norms
          arrBytes(n, 8) + n.toLong * arrBytes(dim, 8) + // vec refs + vectors
          Seq(m.int8, m.pq).iterator.filter(_ != null).map(_.bytes).sum
      }
      b
    }
  }

  /** One cell row of an ANN mirror build; `codes` and `pq` are null on
    * layouts without the SQ8 / PQ bake.
    */
  private[operators] final case class AnnRow(id: Long, vec: Array[Double], cell: Long,
      codes: Array[Byte], cn2: Double, pq: Array[Byte], cn: Double)

  /** The tiers of an ANN index's cells, dealt by `corpus_id`. */
  private[operators] def annTiers(cells: DataFrame, nRows: Option[Long],
      allowed: Option[DataFrame]): Tiers[AnnRow, AnnResident] = {
    val hasCodes = cells.columns.contains("codes")
    val hasPq = cells.columns.contains("pq")
    val cols = Seq(col("corpus_id").cast("long"), asDouble(col("cv")),
      col("__cell").cast("long")) ++
      (if (hasCodes) Seq(col("codes"), col("cn2").cast("double")) else Nil) ++
      (if (hasPq) Seq(col("pq"), col("cn").cast("double")) else Nil)
    val pqOff = if (hasCodes) 5 else 3
    new Tiers[AnnRow, AnnResident]("ann", Seq(cells), nRows, allowed)(
      _ => Seq((cells.select(cols: _*), r => AnnRow(r.getLong(0), r.getSeq[Double](1).toArray,
        r.getLong(2),
        if (hasCodes) r.getSeq[Byte](3).toArray else null, if (hasCodes) r.getDouble(4) else 0.0,
        if (hasPq) r.getSeq[Byte](pqOff).toArray else null,
        if (hasPq) r.getDouble(pqOff + 1) else 0.0))),
      _.id, annMirror)
  }

  private def annMirror(rows: Iterator[AnnRow]): AnnResident = {
    val grouped = new java.util.HashMap[java.lang.Long,
      scala.collection.mutable.ArrayBuffer[AnnRow]]
    rows.foreach { r =>
      grouped.computeIfAbsent(java.lang.Long.valueOf(r.cell),
        _ => scala.collection.mutable.ArrayBuffer.empty[AnnRow]) += r
    }
    val cells = new java.util.HashMap[java.lang.Long, CellMat](grouped.size() * 2)
    grouped.forEach { (cell, rs) =>
      def codes(code: AnnRow => Array[Byte], norm: AnnRow => Double): Codes =
        if (code(rs(0)) == null) null else new Codes(rs.map(code).toArray, rs.map(norm).toArray)
      val vecs = rs.map(_.vec).toArray
      cells.put(cell, new CellMat(
        VecScan.Mat(rs.map(_.id).toArray, vecs, vecs.map(v => math.sqrt(VecScan.dot(v, v)))),
        codes(_.codes, _.cn2), codes(_.pq, _.cn)))
    }
    new AnnResident(cells)
  }

  private[operators] val AnnSchema: StructType = StructType(Seq(
    StructField("left_id", LongType, nullable = false),
    StructField("right_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false)))

  /** How an ANN search scores candidates: the one place that knows each
    * scoring's query prep, the cell columns it reads, its score and the
    * pool it keeps per query before the exact rerank. The column form
    * serves the plans ([[Ann.annSearchIndex]] and its int8/PQ siblings);
    * the array form ([[Quantized.coarse]]) serves the mirror fold and the
    * broadcast scan ([[Quantize.quantizedTopK]], [[Pq.pqTopK]]), with the
    * same kernels in the same operation order, so every form scores
    * bit-identically.
    */
  private[operators] sealed trait AnnScoring extends Serializable {
    /** Candidates kept per query before the exact rerank. */
    def pool(k: Int): Int
    /** Column form: the cell columns [[score]] reads, beside `corpus_id`. */
    def cellCols: Seq[Column]
    /** Column form: query rows (`__qv`, `__qn`) with the prep [[score]] reads. */
    def prep(queryRows: DataFrame): DataFrame = queryRows
    /** Column form: the score of a (prepared query row, cell row) pair. */
    def score: Column
  }

  /** Exact float cosine: the pool is the top k, and needs no rerank. */
  private[operators] case object FloatScoring extends AnnScoring {
    def pool(k: Int): Int = k
    def cellCols: Seq[Column] = Seq(col("cv"), norm(col("cv")).as("__cn"))
    def score: Column = cosineWithNorms(dot(col("__qv"), col("cv")), col("__qn"), col("__cn"))
  }

  /** A query's coarse score of one row's code and norm (the array form). */
  private[operators] trait Coarse { def apply(code: Array[Byte], norm: Double): Double }

  /** A coarse score over codes baked next to `cv` (the `codesCol` and
    * `normCol` cell columns) keeps k·rerankFactor candidates per query,
    * which the exact float cosine then reranks.
    */
  private[operators] sealed abstract class Quantized(val codesCol: String, val normCol: String)
      extends AnnScoring {
    def rerankFactor: Int
    def pool(k: Int): Int = k * rerankFactor
    def cellCols: Seq[Column] = Seq(col(codesCol), col(normCol))
    /** `rows` (with `cv`) plus the baked code and norm columns. */
    def bake(rows: DataFrame): DataFrame
    /** A mirror cell's codes, or null when its layout has no bake. */
    def codesOf(m: CellMat): Codes
    /** Array form: the query `qv` (norm `qn`) prepared once, scoring rows. */
    def coarse(qv: Array[Double], qn: Double): Coarse
  }

  /** Int8 cosine over the SQ8 codes and their integer squared norms. */
  private[operators] final case class Int8Scoring(rerankFactor: Int)
      extends Quantized("codes", "cn2") {
    def bake(rows: DataFrame): DataFrame = Int8Scoring.bake(rows)
    def codesOf(m: CellMat): Codes = m.int8
    override def prep(queryRows: DataFrame): DataFrame =
      Quantize.quantize(queryRows, "__qv", "__qc", "__qs")
        .withColumn("__qn2", Quantize.norm2I8(col("__qc")))
    def score: Column = Quantize.cosineI8WithNorms(
      Int8Kernels.dotI8(col("__qc"), col("codes")), col("__qn2"), col("cn2"))
    def coarse(qv: Array[Double], qn: Double): Coarse = {
      val (qc, qn2) = Quantize.quantizeArray(qv)
      (code, n2) => Quantize.cosineI8Scalar(Quantize.dotI8Array(qc, code), qn2.toDouble, n2)
    }
  }

  private[operators] object Int8Scoring {
    def bake(rows: DataFrame): DataFrame = Quantize.quantize(rows, "cv", "codes", "qscale")
      .withColumn("cn2", Quantize.norm2I8(col("codes")))
  }

  /** PQ ADC over the codebook `cb`: one lookup table per query, `m`
    * lookups per candidate over its `pq` code, divided by the query and
    * candidate norms (`cn`); a zero norm on either side scores 0.
    */
  private[operators] final case class PqScoring(cb: Pq.PqCodebook, rerankFactor: Int)
      extends Quantized("pq", "cn") {
    def bake(rows: DataFrame): DataFrame = PqScoring.bake(rows, cb)
    def codesOf(m: CellMat): Codes = m.pq
    override def prep(queryRows: DataFrame): DataFrame = queryRows.withColumn("__lut",
      PqColumns.pqLut(col("__qv"), cb.flat, cb.m, cb.ks, cb.dsub))
    def score: Column = when(col("__qn") === 0.0 || col("cn") === 0.0, lit(0.0))
      .otherwise(PqColumns.pqAdc(col("pq"), col("__lut"), cb.m, cb.ks) / (col("__qn") * col("cn")))
    def coarse(qv: Array[Double], qn: Double): Coarse = {
      val lut = PqKernels.lutArray(qv, cb.flat, cb.m, cb.ks, cb.dsub)
      (code, cn) => if (qn == 0.0 || cn == 0.0) 0.0 else PqKernels.adcArray(code, lut, cb.m, cb.ks) / (qn * cn)
    }
  }

  private[operators] object PqScoring {
    def bake(rows: DataFrame, cb: Pq.PqCodebook): DataFrame =
      Pq.pqEncode(rows, "cv", cb, "pq").withColumn("cn", norm(col("cv")))
  }

  /** Score scratch for [[VecScan.scores]] over any one cell of `res`. */
  private def cellScratch(res: AnnResident): Array[Double] = {
    var n = 0
    res.cells.forEach((_, m) => n = math.max(n, m.ids.length))
    new Array[Double](n)
  }

  /** The exact rerank: the top k of a pool by its exact-cosine payload. */
  private def rerank(pool: TopKPayloadBuffer, k: Int): TopKBuffer = {
    val fin = new TopKBuffer(k)
    var i = 0
    while (i < pool.n) { fin.insert(pool.payloads(i), pool.ids(i)); i += 1 }
    fin
  }

  /** The ANN fold over one mirror: per query, the candidate pool of its
    * probed cells as a [[TopKPayloadBuffer]] of `scoring.pool(k)` entries
    * — (selection score, id) with the exact cosine as payload — as
    * `(query_id, score, id, payload)` rows. Float scoring selects by the
    * exact scan [[VecScan.scores]] (or [[VecScan.cosine]] of [[VecScan.dot]]
    * for an allow-listed cell); a quantized scoring selects by its
    * [[Quantized.coarse]] score, then computes the exact cosine of only the
    * pool's candidates. The selection is the plans' (score desc, id asc).
    * An allow-list filters membership before the pool, as the plans'
    * semi-join filters the scan. `probes` is the per-query probe list from
    * the LocalProbes assignment (driver-known).
    */
  private def foldAnn(
      res: AnnResident, probes: Seq[(Long, Array[Double], Double, Seq[Long])],
      k: Int, scoring: AnnScoring, allowed: AllowSet): Iterator[(Long, Double, Long, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long, Double)]
    val scores = cellScratch(res)
    probes.foreach { case (qid, qv, qn, cellIds) =>
      val pool = new TopKPayloadBuffer(scoring.pool(k))
      val cells = cellIds.flatMap(c => Option(res.cells.get(java.lang.Long.valueOf(c)))).toIndexedSeq
      def exact(m: CellMat, i: Int): Double =
        VecScan.cosine(VecScan.dot(qv, m.vecs(i)), qn, m.norms(i))
      scoring match {
        case FloatScoring =>
          cells.foreach { m =>
            // the block kernel scores a whole cell; under an allow-list only
            // the allowed rows are scored (the same scalar form, bit for bit)
            if (allowed == null) VecScan.scores(qv, qn, m.mat, 0, scores)
            var i = 0
            while (i < m.ids.length) {
              if (allowed == null) pool.insert(scores(i), m.ids(i), scores(i))
              else if (allowed.contains(m.ids(i))) {
                val e = exact(m, i)
                pool.insert(e, m.ids(i), e)
              }
              i += 1
            }
          }
        case q: Quantized =>
          // each candidate's payload is its place (cell ordinal, row) until
          // the pool is final; then the exact cosine of only the pool's
          // candidates replaces it
          val coarse = q.coarse(qv, qn)
          cells.iterator.zipWithIndex.foreach { case (m, at) =>
            val c = q.codesOf(m)
            var i = 0
            while (c != null && i < m.ids.length) {
              if (allowed == null || allowed.contains(m.ids(i)))
                pool.insert(coarse(c.codes(i), c.norms(i)), m.ids(i), (at.toLong << 32 | i).toDouble)
              i += 1
            }
          }
          var j = 0
          while (j < pool.n) {
            val at = pool.payloads(j).toLong
            pool.payloads(j) = exact(cells((at >>> 32).toInt), (at & 0xffffffffL).toInt)
            j += 1
          }
      }
      var i = 0
      while (i < pool.n) { out += ((qid, pool.scores(i), pool.ids(i), pool.payloads(i))); i += 1 }
    }
    out.iterator
  }

  /** An [[Ann.annSearchIndex]], [[Ann.annSearchIndexInt8]] or
    * [[Ann.annSearchIndexPq]] through `tiers` ([[foldAnn]]): each fold
    * emits its mirror's pool per query, and the merge re-selects the pools
    * with the same [[TopKPayloadBuffer]] before the exact rerank. The
    * global pool is the best of the mirrors' pools, so the rows are those
    * of one fold over every cell.
    */
  private[operators] def serveAnn(
      tiers: Tiers[AnnRow, AnnResident], probes: => Seq[(Long, Array[Double], Double, Seq[Long])],
      k: Int, scoring: AnnScoring): Option[DataFrame] = {
    lazy val ps = probes
    val poolK = scoring.pool(k)
    tiers.serve(AnnSchema) { val p = ps; foldAnn(_, p, k, scoring, _) } {
      val qids = ps.map(_._1).toArray
      hits => {
        val pools = new java.util.HashMap[java.lang.Long, TopKPayloadBuffer]
        hits.foreach { case (qid, s, id, p) =>
          pools.computeIfAbsent(qid, _ => new TopKPayloadBuffer(poolK)).insert(s, id, p)
        }
        val merged = new java.util.HashMap[java.lang.Long, TopKBuffer]
        pools.forEach((qid, pool) => { merged.put(qid, rerank(pool, k)); () })
        inQueryOrder(qids, merged)((qid, buf, r) => InternalRow(qid, buf.ids(r), buf.scores(r), r + 1))
      }
    }
  }

  /** LocalRelation result frame: `collect()` on it is a zero-job driver
    * read (`LocalTableScanExec.executeCollect`), and any downstream plan
    * starts from in-memory rows.
    */
  private[operators] def toDf(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
