package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generation-aware serving session: the composition of the
  * driver-resident serving tier ([[Resident]]) with generation-managed
  * index maintenance ([[IndexMaintenance]]) that neither had alone — a
  * long-lived server used to pin gen-N's frames and keep serving them
  * forever, because only the INGEST side followed `currentPath` across
  * compactions/refits (stale results after a refit, unbounded staleness
  * after compactions, every old mirror held until GC).
  *
  * A session opens [[IndexMaintenance.currentPath]]'s index, PINS its
  * frames (persist + materialize — the serving configuration), and
  * prewarms the per-open driver state (stats row / centroid matrix, and
  * the [[Resident]] mirror when the residency gate passes) so the
  * zero-job steady state holds from the FIRST search of each generation.
  * On the check cadence it re-lists the generation markers (one cheap
  * `listStatus`); when maintenance has committed a newer generation it
  * atomically swaps to the new opened+pinned index and RELEASES the old
  * one — unpersists the frames and drops the resident mirror via
  * [[Resident.Holder.drop]], so a server cycling many generations holds
  * exactly one (accounted: [[residentBytes]]).
  *
  * Read [[resolved]] — the atomic (generation, index) pair — when tagging
  * results with the generation they were served from; reading
  * `generation` and `index` separately can straddle a concurrent swap.
  *
  * Correctness across the swap is the maintenance contract, not the
  * session's: compactions are row-identical by the compactors' contracts
  * and a refit changes results only within the ANN recall contract
  * (`q_index_maintenance` / `q_ann_drift_refit`). The session adds the
  * liveness half — post-swap searches are hash-equal to a fresh open of
  * the new generation (`q_serving_session`), and once every session has
  * re-resolved, old generations are prunable while the session keeps
  * serving from its pinned blocks + mirror
  * ([[IndexMaintenance.pruneGenerations]]'s reader contract).
  *
  * Scale honesty: the swap cost is one index open + cache materialization
  * + prewarm — paid once per committed generation, never per search; the
  * marker listing is one filesystem metadata call per `checkIntervalMs`
  * (default: every search — right for a local/HDFS root; set a TTL on
  * object stores where LIST costs real latency). Indexes above the
  * residency bound swap the same way: they serve from the partitioned tier
  * ([[Resident.Partitioned]], one job per search, built at swap time).
  */
final class ServingSession[I] private[operators] (
    spark: SparkSession,
    val root: String,
    opener: String => I,
    tiers: I => Resident.Tiers[_, _ <: Resident.Mirror],
    prewarm: I => Unit,
    checkIntervalMs: Long,
    asyncSwap: Boolean) extends AutoCloseable {

  @volatile private var closed = false
  // monotonic clock for the TTL — wall clock can step
  @volatile private var lastCheck = System.nanoTime()
  @volatile private var cur: (Int, I) =
    openGen(IndexMaintenance.currentGeneration(spark, root))
  // one in-flight background swap at a time (asyncSwap mode)
  private val swapping = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Pin-refcount identity: the opener's shareKey — qualified path PLUS
    * the committed-batch set, i.e. exactly what determines the frames'
    * canonicalized plans (two sessions on one gen dir opened around an
    * append hold DIFFERENT plans and must not share a pin count).
    */
  private def pinKey(gen: Int, idx: I): String =
    tiers(idx).shareKey.getOrElse(IndexMaintenance.genPath(root, gen))

  /** Drops every mirror `idx` holds (the driver mirror and the partitioned
    * tier); shared slots refcount their own.
    */
  private def drop(idx: I): Unit = tiers(idx).drop()

  private def frames(idx: I): Seq[DataFrame] = tiers(idx).frames

  private def openGen(gen: Int): (Int, I) = {
    require(gen >= 0, s"no committed generation under $root " +
      "(seed gen-0 and commitGeneration first)")
    val idx = opener(IndexMaintenance.genPath(root, gen))
    val key = pinKey(gen, idx)
    // unpin on ANY failure past the first persist: a corrupt generation or
    // a failing prewarm must not leave cache entries behind — the session
    // keeps serving the old generation and retries on the next check, and
    // without this cleanup every retry would accumulate persisted frames
    ServingSession.PinRegistry.pin(key)
    try {
      frames(idx).foreach { f => f.persist(); f.count() }
      prewarm(idx)
      tiers(idx).prewarm()
    } catch {
      case e: Throwable =>
        if (ServingSession.PinRegistry.unpin(key))
          frames(idx).foreach(f => try f.unpersist(false) catch { case _: Throwable => () })
        throw e
    }
    (gen, idx)
  }

  /** Generation currently being served. */
  def generation: Int = cur._1

  /** True while a background swap is opening a newer generation
    * (asyncSwap mode) — observable for callers that want to quiesce
    * before pruning.
    */
  def swapInFlight: Boolean = swapping.get()

  private def swapTo(latest: Int): Unit = synchronized {
    if (!closed && latest > cur._1) {
      val next = openGen(latest)
      val old = cur
      cur = next
      release(old._1, old._2)
    }
  }

  /** The atomic (generation, index) pair to search with — swapped to the
    * latest committed generation first when the check cadence says to
    * look. Concurrent searches never block on a swap another thread is
    * performing — the `swapping` CAS admits exactly ONE swapper per
    * committed generation (every other thread returns the old pinned pair
    * immediately, in BOTH modes); with `asyncSwap` the detecting search
    * doesn't pay the swap either — it hands the open+pin+prewarm to a
    * background thread and keeps serving the old generation, so no search
    * ever pays the swap wall (the trade: a few more
    * old-generation-served searches while the swap runs). A FAILED swap
    * (corrupt generation, prewarm error) unpins whatever it touched, is
    * reported, and retries on the next check cadence while the old
    * generation keeps serving.
    */
  def resolved: (Int, I) = {
    if (!closed && !swapping.get()) {
      val now = System.nanoTime()
      if (checkIntervalMs <= 0 || (now - lastCheck) / 1000000L >= checkIntervalMs) {
        lastCheck = now
        val latest = IndexMaintenance.currentGeneration(spark, root)
        if (latest > cur._1 && swapping.compareAndSet(false, true)) {
          if (!asyncSwap) {
            // a failed sync swap must not propagate to the search caller:
            // the docstring's contract is "reported, old generation keeps
            // serving, retried next cadence" — same as the async branch
            // (openGen already unpinned whatever the failure touched)
            try swapTo(latest)
            catch { case e: Throwable =>
              System.err.println(s"[graft] swap to gen-$latest of $root failed: $e")
            } finally swapping.set(false)
          } else {
            val t = new Thread(() => {
              try swapTo(latest)
              catch { case e: Throwable =>
                System.err.println(s"[graft] background swap to gen-$latest of $root failed: $e")
              } finally swapping.set(false)
            }, s"graft-serving-swap")
            t.setDaemon(true)
            t.start()
          }
        }
      }
    }
    cur
  }

  /** Current index, following generation swaps per the check cadence. */
  def index: I = resolved._2

  // Keyed per-generation cache for [[derived]]:
  // access-order LinkedHashMap = LRU once the tenant count passes the
  // bound. Guarded by the session monitor (the same lock swaps and close
  // take), entries dropped on swap/evict/close with the same holder
  // accounting as the old single slot.
  private val derivedCache =
    new java.util.LinkedHashMap[AnyRef, (Int, I)](16, 0.75f, true)
  private val maxDerived: Long = Regime.MaxDerivedViews(spark)

  /** Count of [[derived]] calls that actually ran `derive` — observable
    * for the specs (zero re-derives per search after warm is the
    * multi-tenant contract).
    */
  private[graft] val deriveCount = new java.util.concurrent.atomic.AtomicLong

  /** A per-generation DERIVED view of the served index — the
    * composition seam for filtered serving on a LIVE root: pass e.g.
    * `sess.derived(allowDf)(i => Lexical.bm25FilteredView(i, allowDf,
    * "doc_id"))` and search the returned view. `derive` runs once per
    * (generation, key) and is re-applied automatically after every swap,
    * so a view's one-time driver work (the resident allow-set collect)
    * amortizes across searches AND follows the lifecycle — a stale view
    * serving a superseded generation is exactly the bug this prevents.
    *
    * MULTI-TENANT: the cache is a keyed LRU — K tenants alternating
    * on one session each keep their warm view across searches AND swaps
    * (a single slot would re-derive per call under interleaving, quietly
    * re-paying the allow-set collect that 0-job serving exists to avoid).
    * Keys compare by `equals`, which for DataFrames is reference identity
    * — reuse ONE key object per tenant (the tenant's allow frame, or a
    * stable string id). Past [[Regime.MaxDerivedViews]]
    * (default 16) the least-recently-used view is evicted and re-derived
    * on next use. Derived views share the base generation's pinned frames
    * and mirror (the filtered-view constructors inherit the holder's
    * shareKey), so swap/release accounting is untouched: K cached views
    * cost K shared-slot refs on ONE mirror, zero extra bytes.
    *
    * Swap-race-safe: `derive` runs OUTSIDE the session
    * monitor (it may run Spark jobs), and the cache write re-checks the
    * generation under the monitor — a derive that straddles a concurrent
    * swap drops its stale view's holder reference and retries against
    * the new generation instead of caching a view of a generation
    * [[release]] already dropped (whose slot ref would leak until GC).
    */
  def derived(key: AnyRef)(derive: I => I): (Int, I) = {
    while (true) {
      val (g, idx) = resolved
      synchronized {
        if (!closed && cur._1 == g) {
          val c = derivedCache.get(key)
          if (c != null && c._1 == g) return (g, c._2)
        }
      }
      deriveCount.incrementAndGet()
      val d = derive(idx) // outside the monitor: may run Spark jobs
      synchronized {
        if (closed) {
          // closed mid-derive: nothing to cache against; serve the view
          // uncached (its holder ref was never counted — drop is a no-op
          // on an unbuilt holder, and the session released its own refs)
          drop(d)
          return (g, d)
        }
        if (cur._1 == g) {
          val prev = derivedCache.put(key, (g, d))
          if (prev != null) drop(prev._2)
          val it = derivedCache.entrySet().iterator()
          while (derivedCache.size() > maxDerived && it.hasNext) {
            val e = it.next() // access-order map: eldest first
            it.remove()
            drop(e.getValue._2)
          }
          return (g, d)
        }
        // the generation moved while deriving — the view belongs to a
        // released generation: drop its holder ref and re-derive
        drop(d)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Estimated heap bytes of the CURRENT generation's driver mirror —
    * 0 before the mirror exists (above-bound or unpinned indexes never
    * build one; a partitioned tier is executor-held and shows in
    * [[Resident.residentCensus]] instead) and 0 again after [[close]].
    */
  def residentBytes: Long =
    if (closed) 0L else tiers(cur._2).residentBytes

  private def release(gen: Int, idx: I): Unit = {
    // derived views of the released generation hold their OWN references
    // on the shared mirror slot (each holder acquired independently) —
    // drop them here or a server cycling generations leaks one slot ref
    // per cached view per swap (the refcount would never reach
    // zero, so superseded mirrors and their census entries survived
    // until GC). Views of OTHER generations stay cached.
    val it = derivedCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue._1 == gen) { it.remove(); drop(e.getValue._2) }
    }
    // mirror first (per-session reference; shared slots refcount their
    // own), then the frames — but ONLY when this session was the LAST
    // pinner of this generation: Spark's CacheManager is PLAN-keyed, so a
    // blind unpersist here would also unpin a SIBLING session's identical
    // frames (the two-session sharing spec pins this)
    drop(idx)
    if (ServingSession.PinRegistry.unpin(pinKey(gen, idx)))
      frames(idx).foreach(_.unpersist(false))
  }

  /** Release the pin and the resident mirror. Idempotent; a closed
    * session keeps answering [[resolved]] with its last pair (now
    * unpinned — searches fall back to the cold distributed plans). A
    * sibling session still serving the same generation keeps its pin AND
    * its zero-job mirror (pin refcounts + shared mirror slots).
    */
  def close(): Unit = synchronized {
    if (!closed) { closed = true; release(cur._1, cur._2) }
  }
}

object ServingSession {

  /** Generation-pin refcounts across sessions: Spark's CacheManager
    * dedupes cache entries by canonicalized plan, so two sessions over one
    * generation share ONE cache entry — the unpersist must belong to the
    * LAST session releasing that generation, or closing one session
    * silently unpins its sibling (whose searches then fall back to cold
    * plans until the next swap). Keyed by generation path; only sessions
    * register here — a NON-session pinner of the same files (a parity
    * fixture's own open) is a different DataFrame lineage the registry
    * can't see, same as before.
    */
  private object PinRegistry {
    private val refs = new java.util.HashMap[String, Integer]
    def pin(key: String): Unit = synchronized {
      refs.merge(key, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b)); ()
    }
    /** True when the caller was the LAST pinner and owns the unpersist. */
    def unpin(key: String): Boolean = synchronized {
      val n = Option(refs.get(key)).map(_.intValue()).getOrElse(0) - 1
      if (n <= 0) { refs.remove(key); true }
      else { refs.put(key, Integer.valueOf(n)); false }
    }
  }

  /** Serve a maintained BM25 root ([[Lexical.bm25OpenIndex]] per
    * generation). `checkIntervalMs` ≤ 0 checks the generation markers on
    * every [[ServingSession.resolved]] call; `asyncSwap` moves the
    * open+pin+prewarm of a new generation off the search path entirely.
    * Prewarm reads the stats row, then builds the tier the index's
    * [[Resident.Tiers]] will serve from — the driver mirror under the
    * resident bound, the partitioned tier over it — so the swap pays for it
    * and every search is zero jobs or one; the ann and minhash sessions do
    * the same.
    */
  def bm25(spark: SparkSession, root: String,
      checkIntervalMs: Long = 0L,
      asyncSwap: Boolean = false): ServingSession[Lexical.Bm25Index] =
    new ServingSession[Lexical.Bm25Index](spark, root, p => Lexical.bm25OpenIndex(spark, p),
      _.tiers, _.statsRow, checkIntervalMs, asyncSwap)

  /** Serve a maintained ANN root ([[Ann.annOpenIndex]] per generation) —
    * float, int8, and PQ searches all route through the one pinned index.
    * Prewarm collects the centroid matrix, then builds the serving tier.
    */
  def ann(spark: SparkSession, root: String,
      checkIntervalMs: Long = 0L,
      asyncSwap: Boolean = false): ServingSession[Ann.AnnIndex] =
    new ServingSession[Ann.AnnIndex](spark, root, p => Ann.annOpenIndex(spark, p),
      _.tiers, _.centroidMat, checkIntervalMs, asyncSwap)

  /** Serve a maintained MinHash root ([[Dedup.minhashOpenIndex]] per
    * generation) — the incremental-dedup serving tier. Prewarm builds the
    * serving tier.
    */
  def minhash(spark: SparkSession, root: String,
      checkIntervalMs: Long = 0L,
      asyncSwap: Boolean = false): ServingSession[Dedup.MinHashIndex] =
    new ServingSession[Dedup.MinHashIndex](spark, root, p => Dedup.minhashOpenIndex(spark, p),
      _.tiers, _ => (), checkIntervalMs, asyncSwap)
}
