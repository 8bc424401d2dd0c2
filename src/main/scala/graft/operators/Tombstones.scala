package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Tombstone deletes for the three persisted index families — the lifecycle
  * verb the append/compact/refit triad was missing. Real corpora shrink as
  * well as grow (takedown requests, retroactive dedup, license filtering),
  * and a 100 TB index cannot pay a rebuild per removal; the reference's
  * workflow (rebuild the frame, re-fit — e.g.
  * /root/reference/src/linktransformer/infer.py dedup paths) assumes
  * in-memory data and has no incremental story at all.
  *
  * Protocol — the same atomic-marker idiom as the append batches, applied to
  * removals: a delete lands as a self-contained directory
  * `path/deletes/<delId>/` holding
  *
  *   - `ids/` — parquet of the deleted doc ids actually PRESENT in the index
  *     at delete time (one `id` long column; requested ids that don't exist,
  *     or were already deleted, are dropped here so the recorded stat deltas
  *     stay exact under replays and overlapping delete sets),
  *   - `delete_meta.json` — the family's exact stat deltas (`n_ids`, dropped
  *     row count `n_rows`, and for BM25 `n_docs`/`sum_dl`, the corpus-stat
  *     sums that must shrink for scores to equal a rebuild's),
  *   - `_COMMITTED` — ONE atomic create after both writes; a crash at any
  *     point leaves the index exactly as before, an uncommitted leftover is
  *     invisible and overwritten by a retry, and a committed `delId` replay
  *     is an idempotent no-op.
  *
  * The one layout open ([[IndexLayout.open]]) reads the visible tombstones
  * ([[read]]) and EXCLUDES the ids from every component frame it
  * assembles, so every downstream consumer — searches,
  * driver-resident mirrors, compactors — sees the post-delete corpus without
  * knowing deletes exist. Exclusion shape is the repo's bounded-driver
  * pattern: under [[Regime.MaxDriverDeleteIds]] total ids, one small collect per
  * open turns into a codegen'd `NOT IN` set probe (no join in the serving
  * plans, partition pruning untouched); over it, nothing touches the driver
  * and the exclusion is a distributed left-anti join whose small side AQE
  * broadcasts while it fits.
  *
  * The delete verb itself is written once, [[IndexLifecycle.delete]]:
  * each family's descriptor names the frame that lists its servable ids
  * and what a delete records of the rows it finds (BM25's per-doc
  * `n_docs`/`sum_dl`, ANN's one row per id, MinHash's `numBands` rows per
  * id). A tombstone is counted by its own write: [[writeDelete]]'s one
  * ids write takes the found rows' count and sums in its observation.
  *
  * Compaction applies tombstones PHYSICALLY for free — the compactors
  * rebuild from the opened (already-filtered) frames — and ledgers the
  * applied delete ids (`applied_deletes.json`, the absorbed-batches idiom)
  * so a crash-replayed delete against the compacted layout stays a no-op.
  */
object Tombstones {

  /** The ids parquet written by [[writeDelete]]/[[consolidate]] is a single
    * long column (the known schema skips the footer/schema-inference job
    * per read — see Lexical.postingsReadSchema for the rationale).
    */
  private[graft] val idsReadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))

  private val DelDir = "deletes"
  private val Marker = "_COMMITTED"
  private val LedgerFile = "applied_deletes.json"
  private val MetaFile = "delete_meta.json"

  /** A delete's exact stat deltas: ids and index rows dropped, and for
    * BM25 the `n_docs`/`sum_dl` corpus sums that shrink.
    */
  final case class Deltas(nIds: Long, nRows: Long, nDocs: Double = 0.0, sumDl: Double = 0.0) {
    def +(o: Deltas): Deltas =
      Deltas(nIds + o.nIds, nRows + o.nRows, nDocs + o.nDocs, sumDl + o.sumDl)
    /** The `delete_meta.json` members that record these deltas. */
    def json: String =
      s""""n_ids": $nIds, "n_rows": $nRows, "n_docs": $nDocs, "sum_dl": $sumDl"""
  }

  /** The deltas one committed tombstone dir recorded. */
  private def deltasOf(meta: JsonNode): Deltas =
    Deltas(meta.get("n_ids").asLong(), meta.get("n_rows").asLong(),
      meta.get("n_docs").asDouble(), meta.get("sum_dl").asDouble())

  /** One family's view of an index's committed tombstones: the sorted delete
    * ids (the shareKey / census component), the exact summed stat deltas,
    * and the exclusion to apply to id-keyed frames.
    */
  final case class Deletes(
      names: Seq[String],
      deltas: Deltas,
      private val exclusion: Either[Array[Long], DataFrame]) {
    /** Exclude the tombstoned ids from `df` keyed by `idCol`. Literal-set
      * form stays inside whole-stage codegen (In → InSet past the optimizer
      * threshold) and never blocks partition pruning; frame form is a
      * left-anti join (AQE broadcasts the delete side while it fits).
      */
    def exclude(df: DataFrame, idCol: String): DataFrame = exclusion match {
      case Left(ids) =>
        if (ids.isEmpty) df
        else df.filter(!col(idCol).isin(ids.toIndexedSeq: _*))
      case Right(delDf) =>
        df.join(delDf.select(col("id").as("__del_id")),
          df(idCol) === col("__del_id"), "left_anti")
    }
  }

  private[operators] def dirOf(path: String, delId: String): Path =
    new Path(new Path(path, DelDir), delId)

  /** One committed tombstone dir's `delete_meta.json`. */
  private def deleteMeta(fs: FileSystem, dir: Path) =
    IndexLayout.readJson(fs, new Path(dir, MetaFile))

  /** The delIds a tombstone meta says it absorbed ([[consolidate]]'s
    * `folds`), and each one's commit instant (`folded_ats`); both empty
    * for a plain delete.
    */
  private def foldsOf(meta: JsonNode): Seq[String] =
    Option(meta.get("folds")).toSeq.flatMap(n => (0 until n.size()).map(n.get(_).asText()))
  private def foldedAtsOf(meta: JsonNode): Map[String, Long] =
    Option(meta.get("folded_ats")).toSeq
      .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue.asLong())).toMap

  /** Commit the fully written tombstone `dir`: its `delete_meta.json` (the
    * deltas, the wall time the takedown was applied — the audit surface's
    * WHEN — then any `fields`) goes in before the marker, the single
    * visibility event.
    */
  private def commit(fs: FileSystem, dir: Path, d: Deltas, fields: String = ""): Unit = {
    IndexLayout.writeJson(fs, new Path(dir, MetaFile),
      s"""{${d.json}, "at": ${System.currentTimeMillis()}$fields}""", overwrite = false)
    fs.create(new Path(dir, Marker), false).close()
  }

  /** Committed tombstone directories under `path/deletes`, name-sorted —
    * the same visibility rule as the append batches: no `_COMMITTED`, not
    * there.
    */
  private[operators] def committedDeleteDirs(fs: FileSystem, path: String): Seq[Path] = {
    val root = new Path(path, DelDir)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, Marker)))
      .map(_.getPath).sortBy(_.getName)
  }

  /** delIds absorbed by committed CONSOLIDATIONS under `path/deletes` — the
    * union of every committed dir's `folds` meta array ([[consolidate]]).
    * A dir named here is a crash-window leftover (its consolidation
    * committed before it could be deleted): readers must skip it or its
    * stat deltas double-count. Transitively complete — a fold of a fold
    * carries the inner names forward. A dir's OWN name is dropped from its
    * absorbed set: self-absorption is structurally impossible (defense in
    * depth behind [[consolidate]]'s never-reuse-a-name rule — a fold that
    * reused a swept fold's name, whose string survives in the transitive
    * ledger, would filter ITSELF out of [[visibleDeleteDirs]] and silently
    * resurrect every taken-down doc).
    */
  private[operators] def foldedDeletes(fs: FileSystem, path: String): Set[String] = {
    committedDeleteDirs(fs, path)
      .flatMap(d => foldsOf(deleteMeta(fs, d)).filterNot(_ == d.getName)).toSet
  }

  /** The delete dirs a reader may SUM: committed, minus those a committed
    * consolidation has absorbed (whose dirs are normally already deleted —
    * present only in the crash window between a fold's marker create and
    * its source-dir sweep).
    */
  private[operators] def visibleDeleteDirs(fs: FileSystem, path: String): Seq[Path] = {
    val all = committedDeleteDirs(fs, path)
    if (all.isEmpty) return all
    val folded = foldedDeletes(fs, path)
    if (folded.isEmpty) all else all.filterNot(d => folded.contains(d.getName))
  }

  /** [[visibleDeleteDirs]] as bare names — what a [[Snapshots]] capture
    * records.
    */
  private[operators] def visibleDeleteNames(fs: FileSystem, path: String): Seq[String] =
    visibleDeleteDirs(fs, path).map(_.getName)

  /** The tombstone-dir names a reader at wall time `atMillis` would have
    * summed (the [[Snapshots.asOf]] resolver): committed dirs whose
    * marker mtime is ≤ the timestamp — each marker is the dir's single
    * commit point and is never rewritten, so its mtime IS the visibility
    * instant (the `generationAsOf` argument) — minus dirs absorbed by an
    * included fold (the double-count guard).
    *
    * Folds committed AFTER the timestamp normally swept their absorbed
    * dirs, but [[consolidate]] records every absorbed name's commit
    * instant in its `folded_ats` meta (transitively), so the window
    * question stays decidable after the sweep:
    *  - every absorbed commit AFTER `atMillis` → the fold is irrelevant;
    *  - every absorbed commit AT-OR-BEFORE `atMillis` → the fold's
    *    distinct-union IS exactly the window's exclusion set — include
    *    the fold itself;
    *  - a MIX → the window is genuinely destroyed: the per-dir id
    *    partition a partial window needs is what the union erased. REFUSE
    *    — consolidation is GC, GC destroys history, and silently
    *    under-excluding would serve taken-down docs into a replay. The
    *    documented remedy is a named [[Snapshots]] pin, whose preserve set
    *    keeps exactly the dirs a guaranteed as-of read needs.
    */
  private[operators] def deleteNamesAsOf(
      fs: FileSystem, path: String, atMillis: Long): Seq[String] = {
    case class D(name: String, mtime: Long, folds: Seq[String],
        foldedAts: Map[String, Long])
    val ds = committedDeleteDirs(fs, path).map { d =>
      val node = deleteMeta(fs, d)
      D(d.getName, fs.getFileStatus(new Path(d, Marker)).getModificationTime,
        foldsOf(node).filterNot(_ == d.getName), foldedAtsOf(node))
    }
    val byName = ds.map(d => d.name -> d).toMap
    val include = Seq.newBuilder[String]
    ds.filter(_.mtime <= atMillis).foreach(d => include += d.name)
    ds.filter(d => d.mtime > atMillis && d.folds.nonEmpty).foreach { f =>
      // a name still on disk answers with its live marker; a swept one
      // with its recorded instant
      val ats = f.folds.map(n =>
        n -> byName.get(n).map(_.mtime).orElse(f.foldedAts.get(n)))
      val unknown = ats.collect { case (n, None) => n }
      def refuse(what: String) = require(requirement = false,
        s"cannot reconstruct the tombstone set of $path at $atMillis: " +
          s"consolidation '${f.name}' committed after that instant and $what" +
          " (consolidation is GC — the per-dir partition its union erased " +
          "is gone). Use a named snapshot to guarantee as-of reads across " +
          "folds.")
      if (unknown.nonEmpty)
        refuse(s"has no commit instant for ${unknown.sorted.mkString(", ")}")
      val known = ats.map(_._2.get)
      if (known.forall(_ <= atMillis)) include += f.name
      else if (!known.forall(_ > atMillis))
        refuse("straddles it — some absorbed tombstones were committed " +
          "before, some after")
    }
    val included = include.result().distinct
    // an included fold REPRESENTS its absorbed names — drop them even when
    // individually in-window (the crash-window / all-before-window cases)
    val covered = included.flatMap(n => byName(n).folds).toSet
    included.filterNot(covered).sorted
  }

  /** Delete ids already folded into `path`'s base layout by a compaction —
    * a deleter must no-op on these exactly as on a live `_COMMITTED` marker
    * (the absorbed-batches contract, applied to removals).
    */
  private[operators] def appliedDeletes(fs: FileSystem, path: String): Set[String] = {
    val p = new Path(path, LedgerFile)
    if (!fs.exists(p)) return Set.empty
    val node = IndexLayout.readJson(fs, p).get("applied")
    (0 until node.size()).map(node.get(_).asText()).toSet
  }

  /** Write `dstPath`'s delete ledger = `srcPath`'s ledger ∪ the tombstones
    * the compaction just applied. Called by the compactors AFTER the new
    * layout is fully written, from [[IndexLayout.carryLedgers]].
    */
  private[operators] def carryDeleteLedger(
      fs: FileSystem, srcPath: String, dstPath: String): Unit = {
    // folded names ride along: a consolidated-away delId's dir is gone, so
    // without them a post-compaction replay of that delId would not find
    // its marker OR the ledger entry (it still no-ops — its ids are gone
    // from the compacted layout, so the re-resolve finds nothing — but the
    // ledger keeps the cheap-path guarantee uniform)
    val all = appliedDeletes(fs, srcPath) ++
      committedDeleteDirs(fs, srcPath).map(_.getName) ++
      foldedDeletes(fs, srcPath)
    if (all.isEmpty) return
    IndexLayout.writeJson(fs, new Path(dstPath, LedgerFile),
      all.toSeq.sorted.map(id => "\"" + id + "\"").mkString("{\"applied\": [", ", ", "]}"),
      overwrite = true)
  }

  /** True when `delId` is already visible (committed) or ledgered (applied
    * by a compaction) — the deleter's idempotency gate.
    */
  private[operators] def alreadyDeleted(fs: FileSystem, path: String, delId: String): Boolean =
    fs.exists(new Path(dirOf(path, delId), Marker)) ||
      appliedDeletes(fs, path).contains(delId) ||
      foldedDeletes(fs, path).contains(delId)

  /** Land one tombstone: the family's `doomed` rows (one per id the
    * family resolved as actually present), written as the `id` column of
    * one parquet file by one write that also takes the rows' count and
    * sums, then the exact stat deltas from them, committed by one atomic
    * marker create. A delete that found no row writes no meta, no marker
    * and no dir (an empty parquet dir has no footers and would corrupt
    * later opens). The caller ([[IndexLifecycle.delete]]) has already
    * passed [[alreadyDeleted]].
    */
  private[operators] def writeDelete(spark: SparkSession, path: String, delId: String,
      doomed: IndexLifecycle.Doomed): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = dirOf(path, delId)
    // uncommitted leftover from a failed attempt: invisible to open(), safe
    // to drop wholesale and rewrite
    if (fs.exists(dir)) fs.delete(dir, true)
    // tombstone sets are small relative to the index (a takedown batch, not
    // a corpus): one file keeps later opens' exclusion read to one footer
    val written = IndexLayout.writeComponent(dir.toString, IndexLayout.Component("ids",
      doomed.rows.withColumn("id", col("id").cast("long")).coalesce(1), keep = Seq("id")),
      doomed.sums: _*)
    if (written.nRows == 0) fs.delete(dir, true)
    else commit(fs, dir, doomed.deltas(written))
  }

  /** The tombstone audit surface of one index as a DataFrame — one row per
    * committed delete (`del_id`, the exact recorded deltas, and the wall
    * timestamp the takedown was applied). Compliance's question — "what was
    * removed, how much, and when" — answered from the index directory alone;
    * exposed to SQL as the `graft_index_deletes` TVF. Empty frame when the
    * index has no tombstones.
    */
  def deletesDf(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("del_id", StringType), StructField("n_ids", LongType),
      StructField("n_rows", LongType), StructField("n_docs", DoubleType),
      StructField("sum_dl", DoubleType), StructField("at", LongType)))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // visible, not raw-committed: a consolidated-away dir surviving in the
    // fold's crash window must not double-report its deltas (the fold row
    // itself carries the summed deltas under its own del_id)
    val rows: java.util.List[org.apache.spark.sql.Row] =
      visibleDeleteDirs(fs, path).map { d =>
        val n = deleteMeta(fs, d)
        org.apache.spark.sql.Row(d.getName, n.get("n_ids").asLong(),
          n.get("n_rows").asLong(), n.get("n_docs").asDouble(),
          n.get("sum_dl").asDouble(), n.get("at").asLong())
      }.asJava
    spark.createDataFrame(rows, schema)
  }

  /** Read `path`'s visible tombstones into one [[Deletes]] view, for
    * [[IndexLayout.open]]; None when the index has none (the common case:
    * one `exists` on the deletes dir). Under [[Regime.MaxDriverDeleteIds]] total
    * ids this pays ONE small job per open to collect the exclusion set
    * (footer-bounded single-file reads); over it the ids stay distributed.
    *
    * `only` restricts the read to a PINNED name set ([[Snapshots]]): a
    * snapshot open must exclude exactly the tombstones that were visible at
    * capture — no more (post-capture takedowns belong to the live view,
    * not the frozen one) and no less. Every pinned name must still be
    * visible: a missing one means the pin was violated (a consolidate ran
    * without the snapshot's preserve set, or the dir was hand-deleted) and
    * the open REFUSES — silently under-excluding would serve docs the
    * captured state had already removed. `only = Some(empty)` reads as "no
    * tombstones at capture" → None even when live deletes exist.
    */
  private[operators] def read(
      spark: SparkSession, path: String,
      only: Option[Set[String]]): Option[Deletes] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val visible = visibleDeleteDirs(fs, path)
    val dirs = only match {
      case None => visible
      case Some(names) =>
        val present = visible.filter(d => names.contains(d.getName))
        val missing = names -- present.map(_.getName)
        require(missing.isEmpty,
          s"pinned tombstone dir(s) ${missing.toSeq.sorted.mkString(", ")} " +
            s"not visible under $path/$DelDir — the snapshot's pins were " +
            "violated (consolidated without preserve, or hand-deleted); " +
            "refusing to open with a partial exclusion set")
        present
    }
    if (dirs.isEmpty) return None
    val total = dirs.map(d => deltasOf(deleteMeta(fs, d))).foldLeft(Deltas(0L, 0L))(_ + _)
    // ONE multi-path read with the known schema (the Denylist.read idiom):
    // the ids are a single flat long column, so the partition-inference
    // caveat behind the layout open's per-root reads does not apply, and a
    // per-dir read + union fold would cost N footer round-trips and an
    // N-node plan per open
    val idsDf = IndexLayout.readComponents(spark, dirs.map(_.toString), "ids", idsReadSchema)
    val exclusion =
      if (total.nIds <= Regime.MaxDriverDeleteIds(spark))
        Left(idsDf.collect().map(_.getLong(0)))
      else
        // EAGERLY pinned (the Denylist.exclude idiom): this frame is planned
        // from a dir listing, and a concurrent consolidate() deletes its
        // source dirs after committing the fold — an over-bound open whose
        // lazy anti-join ran after the sweep would hit FileNotFoundException
        // mid-job. The checkpoint narrows the race window from "whole open
        // lifetime" to the listing-to-materialize instant; a loss there
        // still fails CLEANLY before any result is served, and a re-open
        // re-lists and sees the fold. (Never ignoreMissingFiles: silently
        // under-reading an exclusion set would serve taken-down docs.)
        // Under-bound opens — the common case — already collect eagerly
        // above.
        Right(idsDf.localCheckpoint(true))
    Some(Deletes(dirs.map(_.getName), total, exclusion))
  }

  /** Fold every visible tombstone of `path` into ONE consolidated delete
    * dir — the dir-count hygiene verb: `deleteFraction` compacts on
    * deleted-row FRACTION, so a takedown trickle on a large index
    * (fraction ≪ threshold forever) would accumulate dirs without bound,
    * and every `open()` of every family would re-pay N footer+meta reads. Wired
    * to [[IndexMaintenance.Policy.maxDeleteDirs]]; callable directly on the
    * same cadence as [[graft.streaming.Denylist.compact]].
    *
    * Protocol — a consolidation IS a tombstone: the distinct-union ids and
    * the SUMMED stat deltas land under `deletes/fold-<k>/` with the usual
    * atomic marker, plus a `folds` meta array naming every absorbed delId
    * (transitively — a fold of a fold carries the inner names). Readers
    * ([[read]]/[[deletesDf]]/[[visibleDeleteDirs]]) skip absorbed dirs even
    * when present, so the crash window between the fold's marker create and
    * the source-dir sweep never double-counts a delta; the sweep completes
    * on the next call. Replays stay no-ops three ways: [[alreadyDeleted]]
    * consults the folds arrays, [[carryDeleteLedger]] carries them across
    * compactions, and a re-resolved folded delId finds no surviving ids
    * anyway. Stat exactness rides the writeDelete contract — tombstone id
    * sets are disjoint (only ids PRESENT at delete time are recorded), so
    * the distinct union's deltas are the plain sums.
    *
    * Single-maintainer verb, like the compactors: it mutates the live
    * `deletes/` dir, so run it from the maintenance cadence, not
    * concurrently with itself. Readers are safe throughout — an open
    * UNDER the driver id bound collects its exclusion eagerly, and an
    * over-bound open eagerly PINS its exclusion frame at read time
    * ([[read]]'s localCheckpoint), so a consolidation sweeping the source
    * dirs after the open cannot fail its later searches (same hardening as
    * Denylist.exclude). Fold names are never reused — a name any ledger
    * knows (committed, folded, applied) is reserved forever, and
    * [[foldedDeletes]] additionally drops a dir's own name from its
    * absorbed set, so a fold can never absorb itself.
    * Returns the number of dirs folded (0 when ≤ 1 is visible).
    *
    * Snapshot pins: dirs named by a live [[Snapshots]] pin of this
    * generation are PRESERVED — never folded, never swept — so a pinned
    * open can keep reconstructing its exact capture-time exclusion set
    * (a fold's distinct-union destroys the per-dir partition a pin needs).
    * The no-arg form derives the preserve set from the enclosing root's
    * `snapshots/` automatically when `path` is a `gen-<n>` directory;
    * pass `preserve` explicitly to override (empty = fold everything —
    * only safe when no snapshot pins this index).
    */
  def consolidate(spark: SparkSession, path: String): Int =
    consolidate(spark, path, Snapshots.pinnedDeleteNamesFor(spark, path))

  def consolidate(spark: SparkSession, path: String, preserve: Set[String]): Int = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val folded = foldedDeletes(fs, path)
    val all = committedDeleteDirs(fs, path)
    // finish a crashed sweep first: committed dirs a committed fold already
    // absorbed are invisible to readers and safe to drop (a preserved name
    // can never be in this set — preserve keeps it out of folds' ledgers)
    all.filter(d => folded.contains(d.getName)).foreach(d => fs.delete(d, true))
    val visible = all.filterNot(d => folded.contains(d.getName))
      .filterNot(d => preserve.contains(d.getName))
    if (visible.size <= 1) return 0
    var total = Deltas(0L, 0L)
    val transitive = Seq.newBuilder[String]
    // each absorbed name's COMMIT INSTANT rides along: the sweep
    // destroys the marker whose mtime is the only record of when that
    // tombstone became visible, and [[deleteNamesAsOf]] needs it to decide
    // whether a historical window intersects this fold — directly-absorbed
    // dirs contribute their live marker mtime, inner names their entry in
    // the absorbed fold's own folded_ats (transitively complete)
    val foldedAts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    visible.foreach { d =>
      val node = deleteMeta(fs, d)
      total += deltasOf(node)
      transitive += d.getName
      foldedAts(d.getName) =
        fs.getFileStatus(new Path(d, Marker)).getModificationTime
      transitive ++= foldsOf(node)
      foldedAtsOf(node).foreach { case (n, t) => foldedAts.getOrElseUpdate(n, t) }
    }
    // Fold names are NEVER reused — a ledgered name is reserved forever.
    // Probing for the first fold-k with no on-disk marker is not enough:
    // swept folds free their dirs while their names live on in the
    // transitive `folds` ledgers, so the third consolidation on a takedown
    // trickle would reuse fold-0, whose carried-forward ledger contains
    // the new fold's OWN name — it would absorb itself, visibleDeleteDirs
    // would go empty, and every taken-down doc would serve again. Pick k strictly past
    // every fold index ANY ledger knows: committed dirs, fold names
    // absorbed by committed folds, names applied by compactions, and the
    // transitive array this fold is about to write.
    val FoldName = "fold-(\\d+)".r
    val reserved = all.iterator.map(_.getName) ++ folded.iterator ++
      appliedDeletes(fs, path).iterator ++ transitive.result().iterator
    val k = reserved.collect { case FoldName(n) => n.toLong }
      .foldLeft(-1L)(math.max) + 1
    val dir = dirOf(path, s"fold-$k")
    if (fs.exists(dir)) fs.delete(dir, true) // uncommitted leftover
    IndexLayout.writeComponent(dir.toString, IndexLayout.Component("ids",
      IndexLayout.readComponents(spark, visible.map(_.toString), "ids", idsReadSchema)
        .distinct().coalesce(1)))
    commit(fs, dir, total,
      transitive.result().sorted.map(id => "\"" + id + "\"")
        .mkString(""", "folds": [""", ", ", "], ") +
        foldedAts.toSeq.sortBy(_._1).map { case (n, t) => s""""$n": $t""" }
          .mkString(""""folded_ats": {""", ", ", "}"))
    // sweep AFTER the commit: a crash leaves absorbed-but-present dirs that
    // readers skip via the folds array and the next call deletes
    visible.foreach(d => fs.delete(d, true))
    visible.size
  }

  /** Visible tombstone dir count of `path` — the [[IndexMaintenance.Policy
    * .maxDeleteDirs]] signal (zero filesystem cost beyond one listing).
    */
  def deleteDirCount(spark: SparkSession, path: String): Int = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    visibleDeleteDirs(fs, path).size
  }
}
