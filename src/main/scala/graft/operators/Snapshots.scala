package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The exact component set a snapshot open restricts an index to: the
  * committed append-batch names and the visible tombstone-dir names that
  * existed at capture. Threaded through each family's opener
  * ([[IndexLifecycle.open]]) — an open with pins reads ONLY these
  * components of the (immutable-per-component) layout, so it reconstructs
  * the capture-time view bit-for-bit no matter what landed since.
  */
final case class IndexPins(batches: Set[String], deletes: Set[String])

/** Named snapshots of a managed generation root — point-in-time pins with
  * GC protection (r15).
  *
  * [[IndexMaintenance.generationAsOf]] answers the reproducibility question
  * backward from a wall timestamp, but it can only name a GENERATION — and
  * a generation directory is not immutable as a serving view: append
  * batches and tombstones keep landing on the current generation between
  * compactions, and [[Tombstones.consolidate]] / [[IndexMaintenance
  * .pruneGenerations]] GARBAGE-COLLECT the very components an old view
  * needs. A training run that wants "exactly the corpus I read today,
  * reopenable next quarter" needs a pin the maintenance loop respects —
  * the role Iceberg/Delta give named snapshots plus retention policy,
  * re-expressed over this repo's atomic-marker directory protocol.
  *
  * A snapshot is a manifest, not a copy: `root/snapshots/<name>/
  * manifest.json` records the current generation number plus the committed
  * batch names and visible tombstone-dir names of its directory at capture
  * (`_COMMITTED` marker-last, the repo's single-visibility-event idiom —
  * a crashed create is invisible and a retry overwrites it). Capture cost
  * is three directory listings. Opens ([[open]], [[openAsOf]]) and the
  * drift [[diff]] are written once over a family's [[IndexLifecycle]]
  * descriptor: an open is that family's opener restricted to the pinned
  * components. At 100 TB nothing is rewritten:
  * the pinned generation's data files are immutable, so the snapshot is
  * O(names), and the ONLY ongoing cost is retention — a pinned generation
  * dir stays on disk until the snapshot drops.
  *
  * GC protection, enforced at both collectors:
  *  - [[IndexMaintenance.pruneGenerations]] never deletes a generation a
  *    live snapshot pins;
  *  - [[Tombstones.consolidate]] never folds (or sweeps) a tombstone dir a
  *    live snapshot of that generation pins — post-capture dirs fold
  *    around it, so the trickle hygiene still works.
  * Both derive pins from `root/snapshots` themselves; dropping the
  * snapshot releases the names and the next pass collects them.
  *
  * Capture runs on the maintenance cadence (same single-maintainer
  * contract as the compactors): a create racing a consolidate could pin a
  * name the sweep is deleting, which a later open REFUSES loudly
  * ([[Tombstones.read]]'s pinned-visibility require) — never a silent
  * partial exclusion.
  *
  * Snapshots pin REMOVALS too — a doc tombstoned after capture still
  * serves from the snapshot, which is exactly what reproducibility means
  * and exactly what a compliance purge must know about:
  * [[IndexMaintenance.auditRemovals]]'s snapshot phase surfaces every
  * (snapshot, id) pair where a denylisted id is still servable through a
  * pin, and the remedy is [[drop]] (recorded in the audit trail), not a
  * quiet edit of a frozen view.
  */
object Snapshots {

  private val SnapDir = "snapshots"
  private val Marker = "_COMMITTED"
  private val ManifestFile = "manifest.json"

  /** One committed snapshot: the pinned generation, its component names at
    * capture, and the capture wall time.
    */
  final case class Info(
      name: String, gen: Int,
      batches: Seq[String], deletes: Seq[String], at: Long) {
    def pins: IndexPins = IndexPins(batches.toSet, deletes.toSet)
  }

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapPath(root: String, name: String): Path =
    new Path(new Path(root, SnapDir), name)

  /** Capture the root's CURRENT serving state under `name`. Fails on a
    * name already committed (pins are immutable — drop and re-create to
    * move one) and on a root with no committed generation.
    */
  def create(spark: SparkSession, root: String, name: String): Info = {
    IndexLayout.requireDirName("snapshot name", name)
    val fs = fsOf(spark, root)
    val dir = snapPath(root, name)
    require(!fs.exists(new Path(dir, Marker)),
      s"snapshot '$name' already exists under $root/$SnapDir — snapshots " +
        "are immutable pins; drop() it first to re-capture")
    val gen = IndexMaintenance.currentGeneration(spark, root)
    require(gen >= 0, s"no committed generation under $root to snapshot")
    val p = IndexMaintenance.genPath(root, gen)
    val batches = IndexLayout.committedBatchIds(fs, p)
    val deletes = Tombstones.visibleDeleteNames(fs, p)
    val info = Info(name, gen, batches, deletes, System.currentTimeMillis())
    writeInfo(fs, dir, info)
    info
  }

  /** Commit `info`'s manifest under `dir`, marker last. An uncommitted
    * leftover of a crashed write is invisible and dropped first.
    */
  private def writeInfo(fs: FileSystem, dir: Path, info: Info): Unit = {
    if (fs.exists(dir)) fs.delete(dir, true)
    def arr(xs: Seq[String]): String =
      xs.sorted.map(x => "\"" + x + "\"").mkString("[", ", ", "]")
    IndexLayout.writeJson(fs, new Path(dir, ManifestFile),
      s"""{"name": "${info.name}", "gen": ${info.gen}, "at": ${info.at}, """ +
        s""""batches": ${arr(info.batches)}, "deletes": ${arr(info.deletes)}}""",
      overwrite = false)
    fs.create(new Path(dir, Marker), false).close()
  }

  private def readInfo(fs: FileSystem, dir: Path): Info = {
    val n = IndexLayout.readJson(fs, new Path(dir, ManifestFile))
    def arr(field: String): Seq[String] = {
      val a = n.get(field)
      if (a == null) Seq.empty else (0 until a.size()).map(a.get(_).asText())
    }
    Info(n.get("name").asText(), n.get("gen").asInt(),
      arr("batches"), arr("deletes"), n.get("at").asLong())
  }

  /** All committed snapshots under `root`, name-sorted. */
  def list(spark: SparkSession, root: String): Seq[Info] = {
    val fs = fsOf(spark, root)
    val dir = new Path(root, SnapDir)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, Marker)))
      .sortBy(_.getPath.getName)
      .map(st => readInfo(fs, st.getPath))
  }

  /** The committed snapshot named `name`, if any. */
  def get(spark: SparkSession, root: String, name: String): Option[Info] = {
    val fs = fsOf(spark, root)
    val dir = snapPath(root, name)
    if (!fs.exists(new Path(dir, Marker))) None else Some(readInfo(fs, dir))
  }

  /** Release `name`'s pins. The freed generation / tombstone dirs are
    * collected by the NEXT prune / consolidate pass (never here — drop is
    * a metadata operation, collection stays on the maintenance cadence).
    * Returns false when no such committed snapshot existed.
    */
  def drop(spark: SparkSession, root: String, name: String): Boolean = {
    val fs = fsOf(spark, root)
    val dir = snapPath(root, name)
    if (!fs.exists(new Path(dir, Marker))) return false
    fs.delete(dir, true)
    true
  }

  /** Generation numbers pinned by any committed snapshot of `root` — the
    * set [[IndexMaintenance.pruneGenerations]] must never delete.
    */
  def pinnedGens(spark: SparkSession, root: String): Set[Int] =
    list(spark, root).map(_.gen).toSet

  private val GenDirRe = "(.*)/gen-(\\d+)/?".r

  /** Tombstone-dir names pinned for the generation directory `indexPath`
    * by any committed snapshot of its enclosing root — the preserve set
    * [[Tombstones.consolidate]] must not fold. Empty for paths outside a
    * `gen-<n>` layout (standalone indexes cannot be snapshotted).
    */
  def pinnedDeleteNamesFor(spark: SparkSession, indexPath: String): Set[String] =
    indexPath match {
      case GenDirRe(root, n) =>
        val gen = n.toInt
        list(spark, root).filter(_.gen == gen).flatMap(_.deletes).toSet
      case _ => Set.empty
    }

  private def resolved(spark: SparkSession, root: String, name: String): Info =
    get(spark, root, name).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot '$name' under $root/$SnapDir"))

  /** Open snapshot `name` of `root` through `family`'s opener — searches
    * answer exactly as they did at capture (pinned batches merge in,
    * pinned tombstones exclude and, for BM25, shrink the stats; nothing
    * newer exists).
    */
  def open(spark: SparkSession, family: IndexLifecycle, root: String,
      name: String): family.Index = {
    val info = resolved(spark, root, name)
    family.open(spark, IndexMaintenance.genPath(root, info.gen), Some(info.pins))
  }

  /** Time-travel resolution (r15): the [[Info]] a snapshot WOULD have
    * recorded had one been captured at wall time `atMillis` — derived
    * entirely from commit-marker mtimes, the same single-commit-point
    * argument as [[IndexMaintenance.generationAsOf]] (which resolves the
    * generation half): each batch / tombstone marker is created once at
    * its visibility instant and never rewritten. `None` when no
    * generation was serving then (pre-commit, or pruned since — the
    * honest miss). REFUSES (with the remedy in the message) when a
    * post-timestamp consolidation has swept tombstone dirs the window
    * needs — GC destroys history; a named [[create]]d snapshot is the
    * guaranteed form, this is the best-effort one for timestamps nobody
    * thought to pin.
    */
  def asOf(spark: SparkSession, root: String, atMillis: Long): Option[Info] =
    IndexMaintenance.generationAsOf(spark, root, atMillis).map { g =>
      val p = IndexMaintenance.genPath(root, g)
      val fs = fsOf(spark, root)
      val batches = IndexLayout.committedBatchIds(fs, p)
        .filter(b => IndexLayout.batchCommittedAt(fs, p, b) <= atMillis)
      val deletes = Tombstones.deleteNamesAsOf(fs, p, atMillis)
      Info(s"asof-$atMillis", g, batches, deletes, atMillis)
    }

  /** Open `family`'s view of `root` serving at wall time `atMillis` —
    * [[asOf]] pins applied through the family opener; None on the honest
    * miss.
    */
  def openAsOf(spark: SparkSession, family: IndexLifecycle, root: String,
      atMillis: Long): Option[family.Index] =
    asOf(spark, root, atMillis).map(i =>
      family.open(spark, IndexMaintenance.genPath(root, i.gen), Some(i.pins)))

  /** What drifted since the pin — `('added'|'removed', id)` rows comparing
    * the ids servable through snapshot `name` against the root's CURRENT
    * serving view, both listed by `family`'s servable-id frame. The
    * operational question a pinned eval/training set raises later: "how
    * far has the live corpus moved from what I measured on?" — answered
    * from the two views' id scans alone. `added` = servable now but not
    * through the pin (post-capture ingest); `removed` = servable through
    * the pin but not now (post-capture takedowns/dedup). Plan shape: two
    * column-pruned id scans, one left-anti join per direction (AQE
    * broadcasts the smaller side), `distinct` after the anti-join so each
    * leg pays one shuffle on its RESULT, not its input.
    */
  def diff(spark: SparkSession, family: IndexLifecycle, root: String,
      name: String): DataFrame = {
    val p = family.servable(open(spark, family, root, name))
    val c = family.servable(family.open(spark, IndexMaintenance.currentPath(spark, root), None))
    val added = c.join(p, Seq("id"), "left_anti").distinct()
      .select(lit("added").as("change"), col("id"))
    val removed = p.join(c, Seq("id"), "left_anti").distinct()
      .select(lit("removed").as("change"), col("id"))
    added.unionByName(removed)
  }

  /** Mirror the source's snapshot catalog onto a replica root (r15) — the
    * pins half of blue-green replication: a standby whose generations
    * [[IndexMaintenance.replicaCatchUp]] copies but whose PINS it does not
    * would collect a pinned generation on its next prune, and a failover
    * would silently lose every reproducibility guarantee the source made.
    * The source catalog is authoritative both ways: source snapshots
    * missing on the replica are copied (marker-last, crashed copies
    * invisible, re-copied next call), and replica snapshots the source no
    * longer has are DROPPED — a source-side `drop` must propagate or the
    * replica's GC never frees the pinned components. A same-name snapshot
    * whose manifest differs (dropped and re-captured between polls) is
    * replaced. A source pin whose generation the replica has not copied
    * yet is SKIPPED this call (copying it would dangle — its open must
    * refuse, not mis-serve) and lands on a later call once the generation
    * catch-up passes it; run generation catch-up first, as
    * [[IndexMaintenance.ReplicaFollower]] with `followSnapshots` does.
    * Returns (copied, dropped) names.
    */
  def replicate(spark: SparkSession,
      srcRoot: String, dstRoot: String): (Seq[String], Seq[String]) = {
    val srcInfos = list(spark, srcRoot)
    val srcNames = srcInfos.map(_.name).toSet
    val dstByName = list(spark, dstRoot).map(i => i.name -> i).toMap
    val dstGens = IndexMaintenance.committedGenerations(spark, dstRoot).toSet
    val fs = fsOf(spark, dstRoot)
    val dropped = dstByName.keys.toSeq.sorted.filterNot(srcNames).filter { n =>
      drop(spark, dstRoot, n)
    }
    val copied = srcInfos.filter { i =>
      dstGens.contains(i.gen) && !dstByName.get(i.name).contains(i)
    }.map { i =>
      if (dstByName.contains(i.name)) drop(spark, dstRoot, i.name)
      writeInfo(fs, snapPath(dstRoot, i.name), i)
      i.name
    }
    (copied, dropped)
  }

  /** The snapshot catalog as a DataFrame — one row per committed snapshot
    * `(name, gen, n_batches, n_deletes, at)`, name-sorted; exposed to SQL
    * as the `graft_snapshots` TVF. The retention-audit surface: "what is
    * pinning my disk, since when".
    */
  def infoDf(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("gen", IntegerType),
      StructField("n_batches", IntegerType), StructField("n_deletes", IntegerType),
      StructField("at", LongType)))
    val rows: java.util.List[org.apache.spark.sql.Row] = {
      import scala.jdk.CollectionConverters._
      list(spark, root).map(i => org.apache.spark.sql.Row(
        i.name, i.gen, i.batches.size, i.deletes.size, i.at)).asJava
    }
    spark.createDataFrame(rows, schema)
  }
}
