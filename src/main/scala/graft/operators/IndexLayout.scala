package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graftbridge.RelationBridge
import org.apache.spark.sql.types.StructType

/** The on-disk layout the three persisted index families share — BM25
  * ([[Lexical.bm25WriteIndex]]), IVF/PQ ANN ([[Ann.annWriteIndex]]) and
  * MinHash-LSH ([[Dedup.minhashWriteIndex]]):
  *
  * {{{
  *   path/<family>_meta.json                  type, format_version, family fields
  *   path/batches/<batchId>/...               one append's own layout
  *   path/batches/<batchId>/batch_meta.json   its row count (+ family sums)
  *   path/batches/<batchId>/_COMMITTED        its single visibility event
  *   path/absorbed_batches.json               batch ids a compaction folded in
  *   path/deletes/<delId>/...                 tombstones (see [[Tombstones]])
  * }}}
  *
  * Every component's parquet (postings, stats, cells, centroids, shingles,
  * tombstone ids) is written by [[writeComponent]] and read by
  * [[readComponents]]; every batch is appended by [[IndexLifecycle.append]],
  * the one caller of [[beginBatch]] and [[commitBatch]]. Every family's
  * open reads the layout through [[open]]: the root meta, the committed
  * batches, the visible tombstones, each component as base ∪ batches −
  * tombstoned ids, the scan estimate and the shared-mirror key. A
  * tombstone is counted by its own write: [[IndexLifecycle.delete]]'s
  * one ids write takes the delete's counts and sums in its observation.
  *
  * Every root meta carries [[FormatVersion]], and [[readMeta]] — the only
  * reader of those files — refuses a meta without it or at another
  * version, so the openers, appenders and deleters read exactly the layout
  * the current writers produce. Bump the version with any change to a
  * persisted field; an index at an older version is rebuilt, not read.
  */
object IndexLayout {

  val FormatVersion = 1

  /** One index family: its meta `type` tag and meta file name. */
  final case class Family(tag: String, metaFile: String, label: String)
  val Bm25 = Family("bm25", "bm25_meta.json", "BM25")
  val AnnIvf = Family("ann_ivf", "ann_meta.json", "ANN")
  val MinHashLsh = Family("minhash_lsh", "minhash_meta.json", "MinHash")

  private val RebuildHint = "rebuild the index with the current writer"
  private val BatchesDir = "batches"
  private val Marker = "_COMMITTED"
  private val BatchMetaFile = "batch_meta.json"
  private val LedgerFile = "absorbed_batches.json"

  // ObjectMapper reads are thread-safe: one mapper serves every read
  private val mapper = new ObjectMapper()

  private[graft] def readJson(fs: FileSystem, p: Path): JsonNode = {
    val in = fs.open(p)
    try mapper.readTree(in) finally in.close()
  }

  private[graft] def writeJson(
      fs: FileSystem, p: Path, json: String, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Directory names (batch ids, delete ids, snapshot names) are one path
    * component: no separators, no `..`.
    */
  private[graft] def requireDirName(what: String, name: String): Unit =
    require(name.matches("[A-Za-z0-9._-]+"),
      s"$what must match [A-Za-z0-9._-]+ (it names a directory), got '$name'")

  // ------------------------------------------------------------------
  // components
  // ------------------------------------------------------------------

  /** One persisted component: its rows, its dir name under an index root
    * or batch dir, the column its parquet is partitioned by, if any, and
    * the columns it keeps (all when empty): a write may sum a column it
    * does not persist.
    */
  final case class Component(name: String, rows: DataFrame, partitionBy: Option[String] = None,
      keep: Seq[String] = Nil)

  /** What [[writeComponent]] took in the write's own job, 0 for no rows. */
  final case class Written(nRows: Long, sum: String => Double)

  /** Write `c` under `parent` and return its row count and the named
    * aggregates `sums`, taken by one `Dataset.observe` of the rows the
    * write carries. A partitioned component is clustered by its column
    * first (each task opens one file per partition it holds), and the
    * observation sits above that shuffle, in the write's result stage:
    * Spark applies a result task's metrics once, a re-run map stage's
    * again. A component with no rows leaves no dir (an empty parquet dir
    * has no footers); [[readComponent]] reads the missing dir as empty.
    */
  private[operators] def writeComponent(parent: String, c: Component, sums: Column*): Written = {
    val out = c.partitionBy.fold(c.rows)(p => c.rows.repartition(col(p)))
    val obs = Observation()
    val observed = out.observe(obs, count(lit(1)).as(RowCount), sums: _*)
    val kept = if (c.keep.isEmpty) observed else observed.select(c.keep.map(col): _*)
    val dir = new Path(parent, c.name)
    c.partitionBy.fold(kept.write)(kept.write.partitionBy(_))
      .mode("overwrite").parquet(dir.toString)
    // an empty input can leave the metrics map empty: read a missing one as 0
    val got = obs.get.collect { case (k, n: Number) => k -> n.doubleValue }
    val n = got.getOrElse(RowCount, 0.0).toLong
    if (n == 0) dir.getFileSystem(c.rows.sparkSession.sparkContext.hadoopConfiguration)
      .delete(dir, true)
    Written(n, got.getOrElse(_, 0.0))
  }
  private val RowCount = "__n_rows"

  /** Read the component `name` under `parent` with its known `schema`,
    * which skips the footer-inference job a read otherwise pays.
    */
  private[operators] def readComponent(
      spark: SparkSession, parent: String, name: String, schema: StructType): DataFrame =
    readComponents(spark, Seq(parent), name, schema)

  /** [[readComponent]] of an UNPARTITIONED component under all `parents`
    * as one multi-path read; a parent without it (no rows) adds nothing.
    */
  private[operators] def readComponents(spark: SparkSession, parents: Seq[String],
      name: String, schema: StructType): DataFrame =
    readDirs(spark, parents.map(new Path(_, name)), schema)

  /** The parquet under `dirs`, read with `schema` as one relation; a missing
    * dir adds nothing. Every component read comes here. The dirs are listed
    * on the driver, so no read starts Spark's listing job (which it does
    * for any dir with more than `parallelPartitionDiscovery.threshold`
    * subdirs, as a 64-bucket or 64-cell component has). The scan is then
    * cut to the tasks the session's split rule gives its bytes:
    * `ceil(bytes / maxPartitionBytes)`, but no fewer than the splits a file
    * scan spreads over (`minPartitionNum`, else the cores), so a component
    * under one split still reads on every core. Spark itself also charges
    * each file `openCostInBytes`, which by default exceeds a small
    * `maxPartitionBytes`, so it would run one task per file. A scan with
    * fewer splits than that keeps them. Nothing is cached across reads.
    */
  private[operators] def readDirs(spark: SparkSession, dirs: Seq[Path],
      schema: StructType): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listing = dirs.flatMap { d =>
      val fs = d.getFileSystem(conf)
      val dir = fs.makeQualified(d)
      val top = try Some(fs.listStatus(dir)) catch { case _: java.io.FileNotFoundException => None }
      top.map(sts => dir -> leafFiles(fs, sts))
    }
    if (listing.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val (rows, bytes) = RelationBridge.parquet(spark, listing, schema)
    val (maxSplit, minSplits) = RelationBridge.splitRule(spark)
    val split = math.max(maxSplit, 1L)
    rows.coalesce(math.max(minSplits.toLong, math.min((bytes + split - 1) / split, Int.MaxValue)).toInt)
  }

  /** The files among `listed` and under its dirs, recursively, minus the
    * names a Spark listing hides: `_x` (but not a `k=v` partition dir), `.x`
    * and `x._COPYING_`.
    */
  private def leafFiles(fs: FileSystem, listed: Array[FileStatus]): Array[FileStatus] =
    listed.filterNot { st =>
      val n = st.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    }.flatMap(st => if (st.isDirectory) leafFiles(fs, fs.listStatus(st.getPath)) else Array(st))

  // ------------------------------------------------------------------
  // root meta
  // ------------------------------------------------------------------

  /** Write `path`'s root meta: the family tag, [[FormatVersion]], then the
    * family's own `fields` (a JSON member list).
    */
  private[operators] def writeMeta(
      spark: SparkSession, path: String, family: Family, fields: String): Unit =
    writeJson(new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(path, family.metaFile),
      s"""{"type": "${family.tag}", "format_version": $FormatVersion, $fields}""",
      overwrite = true)

  /** Read `path`'s root meta, refusing a missing meta, a meta of another
    * family, or one at another [[FormatVersion]].
    */
  private[operators] def readMeta(fs: FileSystem, path: String, family: Family): JsonNode = {
    val p = new Path(path, family.metaFile)
    require(fs.exists(p),
      s"no ${family.label} index at $path (missing ${family.metaFile}); $RebuildHint")
    val node = readJson(fs, p)
    require(Option(node.get("type")).exists(_.asText() == family.tag),
      s"$p is not a ${family.tag} index meta file; $RebuildHint")
    val version = Option(node.get("format_version")).map(_.asInt())
    require(version.contains(FormatVersion),
      s"$p has format_version ${version.getOrElse("(none)")}, this reader " +
        s"needs $FormatVersion; $RebuildHint")
    node
  }

  // ------------------------------------------------------------------
  // append batches
  // ------------------------------------------------------------------

  private def batchDir(path: String, batchId: String): Path =
    new Path(new Path(path, BatchesDir), batchId)

  private[graft] def isBatchCommitted(fs: FileSystem, path: String, batchId: String): Boolean =
    fs.exists(new Path(batchDir(path, batchId), Marker))

  /** Wall time `batchId` became visible: its marker is created once and
    * never rewritten.
    */
  private[operators] def batchCommittedAt(fs: FileSystem, path: String, batchId: String): Long =
    fs.getFileStatus(new Path(batchDir(path, batchId), Marker)).getModificationTime

  /** Committed (visible) batch ids under `path/batches`, name-sorted —
    * directories without the marker are in-flight or failed appends.
    */
  private[graft] def committedBatchIds(fs: FileSystem, path: String): Seq[String] = {
    val dir = new Path(path, BatchesDir)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, Marker)))
      .map(_.getPath.getName).sorted
  }

  /** One committed batch as an open reads it. */
  final case class Batch(dir: Path, meta: JsonNode) {
    def nRows: Long = meta.get("n_rows").asLong()
  }

  /** The committed batches an open reads, with their `batch_meta.json`:
    * all of them, or exactly the `pins`'d ones ([[Snapshots]]). Every pinned
    * batch must still be committed — generations are only deleted whole, so
    * a missing one means the pin was violated.
    */
  private def openBatches(
      fs: FileSystem, path: String, pins: Option[IndexPins]): Seq[Batch] = {
    val all = committedBatchIds(fs, path)
    val ids = pins match {
      case None => all
      case Some(p) =>
        val missing = p.batches -- all
        require(missing.isEmpty,
          s"pinned batch dir(s) ${missing.toSeq.sorted.mkString(", ")} not " +
            s"committed under $path/$BatchesDir — the snapshot's pins were violated")
        all.filter(p.batches.contains)
    }
    ids.map { id =>
      val dir = batchDir(path, id)
      val p = new Path(dir, BatchMetaFile)
      require(fs.exists(p), s"committed batch $dir has no $BatchMetaFile; $RebuildHint")
      Batch(dir, readJson(fs, p))
    }
  }

  /** One open of the index at `path`, as every family reads it: the root
    * `meta`, the committed `batches` and the visible tombstones, each
    * restricted to `pins` ([[Snapshots]]) when given. A pinned batch that is
    * no longer committed, or a pinned tombstone no longer visible, refuses
    * the open ([[openBatches]], [[Tombstones.read]]): a partial view would
    * serve what the captured state had removed.
    */
  private[operators] def open(spark: SparkSession, path: String, family: Family,
      pins: Option[IndexPins]): Opened = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = readMeta(fs, path, family)
    Opened(spark, fs, path, family, meta, openBatches(fs, path, pins),
      Tombstones.read(spark, path, pins.map(_.deletes)))
  }

  /** What [[open]] read. `dels` is None when no tombstone is visible. */
  final case class Opened(spark: SparkSession, fs: FileSystem, path: String, family: Family,
      meta: JsonNode, batches: Seq[Batch], dels: Option[Tombstones.Deletes]) {

    /** No committed batch and no tombstone: the base layout alone. */
    def pristine: Boolean = batches.isEmpty && dels.isEmpty

    /** The component `name` of the base layout and of every batch, minus
      * the tombstoned ids of its `idCol`. Each root is read on its own and
      * the reads are unioned (one multi-root read trips partition
      * inference); a partition filter still prunes inside every branch, as
      * a union pushes predicates to each child, and the exclusion filters
      * after that pruning. The base is read with `baseSchema` and cut to
      * `schema`'s columns when the two differ.
      */
    def component(name: String, schema: StructType, idCol: String,
        baseSchema: Option[StructType] = None): DataFrame = {
      val base = readComponent(spark, path, name, baseSchema.getOrElse(schema))
      val rows = (baseSchema.fold(base)(_ => base.select(schema.fieldNames.map(col): _*)) +:
        batches.map(b => readComponent(spark, b.dir.toString, name, schema)))
        .reduce(_.unionByName(_))
      dels.fold(rows)(_.exclude(rows, idCol))
    }

    /** The rows the committed batches added. */
    def appendedRows: Long = batches.map(_.nRows).sum

    /** The scan estimate: the base's rows plus the batches'. Tombstoned rows
      * are still scanned (the exclusion filters after the read), so it keeps
      * them.
      */
    def nRows: Long = meta.get("n_rows").asLong() + appendedRows

    /** A meta sum `field` over the base and every batch. */
    def total(field: String): Double =
      meta.get(field).asDouble() + batches.map(_.meta.get(field).asDouble()).sum

    /** The summed deltas of the visible tombstones. */
    def deltas: Tombstones.Deltas = dels.fold(Tombstones.Deltas(0L, 0L))(_.deltas)

    /** Stamp `tiers` with this open's shared-mirror key ([[shareKey]]). */
    def share(tiers: Resident.Tiers[_, _]): Unit =
      tiers.shareAs(Some(shareKey(fs, family, path, batches, dels)))
  }

  /** The pre-commit checks of [[IndexLifecycle.append]]. A `batchId`
    * already committed, or folded into the base by a compaction (the
    * absorbed ledger — its dir is gone, so the marker no longer witnesses
    * it), is an idempotent no-op: None. Otherwise an uncommitted leftover
    * of a failed attempt (invisible to opens) is dropped and the dir to
    * write the batch into is returned.
    */
  private[operators] def beginBatch(
      fs: FileSystem, path: String, batchId: String): Option[Path] = {
    requireDirName("batchId", batchId)
    if (isBatchCommitted(fs, path, batchId) ||
        absorbedBatches(fs, path).contains(batchId)) return None
    val dir = batchDir(path, batchId)
    if (fs.exists(dir)) fs.delete(dir, true)
    Some(dir)
  }

  /** Make a fully written batch visible ([[IndexLifecycle.append]]): its
    * `batch_meta.json` (the row count opens sum, then any family `fields`)
    * goes in BEFORE the marker, so the marker create stays the single
    * atomic visibility event and the shared root meta stays immutable.
    */
  private[operators] def commitBatch(
      fs: FileSystem, dir: Path, nRows: Long, fields: String = ""): Unit = {
    writeJson(fs, new Path(dir, BatchMetaFile), s"""{"n_rows": $nRows$fields}""",
      overwrite = false)
    fs.create(new Path(dir, Marker), false).close()
  }

  // ------------------------------------------------------------------
  // compaction ledgers
  // ------------------------------------------------------------------

  /** Batch ids folded into `path`'s base layout by a compaction. */
  private def absorbedBatches(fs: FileSystem, path: String): Set[String] = {
    val p = new Path(path, LedgerFile)
    if (!fs.exists(p)) return Set.empty
    val node = readJson(fs, p).get("absorbed")
    (0 until node.size()).map(node.get(_).asText()).toSet
  }

  /** A compactor's precondition: overwriting the layout being read would
    * destroy the input.
    */
  private[operators] def requireNonInPlace(srcPath: String, dstPath: String): Unit =
    require(srcPath != dstPath,
      "compact is non-in-place: dstPath must differ from srcPath " +
        "(an overwrite of the layout being read would destroy the input)")

  /** Ledger what compacting `srcPath` into `dstPath` folded: `dstPath`'s
    * absorbed ledger = `srcPath`'s ledger ∪ its committed batch ids, and the
    * same for applied tombstones ([[Tombstones.carryDeleteLedger]]), so a
    * crash-replayed append or delete of one of them against the new layout
    * stays an idempotent no-op. Called AFTER the new layout is fully
    * written (the ledgers ride inside the generation, so the generation
    * marker stays the single visibility event).
    */
  private[operators] def carryLedgers(
      spark: SparkSession, srcPath: String, dstPath: String): Unit = {
    val fs = new Path(srcPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = absorbedBatches(fs, srcPath) ++ committedBatchIds(fs, srcPath)
    if (all.nonEmpty) writeJson(fs, new Path(dstPath, LedgerFile),
      all.toSeq.sorted.map(id => "\"" + id + "\"").mkString("{\"absorbed\": [", ", ", "]}"),
      overwrite = true)
    Tombstones.carryDeleteLedger(fs, srcPath, dstPath)
  }

  // ------------------------------------------------------------------
  // shared resident mirrors
  // ------------------------------------------------------------------

  /** The shared-mirror key of one open: qualified path + the committed
    * batch names + the tombstone names — the immutable inputs a resident
    * mirror is a function of, so two opens of one generation refcount ONE
    * mirror and a new append or delete keys a NEW mirror (pinned views
    * restrict both lists, so they never alias a live mirror).
    */
  private def shareKey(fs: FileSystem, family: Family, path: String,
      batches: Seq[Batch], dels: Option[Tombstones.Deletes]): String =
    s"${family.tag}:${fs.makeQualified(new Path(path))}#" +
      batches.map(_.dir.getName).mkString(",") + "!" +
      dels.map(_.names.mkString(",")).getOrElse("")
}
