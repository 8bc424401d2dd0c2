package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One persisted index family's write lifecycle, declared once beside the
  * family's verbs ([[Lexical.Bm25Lifecycle]], [[Ann.AnnLifecycle]],
  * [[Dedup.MinhashLifecycle]]): how it opens, how a batch becomes its rows,
  * which frame lists its servable ids, what a delete records of the rows
  * it finds, how a compaction rewrites an open index, and its ordered
  * maintenance signals.
  * The protocols over it are written once: append, delete and compaction
  * here; the maintenance pass, audits and takedown fan-out in
  * [[IndexMaintenance]]; snapshot opens and diff in [[Snapshots]]. `name`
  * is the short name events, audits and the SQL table functions use,
  * `memberId` the id column of [[members]], `layout` the root meta.
  */
abstract class IndexLifecycle(val name: String, memberId: String,
    layout: IndexLayout.Family) {

  /** What the family's opener returns. */
  type Index

  /** Open the index at `path`; `pins` restricts it to a snapshot's components. */
  def open(spark: SparkSession, path: String, pins: Option[IndexPins]): Index

  /** How `batch` becomes this family's rows, against the frozen parameters
    * of the index at `path`: its root `meta` and the files beside it, never
    * an open.
    */
  protected def batchRows(spark: SparkSession, path: String, meta: JsonNode,
      batch: DataFrame, idCol: String, valueCol: String): IndexLifecycle.BatchRows

  /** The frame whose `memberId` lists the servable (not tombstoned) ids. */
  protected def members(index: Index): DataFrame

  /** How a delete persists and counts the [[members]] rows `found` of the
    * ids it names, against the open `index`.
    */
  protected def doomed(index: Index, found: DataFrame): IndexLifecycle.Doomed

  /** The family's check of a delete's id frame before anything is read. */
  protected def checkIds(ids: DataFrame, idCol: String): Unit = ()

  /** Write `index` as a fresh single layout at `dst` with the family's writer. */
  protected def compactInto(index: Index, dst: String): Unit

  /** The maintenance signals of `index`, opened from generation `src`, in
    * the order they are tried ([[IndexMaintenance.maintainIndexes]]).
    */
  private[operators] def signals(spark: SparkSession, index: Index, src: String,
      policy: IndexMaintenance.Policy): Seq[IndexLifecycle.Signal]

  /** The servable ids of `index` as one long `id` column. */
  final def servable(index: Index): DataFrame =
    members(index).select(col(memberId).cast("long").as("id"))

  /** Append `batch` to the index at `path` as `path/batches/<batchId>/`:
    * the family's [[batchRows]], each component written and counted once,
    * made visible by one marker create. A crash at any point leaves the
    * index as it was; a replay rewrites the uncommitted leftover. A batch
    * that absorbs no document commits nothing and leaves no dir.
    *
    * @return true if the batch was written (or absorbed nothing), false if
    *         `batchId` was already committed or folded by a compaction.
    */
  final def append(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, valueCol: String, batchId: String): Boolean = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = IndexLayout.beginBatch(fs, path, batchId) match {
      case Some(d) => d
      case None => return false
    }
    val meta = IndexLayout.readMeta(fs, path, layout)
    val rows = batchRows(spark, path, meta, batch, idCol, valueCol)
    val nRows = rows.components.map(IndexLayout.writeComponent(dir.toString, _).nRows).head
    if (rows.absorbed(nRows)) IndexLayout.commitBatch(fs, dir, nRows, rows.fields)
    else fs.delete(dir, true)
    true
  }

  /** Tombstone the ids of `ids`' `idCol` that the index at `path` serves,
    * under `delId` ([[Tombstones]] holds the on-disk protocol). Ids not
    * present (never indexed, or already tombstoned: the open excludes
    * them) move nothing, and a delete that finds none writes no dir. The
    * family's [[doomed]] rows are written and counted in one job: a
    * left-semi join never repeats a member row, so an id named twice is
    * found once.
    *
    * @return true if the tombstone was written (or resolved to an empty
    *         no-op), false if `delId` was already committed or applied by a
    *         compaction (idempotent no-op).
    */
  final def delete(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String, delId: String): Boolean = {
    IndexLayout.requireDirName("delId", delId)
    checkIds(ids, idCol)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (Tombstones.alreadyDeleted(fs, path, delId)) return false
    val index = open(spark, path, None)
    val del = ids.select(col(idCol).cast("long").as("id"))
    val m = members(index)
    Tombstones.writeDelete(spark, path, delId,
      doomed(index, m.join(del, m(memberId) === del("id"), "left_semi")))
    true
  }

  /** Compact the index at `srcPath` into a fresh single layout at
    * `dstPath`: the open frames (committed batches in, tombstones out) are
    * rewritten by [[compactInto]], then the absorbed-batch and
    * applied-delete ledgers are carried ([[IndexLayout.carryLedgers]]) so
    * a crash-replayed append or delete of a folded id stays a no-op.
    * Non-in-place: the caller swaps paths and deletes the old directory on
    * their own cadence.
    */
  final def compact(spark: SparkSession, srcPath: String, dstPath: String): Unit =
    compact(spark, open(spark, srcPath, None), srcPath, dstPath)

  /** [[compact]] of `index`, already open from `srcPath`: a maintenance
    * signal compacts the index it read its value from, without a second
    * open.
    */
  final def compact(spark: SparkSession, index: Index, srcPath: String, dstPath: String): Unit = {
    IndexLayout.requireNonInPlace(srcPath, dstPath)
    compactInto(index, dstPath)
    IndexLayout.carryLedgers(spark, srcPath, dstPath)
  }
}

object IndexLifecycle {

  /** A batch as one family persists it: its components in write order, the
    * first one's rows being the batch's `n_rows`; the family's own
    * `batch_meta.json` fields; and whether a batch of `n_rows` absorbed any
    * document (by default: it wrote a row).
    */
  final case class BatchRows(components: Seq[IndexLayout.Component],
      fields: String = "", absorbed: Long => Boolean = _ > 0)

  /** A delete as one family records it: one row per found id, its `id`
    * column persisted and the rest only summed; the named aggregates `sums`
    * the ids write takes beside its row count; and the tombstone's exact
    * stat deltas from what that write took.
    */
  final case class Doomed(rows: DataFrame, deltas: IndexLayout.Written => Tombstones.Deltas,
      sums: Seq[Column] = Nil)

  /** One maintenance signal: it fires when `value` is strictly above
    * `threshold`, and then `act` writes the next generation into the
    * directory it is given. `action` names what `act` does (`compact` |
    * `refit`).
    */
  final case class Signal(name: String, value: Double, threshold: Double,
      action: String, act: String => Unit)

  /** The family called `name` (`bm25` | `ann` | `minhash`). */
  def named(name: String): IndexLifecycle = {
    val all = Seq(Lexical.Bm25Lifecycle, Ann.AnnLifecycle, Dedup.MinhashLifecycle)
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"family must be ${all.map(_.name).mkString("|")}, got '$name'"))
  }
}
