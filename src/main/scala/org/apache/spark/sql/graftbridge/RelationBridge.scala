package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's file-source relation: a parquet read over a listing
  * the caller already made.
  */
object RelationBridge {

  /** A parquet read of the directories `listing` names, each with its leaf
    * files, as `spark.read.schema(schema).parquet(dirs)` resolves it
    * (partition columns inferred from `k=v` dirs and typed by `schema`, data
    * columns nullable), and the relation's size estimate. The file index
    * takes its leaf files from the listing, so building it lists nothing
    * and starts no job; a later refresh of the index lists again.
    */
  def parquet(spark: SparkSession, listing: Seq[(Path, Array[FileStatus])],
      schema: StructType): (DataFrame, Long) = {
    val cache = new FileStatusCache {
      private val files = new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]
      listing.foreach { case (dir, leaves) => files.put(dir, leaves) }
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Option(files.get(path))
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit =
        files.put(path, leafFiles)
      override def invalidateAll(): Unit = files.clear()
    }
    val index = new InMemoryFileIndex(spark, listing.map(_._1), Map.empty, Some(schema), cache)
    val resolver = spark.sessionState.conf.resolver
    val partitionSchema = StructType(index.partitionSchema.map(p =>
      schema.find(f => resolver(f.name, p.name)).getOrElse(p)))
    val dataSchema = StructType(schema.filterNot(f =>
      partitionSchema.exists(p => resolver(p.name, f.name)))).asNullable
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema, None,
      new ParquetFileFormat, Map.empty)(spark)
    (ColumnBridge.ofRows(spark, LogicalRelation(relation)), relation.sizeInBytes)
  }

  /** The session's file split rule: `spark.sql.files.maxPartitionBytes`
    * and the fewest splits a file scan spreads its bytes over
    * (`spark.sql.files.minPartitionNum`, else the leaf-node parallelism).
    */
  def splitRule(spark: SparkSession): (Long, Int) = {
    val conf = spark.sessionState.conf
    (conf.filesMaxPartitionBytes,
      conf.filesMinPartitionNum.getOrElse(spark.asInstanceOf[classic.SparkSession].leafNodeDefaultParallelism))
  }
}
