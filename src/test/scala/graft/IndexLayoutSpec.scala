package graft

import graft.operators.{Ann, Dedup, IndexLayout, Lexical}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The shared on-disk layout ([[IndexLayout]]), once per index family:
  * every writer stamps the current `format_version`, every reader (open,
  * append, delete) refuses a root meta without it or at another version
  * with a rebuild hint — before anything lands — a committed batch
  * missing its `batch_meta.json` fails the open, an empty batch
  * commits nothing and leaves no dir, a delete that finds nothing leaves
  * no dir, a delete records each found id once however often it is named,
  * and every write and delete counts its rows in its own result stage. An
  * open of a root with more than 32 partition dirs per component starts no
  * job, and each component scan runs on as many tasks as its bytes fill,
  * and no fewer than the cores.
  */
class IndexLayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def docs(ids: Seq[Int]): DataFrame = {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    ids.map { i =>
      val words = (0 until 8).map(j => vocab((i + j * 3) % vocab.size))
      (i.toLong, (words :+ s"id$i").mkString(" "),
        Array.tabulate(8)(d => math.sin(i * 13 + d * 7)))
    }.toDF("id", "text", "vec")
  }

  /** One family's write / open / append / delete / search, keyed by index
    * dir; `search` returns the rows of a self-search of the first docs.
    */
  private case class Family(
      name: String, metaFile: String,
      write: String => Unit,
      open: String => Unit,
      appendOf: (String, DataFrame, String) => Boolean,
      deleteOf: (String, DataFrame, String) => Boolean,
      compact: (String, String) => Unit,
      search: String => Long) {
    def append(dir: String, batchId: String): Boolean =
      appendOf(dir, docs(100 until 104), batchId)
    def delete(dir: String, delId: String): Boolean =
      deleteOf(dir, docs(0 until 2), delId)
  }

  private val families = Seq(
    Family("bm25", "bm25_meta.json",
      dir => {
        val (postings, stats) = Lexical.bm25BuildIndex(docs(0 until 20), "id", "text")
        Lexical.bm25WriteIndex(postings, stats, dir, nBuckets = 4)
      },
      dir => Lexical.bm25OpenIndex(spark, dir),
      (dir, rows, b) => Lexical.bm25AppendIndex(spark, dir, rows, "id", "text", b),
      (dir, ids, d) => Lexical.bm25DeleteFromIndex(spark, dir, ids, "id", d),
      (src, dst) => Lexical.bm25CompactIndex(spark, src, dst),
      dir => Lexical.bm25SearchIndex(Lexical.bm25OpenIndex(spark, dir), docs(0 until 3),
        "id", "text", k = 2).count()),
    Family("ann", "ann_meta.json",
      dir => {
        val (cells, cents) = Ann.annBuildIndex(docs(0 until 20), "id", "vec", nCentroids = 3)
        Ann.annWriteIndex(cells, cents, dir)
      },
      dir => Ann.annOpenIndex(spark, dir),
      (dir, rows, b) => Ann.annAppendIndex(spark, dir, rows, "id", "vec", b),
      (dir, ids, d) => Ann.annDeleteFromIndex(spark, dir, ids, "id", d),
      (src, dst) => Ann.annCompactIndex(spark, src, dst),
      dir => Ann.annSearchIndex(Ann.annOpenIndex(spark, dir), docs(0 until 3),
        "id", "vec", k = 2).count()),
    Family("minhash", "minhash_meta.json",
      dir => Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(docs(0 until 20), "id", "text"), dir),
      dir => Dedup.minhashOpenIndex(spark, dir),
      (dir, rows, b) => Dedup.minhashAppendIndex(spark, dir, rows, "id", "text", b),
      (dir, ids, d) => Dedup.minhashDeleteFromIndex(spark, dir, ids, "id", d),
      (src, dst) => Dedup.minhashCompactIndex(spark, src, dst),
      dir => Dedup.minhashSearchIndex(Dedup.minhashOpenIndex(spark, dir), docs(0 until 3),
        "id", "text").count()))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_layout_$tag").toString

  private def readMeta(dir: String, f: Family): String = {
    val in = fs.open(new Path(dir, f.metaFile))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def writeMeta(dir: String, f: Family, meta: String): Unit = {
    val out = fs.create(new Path(dir, f.metaFile), true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
  }

  private val versionField = s""""format_version": ${IndexLayout.FormatVersion}"""

  for (f <- families) {
    test(s"${f.name}: fresh writes and compactions carry the current format_version") {
      val src = tmp(s"${f.name}_fresh")
      f.write(src)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readMeta(src, f))
      assert(node.get("format_version").asInt() === IndexLayout.FormatVersion)
      f.open(src)
      assert(f.append(src, "b1"))
      assert(f.delete(src, "d1"))
      val dst = tmp(s"${f.name}_compacted")
      f.compact(src, dst)
      assert(readMeta(dst, f).contains(versionField))
      f.open(dst)
    }

    test(s"${f.name}: open, append and delete refuse a missing, lower or higher version") {
      val dir = tmp(s"${f.name}_old")
      f.write(dir)
      val current = readMeta(dir, f)
      assert(current.contains(versionField + ", "))
      val v = IndexLayout.FormatVersion
      for ((label, replacement) <- Seq("missing" -> "",
          "lower" -> s""""format_version": ${v - 1}, """,
          "higher" -> s""""format_version": ${v + 1}, """)) {
        writeMeta(dir, f, current.replace(versionField + ", ", replacement))
        for ((verb, call) <- Seq[(String, () => Any)](
            "open" -> (() => f.open(dir)),
            "append" -> (() => f.append(dir, "b1")),
            "delete" -> (() => f.delete(dir, "d1")))) {
          val e = intercept[IllegalArgumentException](call())
          assert(e.getMessage.contains("rebuild"), s"$label/$verb: ${e.getMessage}")
        }
        // refused before anything landed
        assert(!fs.exists(new Path(s"$dir/batches/b1")), label)
        assert(!fs.exists(new Path(s"$dir/deletes/d1")), label)
      }
    }

    test(s"${f.name}: a committed batch without batch_meta.json fails the open") {
      val dir = tmp(s"${f.name}_nobm")
      f.write(dir)
      assert(f.append(dir, "b1"))
      f.open(dir)
      fs.delete(new Path(s"$dir/batches/b1/batch_meta.json"), false)
      val e = intercept[IllegalArgumentException](f.open(dir))
      assert(e.getMessage.contains("batch_meta.json") && e.getMessage.contains("rebuild"))
    }

    test(s"${f.name}: an empty batch leaves no dir; replays, opens and searches stay healthy") {
      val dir = tmp(s"${f.name}_empty")
      f.write(dir)
      val hits = f.search(dir)
      assert(hits > 0)
      val empty = docs(100 until 104).filter(col("id") < 0)
      for (attempt <- Seq("first", "replay")) {
        assert(f.appendOf(dir, empty, "e1"), attempt)
        assert(!fs.exists(new Path(s"$dir/batches/e1")), attempt)
        assert(f.search(dir) === hits, attempt)
      }
      // a batch with rows still lands after it
      assert(f.append(dir, "b1"))
      assert(fs.exists(new Path(s"$dir/batches/b1/_COMMITTED")))
      f.open(dir)
    }
  }

  /** The executed plans of the observed writes `run` starts. */
  private def observedWrites(run: => Any): List[String] = {
    val plans = collection.mutable.Buffer[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try SpecJobs.count(spark)(run)
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList).filter(_.contains("CollectMetrics"))
  }

  /** No `Exchange` sits above a write's last `CollectMetrics`. */
  private def assertObservedAboveShuffles(writes: Seq[String]): Unit =
    for (p <- writes) {
      val lines = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toSeq
      val lastObserve = lines.lastIndexWhere(_.contains("CollectMetrics"))
      assert(!lines.take(lastObserve).exists(_.contains("Exchange")), p)
    }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  for (f <- families) {
    test(s"${f.name}: each component write counts its rows above every shuffle") {
      // a shuffle-map stage re-run after a lost executor applies its metrics
      // again; a result stage's tasks apply theirs once
      val writes = observedWrites(f.write(tmp(s"${f.name}_observe")))
      assert(writes.exists(_.contains("Exchange hashpartitioning")), writes)
      assertObservedAboveShuffles(writes)
      val dir = tmp(s"${f.name}_observe_delete")
      f.write(dir)
      val deletes = observedWrites(assert(f.delete(dir, "d1")))
      assert(deletes.nonEmpty)
      assertObservedAboveShuffles(deletes)
    }

    test(s"${f.name}: a delete that names an id twice records what naming it once does") {
      def recorded(ids: DataFrame): Map[String, String] = {
        val dir = tmp(s"${f.name}_twice")
        f.write(dir)
        assert(f.deleteOf(dir, ids, "d1"))
        // the tombstone ids: one long `id` column in one parquet file
        val files = fs.listStatus(new Path(s"$dir/deletes/d1/ids")).map(_.getPath.getName)
        assert(files.count(_.endsWith(".parquet")) === 1, files.toSeq)
        val persisted = spark.read.parquet(s"$dir/deletes/d1/ids")
        assert(persisted.schema.map(c => (c.name, c.dataType)) ===
          graft.operators.Tombstones.idsReadSchema.map(c => (c.name, c.dataType)))
        assert(persisted.count() === 2)
        val in = fs.open(new Path(s"$dir/deletes/d1/delete_meta.json"))
        val node = try mapper.readTree(in) finally in.close()
        Seq("n_ids", "n_rows", "n_docs", "sum_dl").map(k => k -> node.get(k).asText()).toMap
      }
      val once = recorded(docs(0 until 2))
      assert(once("n_ids") === "2")
      assert(recorded(docs(0 until 2).union(docs(Seq(1, 0, 1)))) === once)
    }

    test(s"${f.name}: a delete that finds nothing leaves no dir; replays, opens and searches stay healthy") {
      val dir = tmp(s"${f.name}_absent")
      f.write(dir)
      val hits = f.search(dir)
      assert(hits > 0)
      for (attempt <- Seq("first", "replay")) {
        assert(f.deleteOf(dir, docs(900 until 902), "n1"), attempt)
        assert(!fs.exists(new Path(s"$dir/deletes/n1")), attempt)
        f.open(dir)
        assert(f.search(dir) === hits, attempt)
      }
      // a delete that finds its ids still lands after it
      assert(f.delete(dir, "d1"))
      assert(fs.exists(new Path(s"$dir/deletes/d1/_COMMITTED")))
      f.open(dir)
    }
  }

  test("opens of a 64-bucket bm25 and a 40-cell ANN root start no job; scans split by bytes") {
    val bm = tmp("bm25_wide")
    val (postings, stats) = Lexical.bm25BuildIndex(docs(0 until 400), "id", "text")
    Lexical.bm25WriteIndex(postings, stats, bm) // the default 64 buckets
    val an = tmp("ann_wide")
    val (cells, cents) = Ann.annBuildIndex(docs(0 until 400), "id", "vec", nCentroids = 40)
    Ann.annWriteIndex(cells, cents, an)
    def partitionDirs(dir: String): Int =
      fs.listStatus(new Path(dir)).count(st => st.isDirectory && st.getPath.getName.contains("="))
    assert(partitionDirs(s"$bm/postings") > 32)
    assert(partitionDirs(s"$an/cells") > 32)
    /** The bytes of the parquet files under `dir`. */
    def bytes(dir: Path): Long = fs.listStatus(dir).map { st =>
      if (st.isDirectory) bytes(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) st.getLen else 0L
    }.sum
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    // at the default split (one task per component) and at one small enough
    // to give several tasks, yet fewer than the files
    for (split <- Seq(128L << 20, 16L << 10)) try {
      spark.conf.set(key, split.toString)
      val (bmIdx, bmJobs) = SpecJobs.of(spark)(Lexical.bm25OpenIndex(spark, bm))
      val (anIdx, anJobs) = SpecJobs.of(spark)(Ann.annOpenIndex(spark, an))
      assert(bmJobs.isEmpty && anJobs.isEmpty, s"split $split: ${bmJobs ++ anJobs}")
      for ((name, dir, df, partCol) <- Seq(
          ("postings", s"$bm/postings", bmIdx.postings, "__bkt"),
          ("cells", s"$an/cells", anIdx.cells, "__cell"))) {
        // the session's split rule in bytes: no more splits than the bytes
        // fill, and no fewer than the cores
        val files = fs.globStatus(new Path(s"$dir/*/*.parquet")).length
        val want = math.max((bytes(new Path(dir)) + split - 1) / split,
          spark.sparkContext.defaultParallelism)
        val tasks = df.queryExecution.toRdd.getNumPartitions
        assert(tasks <= want && tasks < files, s"$name at split $split: $tasks tasks, " +
          s"$files files, max(ceil(bytes / split), cores) = $want")
        val plain = spark.read.schema(df.schema).parquet(dir)
        assert(df.collect().map(_.toString).sorted.toSeq ==
          plain.collect().map(_.toString).sorted.toSeq, s"$name at split $split")
        val pruned = df.filter(col(partCol) === 3)
        val scan = pruned.queryExecution.executedPlan.toString
        assert(scan.linesIterator.exists(l => l.contains("PartitionFilters") &&
          l.contains(s"($partCol#") && l.contains("= 3)")), scan)
        assert(pruned.collect().map(_.toString).sorted.toSeq ==
          plain.filter(col(partCol) === 3).collect().map(_.toString).sorted.toSeq)
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
