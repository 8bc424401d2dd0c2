package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val smoke: Boolean, val workDir: java.io.File, expected: Map[String, String]) {
  val gen = new Gen(seed)
  /** Corpus size: the sf0.1 `documents` row count, or sf0.001's in smoke mode. */
  val nDocs: Int = if (smoke) 500 else 5000
  def scaled(n: Int): Int = if (smoke) math.max(1, n / 10) else n

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** The committed output hash of `workload` for this seed and size, if any. */
  def expectedHash(workload: String): Option[String] =
    expected.get(s"$workload\t$seed\t${if (smoke) "smoke" else "full"}")

  def docsDf(docs: Seq[Doc]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(docs.map(d => Row(d.id, d.text, d.lang, d.source,
      d.text.length.toLong)): _*), Main.DocSchema)

  /** Write `docs` as a parquet fixture in the work dir; returns its path. */
  def writeFixture(name: String, docs: Seq[Doc]): String = {
    val path = new java.io.File(workDir, s"fixtures/$name").getPath
    docsDf(docs).coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  def readFixture(path: String): DataFrame = span("sources.read") {
    val df = spark.read.schema(Main.DocSchema).parquet(path)
    df.count()
    df
  }
}

/** A workload's measured outcome. Latencies in nanoseconds. */
final class Outcome {
  val requestNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
  val attempted = new java.util.concurrent.atomic.AtomicLong
  val failed = new java.util.concurrent.atomic.AtomicLong
  val rows = new java.util.concurrent.atomic.AtomicLong
  @volatile var recall: Double = Double.NaN
  val extra = new java.util.concurrent.ConcurrentHashMap[String, Double]
  val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** Count one operation; `ok` false (or an exception) counts it failed. */
  def op(what: String)(ok: => Boolean): Unit = {
    attempted.incrementAndGet()
    val good = try ok catch { case e: Exception => notes.add(s"$what: $e"); false }
    if (!good) { failed.incrementAndGet(); if (notes.size < 20) notes.add(s"check failed: $what") }
  }
}

/** When a measured phase ends: at a deadline, or after fixed op counts. */
final case class Stop(deadlineNs: Long, counts: Option[Map[String, Int]]) {
  def done(client: String, n: Int): Boolean = counts match {
    case Some(c) => n >= c.getOrElse(client, 0)
    case None => System.nanoTime() >= deadlineNs
  }
}

trait Workload {
  type Input
  type State
  /** The inputs and what is built offline from them (fixtures, persisted
    * indexes); once per run and untimed.
    */
  def prepare(ctx: Ctx): Input
  /** What a process does to get ready over the prepared inputs: load the
    * fixtures, or open, pin and prewarm the index sessions. Timed, repeated.
    */
  def setup(ctx: Ctx, in: Input): State
  def teardown(ctx: Ctx, s: State): Unit
  /** Set-ups per run; the median is reported. */
  def setupReps: Int = 3
  /** Requests that let the JIT and caches settle before timing; untimed. */
  def warm(ctx: Ctx, s: State): Unit = ()
  /** Output checks on fixed probes, once per run and untimed. */
  def check(ctx: Ctx, s: State, out: Outcome): Unit = ()
  /** Run the clients until `stop`; returns each client's op count. */
  def run(ctx: Ctx, s: State, stop: Stop, out: Outcome): Map[String, Int]
  /** Per-layer numbers measured outside the spans (traced run only). */
  def census(ctx: Ctx, s: State): Map[String, Double] = Map.empty
}

object Main {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  /** Expected output hashes: lines `workload<TAB>seed<TAB>full|smoke<TAB>hash`,
    * keyed by their first three fields; `#` starts a comment.
    */
  def readExpected(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(w, s, z, h) => s"$w\t$s\t$z" -> h }.toMap
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val smoke = opts.getOrElse("smoke", "0") == "1"
    val cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors().toString).toInt
    val workDir = new java.io.File(opts.getOrElse("work", "work"))
    val expected = opts.get("expected").map(Main.readExpected).getOrElse(Map.empty)
    val w: Workload = workload match {
      case "linkage_batch" => Linkage
      case "index_churn" => Churn
      case other => sys.error(s"unknown workload $other")
    }
    val spark = Session.build(cpus, new java.io.File(workDir, "warehouse").getPath)
    println(Json.obj(Map("session" -> Json.obj(Session.settings(spark, cpus)),
      "workload" -> Json.str(workload), "seed" -> seed.toString, "trace" -> trace.toString)))
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, seed, smoke, workDir, expected)
    val result = try measure(ctx, w, seconds, trace) finally spark.stop()
    println(result)
  }

  private def measure(ctx: Ctx, w: Workload, seconds: Double, trace: Boolean): String = {
    // phase walls, printed to stderr: where a run's time goes
    var phases = Vector.empty[(String, Double)]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases :+= name -> (now - mark) / 1e9
      mark = now
    }
    // set-up is repeated and the median reported; all but the last are torn down
    val input = w.prepare(ctx)
    phase("prepare")
    var setupS = Vector.empty[Double]
    var state: w.State = null.asInstanceOf[w.State]
    val reps = if (ctx.smoke) 1 else w.setupReps
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      state = w.setup(ctx, input)
      setupS :+= (System.nanoTime() - t0) / 1e9
      if (i < reps) w.teardown(ctx, state)
    }
    phase("setup")
    val out = new Outcome
    w.warm(ctx, state)
    phase("warm")
    w.check(ctx, state, out)
    phase("check")
    val metrics =
      if (!trace) {
        val t0 = System.nanoTime()
        w.run(ctx, state, Stop(t0 + (seconds * 1e9).toLong, None), out)
        val wall = (System.nanoTime() - t0) / 1e9
        Report.endToEnd(out, wall, Stats.median(setupS))
      } else {
        // one untraced and one traced phase with the same op counts: the
        // wall difference is what tracing costs
        val t0 = System.nanoTime()
        val counts = w.run(ctx, state, Stop(t0 + (seconds * 0.5e9).toLong, None), out)
        val untraced = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        ctx.tracer.span("bench.run")(w.run(ctx, state, Stop(Long.MaxValue, Some(counts)), out))
        val traced = (System.nanoTime() - t1) / 1e9
        val layers = w.census(ctx, state)
        val (spans, work) = ctx.tracer.finish()
        Report.perLayer(ctx, spans, work, layers ++ Kernels.measure(ctx.seed) ++
          Map("bench.trace_overhead_s" -> (traced - untraced)), out)
      }
    phase("measure")
    w.teardown(ctx, state)
    System.err.println(phases.map { case (n, t) => f"$n $t%.1f s" }.mkString("[perfbench] phases: ", ", ", ""))
    val correct = out.failed.get() == 0
    out.notes.forEach(n => System.err.println(s"[perfbench] $n"))
    Json.obj(Map(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, out.attempted.get()).toString,
      "failed" -> out.failed.get().toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, unit)) =>
        k -> Json.obj(Map("value" -> Json.num(v), "unit" -> Json.str(unit)))
      })))
  }
}

/** The session every run uses: the same settings as `graft.Bench`. */
object Session {
  /** Spark's scratch space is `SPARK_LOCAL_DIRS`, which the launcher points
    * into the run's work directory.
    */
  def build(cpus: Int, warehouseDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val Reported: Seq[String] = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.files.maxPartitionBytes",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")

  def settings(s: SparkSession, cpus: Int): Map[String, String] =
    Reported.map(k => k -> Json.str(s.conf.get(k))).toMap + ("cpus" -> cpus.toString)
}

object Stats {
  /** Quantile with linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
