package graft

/** Diagnostic main: decomposes a query's wall time into DataFrame
  * construction (analysis), job execution, and between-job driver gaps
  * (planning/collect/scheduler latency), with per-job wall and task counts.
  * Runs in [[Bench.session]], so walls are comparable to the recorded bench
  * numbers.
  *
  * Usage: `runMain graft.Profile <sfDir> <queryName> [reps]`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <queryName> [reps]")
    val (sfDir, name) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 2
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val spark = Bench.session(Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val instrument = Instrument.attach(spark.sparkContext)

    // same warmup as Bench
    spark.range(1000000).groupBy(org.apache.spark.sql.functions.col("id") % 10)
      .count().collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    (0 until reps).foreach { rep =>
      System.gc(); Thread.sleep(50)
      val mark = instrument.settle()
      val t0 = System.currentTimeMillis()
      val df = fn(spark, sfDir)
      val t1 = System.currentTimeMillis()
      val n = df.count()
      val t2 = System.currentTimeMillis()
      instrument.settle()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val wall = (t2 - t0) / 1e3
      val build = (t1 - t0) / 1e3
      val recs = instrument.jobsSince(mark)
      val jobWall = recs.map(r => (r.end - r.start).max(0L)).sum / 1e3
      // gaps: wall minus the MERGED union of job [start,end] intervals
      // (advisor r15: queries that submit jobs concurrently — e.g.
      // q_resident_parity's four plan legs — make the naive sum exceed
      // wall and print negative gaps), minus DataFrame construction
      val covered = {
        val iv = recs.map(r => (r.start, r.end.max(r.start))).sortBy(_._1)
        var tot = 0L
        var curS = 0L
        var curE = -1L
        iv.foreach { case (s, e) =>
          if (curE < 0) { curS = s; curE = e }
          else if (s > curE) { tot += curE - curS; curS = s; curE = e }
          else curE = curE.max(e)
        }
        (tot + (if (curE < 0) 0L else curE - curS)) / 1e3
      }
      val gapTotal = wall - build - covered
      println(f"[$name rep$rep] wall=$wall%.3f build=$build%.3f " +
        f"jobs=${recs.size} jobWall=$jobWall%.3f covered=$covered%.3f " +
        f"gaps=$gapTotal%.3f rows=$n")
      if (rep == reps - 1) {
        recs.foreach { r =>
          println(f"  job ${r.id}%4d ${(r.end - r.start).toDouble}%8.1fms " +
            f"stages=${r.stages}%-3d tasks=${r.tasks}%-5d ${r.desc}")
        }
      }
    }
    instrument.close()
    spark.stop()
  }
}
