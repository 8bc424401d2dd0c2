package graft

/** Diagnostic main: prints `explain("formatted")` for selected queries so scan
  * pushdown (`PushedFilters`/`ReadSchema`), join strategies (broadcast vs SMJ),
  * and `WholeStageCodegen` spans can be audited per round.
  *
  * Usage: `runMain graft.PlanAudit <sfDir> [queryName ...]` (default: a
  * representative set).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_join_revenue", "q_knn_join", "q_merge_1nn", "q_minhash_dedup",
        "q_topk_per_group", "q_agg_pricing", "q_bm25", "q_retrieve_rerank",
        "q_corpus_pipeline", "q_quantize_int8", "q_dsir_weights",
        "q_token_budget", "q_quality_gate")
    val spark = Bench.session(Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n========== $name ==========")
          fn(spark, sfDir).explain("formatted")
        case None => println(s"\n========== $name: NOT FOUND ==========")
      }
    }
    spark.stop()
  }
}
