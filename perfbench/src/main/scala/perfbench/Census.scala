package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** Per-layer numbers that are not span timings. */
object Census {
  /** `Embedder.embed` materialized alone over `docs`' texts: median of 3. */
  def embed(docs: DataFrame): Map[String, Double] = {
    val texts = docs.select("text").localCheckpoint(true)
    val n = texts.count()
    val s = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Indexes.emb.embed(texts, "text", "v").agg(sum(element_at(col("v"), 1))).collect()
      (System.nanoTime() - t0) / 1e9
    })
    Map("embed.s" -> s, "embed.rows_per_s" -> n / s)
  }

  /** `Dedup.minhashLsh`'s verify work, from the SQL metrics of an executed
    * plan: the verify node is the filter or join whose condition computes the
    * exact shingle Jaccard (`array_intersect`). Its output rows are the
    * verified pairs. The first join below it joins each candidate pair to its
    * shingles, so its output rows are the candidate pairs.
    */
  def minhashVerify(plan: SparkPlan): Option[(Long, Long)] = {
    def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)
    val verify = Walk.collect(plan) {
      case v @ (_: FilterExec | _: BaseJoinExec)
          if v.expressions.exists(_.exists(_.isInstanceOf[ArrayIntersect])) => v
    }
    verify.iterator.flatMap { v =>
      val below = v.children.iterator.flatMap(c => Walk.collectFirst(c) { case j: BaseJoinExec => j })
      below.nextOption().flatMap(j => for (c <- rows(j); n <- rows(v)) yield (c, n))
    }.nextOption()
  }

  /** Plan walks that descend into adaptive plans and their query stages. */
  private object Walk extends AdaptiveSparkPlanHelper
}
