package graft.core

import org.apache.spark.sql.SparkSession

/** Engine-recommended session configuration, in one place so a real
  * deployment gets the same physical plans the bench and the
  * correctness gate run with (round-19 verdict carry-over: the confs
  * lived only in the Bench/Verify/tool builders, so a 100 TB user had
  * to know to set them).
  *
  * Scale note: everything here is scale-ADAPTIVE by construction (the
  * values do not encode a core count or an SF); deployment-specific
  * levers — `spark.sql.shuffle.partitions`, memory sizing, input split
  * sizes — deliberately stay with the deployment.
  */
object SessionDefaults {

  /** Conf pairs every graft session should carry.
    *
    *  - `canChangeCachedPlanOutputPartitioning=true`: lets AQE apply its
    *    normal byte-derived partition coalescing to CACHED plans (the
    *    default `false` exists only so cache consumers can rely on a
    *    fixed partitioning, which nothing here does). The persist-heavy
    *    operators (SAR / RankingAdapter / RankingTrainValidationSplit)
    *    otherwise pin every post-cache stage at
    *    `spark.sql.shuffle.partitions` regardless of data size —
    *    measured r19 at sf0.1: ranking_tvs 910 → 69 tasks,
    *    ranking_metrics and sar_recommend 429 → 25, walls −25..45%. At
    *    100 TB the same flag derives the counts from bytes, so it is
    *    right at any scale.
    */
  val recommended: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** Apply [[recommended]] to a session builder. The last value set
    * for a key wins, and every caller (Bench, Verify, PlanStats,
    * perfbench) wraps its fully configured builder, so these defaults
    * override an earlier `.config` of the same key. A caller that must
    * win sets its value on the returned builder instead. */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    recommended.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
