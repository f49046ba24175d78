package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every graft main and the test suites run on.
  *
  * The planner policy lives here and nowhere else, so the session the
  * oracle validates (`Verify`, the specs) plans exactly like the one
  * the harness times (`Bench`, `ScaleRehearsal`). `graftbench/`
  * carries its own copy of the `spark.sql.*` values; `SessionSpec`
  * fails when the two drift apart.
  */
object Session {
  /** `spark.sql.*` policy for a `local[cpus]` session. */
  private[graft] def sqlConfs(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    // let CACHED plans participate in AQE partition coalescing
    // (default false pins a cached plan's map-side partitioning):
    // graft operators persist narrow delta-sized intermediates —
    // shingle sets, band rows, fixpoint labels — that dozens of
    // downstream jobs rescan, and with the default every such job
    // pays one task per ambient shuffle partition even when the
    // cached delta is KB-sized. Size-based coalescing is the
    // scale-correct rule at any tier (guide §2.2/§2.4); measured
    // −40% total task count on q_stream_cc, −34% q_incremental_cc.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // prefer shuffled-hash join when the planner's size conditions
    // allow (guide §3.1) — measured r19 full-catalog A/B on one host:
    // 196.9s with vs 216.9s without (3-pass-min totals; join-heavy
    // movers q_fuzzy_lookup 3.05→3.86, q_knn_ann 1.09→1.47,
    // q_dedup_clusters 4.24→4.91 without it). Build sides stay
    // bounded at scale: the flag only ENABLES the planner's
    // canBuildLocalHashMap choice (per-partition plan size under
    // autoBroadcastJoinThreshold × shuffle.partitions), it never
    // forces a hash build.
    "spark.sql.join.preferSortMergeJoin" -> "false")

  /** `local[cpus]` session with the graft planner policy, UI off and
    * WARN logging (callers that want quieter logs lower it themselves).
    */
  def build(cpus: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
    val spark = sqlConfs(cpus)
      .foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
