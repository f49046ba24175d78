package graft.tools

import org.apache.spark.sql.DataFrame

/** The "run it" action for timing/warm-up code (Bench, the scale
  * rehearsal): fully materializes a DataFrame's OWN executed plan.
  *
  * `df.count()` is NOT that action (VERDICT r15 item 1): the count
  * re-plans the query with an `Aggregate(count(1))` on top, column
  * pruning then drops every output column, and Catalyst ELIMINATES
  * cardinality-neutral operators — q_semdedup's left join onto a
  * distinct-keyed dup side vanished entirely (with the within-cluster
  * pair join, the cosine filter, and the CollectMetrics observation),
  * and a catalog sweep found 12 queries losing joins/generates/
  * aggregates under the bench action. The timed number then prices a
  * different (smaller) plan than the one Verify materializes and the
  * plan audits read.
  *
  * `queryExecution.toRdd` executes the analyzed plan as optimized FOR
  * THE QUERY ITSELF — the same executedPlan `.explain` shows and
  * Verify's parquet write runs — with no count-aggregate re-plan, and
  * counting the resulting `RDD[InternalRow]` adds no per-row work (no
  * deserialization to external rows).
  *
  * A raw RDD action bypasses `Dataset.withAction`, so the
  * [[RunMetrics]] QueryExecutionListener never fires for it; the
  * observation accumulators on the SAME QueryExecution are populated
  * at task completion regardless, so this harvests them synchronously
  * — no async listener-bus flush needed for metrics produced by this
  * action (internal driver actions inside a query's own thunk still
  * go through the listener as before).
  */
object Exec {

  /** Execute `df`'s own plan to completion; returns the row count. */
  def materialize(df: DataFrame): Long = {
    val qe = df.queryExecution
    val n = qe.toRdd.count()
    RunMetrics.harvestQe(qe)
    n
  }

  /** One stderr line for a failure a harness loop survives and goes
    * on from: `[tag] what failed: <exception class>: <first message
    * line>`. Stdout (the harness's JSON contract) is left untouched.
    */
  def logFailure(tag: String, what: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse("")
    System.err.println(s"[$tag] $what failed: ${e.getClass.getName}: $msg")
  }
}
