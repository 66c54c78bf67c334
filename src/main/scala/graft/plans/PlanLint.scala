package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Preflight physical-plan linter — the PlanShapeSpec discipline packaged
  * as a library feature: walk a query's executed plan BEFORE running it at
  * scale and flag the shapes that are fine at sf0.1 and fatal at 100 TB.
  * This is the checklist a reviewer applies to `.explain("formatted")`,
  * automated:
  *
  *  - `error` — will not survive a serious scale-up: cartesian products,
  *    single-partition window funnels (`row_number() OVER (ORDER BY …)`
  *    with no PARTITION BY), an explicit shuffle INTO one partition.
  *  - `warn` — legitimate in specific shapes, worth a look: broadcast
  *    nested-loop joins (fine for a singleton side input, fatal for two
  *    real tables), a global sort with no limit (a full range shuffle —
  *    fine as a deliberate layout pass, accidental otherwise).
  *  - `info` — unbounded per-group buffers: `collect_list`/`collect_set`
  *    aggregates (spillable, but a skewed key materializes its whole
  *    group — prefer the bounded-heap/top-k formulations).
  *
  * Heuristic by design: it reads the compiled plan, not the data — a
  * clean lint does not prove a good plan (skew is invisible here) and a
  * `warn` can be intentional. Zero findings on every shape the library's
  * own catalog plans (PlanLintSpec pins both directions).
  */
object PlanLint {

  final case class Finding(severity: String, node: String, message: String) {
    override def toString: String = s"[$severity] $node: $message"
  }

  /** Lint a DataFrame's executed plan (forces planning, not execution). */
  def lint(df: DataFrame): Seq[Finding] =
    lintPlan(df.queryExecution.executedPlan)

  def lintPlan(plan: SparkPlan): Seq[Finding] = {
    val out = Seq.newBuilder[Finding]
    plan.foreach { node =>
      val name = node.nodeName
      name match {
        case "CartesianProduct" =>
          out += Finding("error", name,
            "cartesian product — O(|left|×|right|) pairs; add an equi-join " +
            "key, a range-bucket rewrite (Joins.pointInIntervalJoin), or " +
            "broadcast a genuinely tiny side")
        case "BroadcastNestedLoopJoin" =>
          out += Finding("warn", name,
            "nested-loop join — fine when one side is a singleton/scalar " +
            "side input, fatal for two real tables; check the broadcast " +
            "side's cardinality")
        case _ => ()
      }
      node match {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty =>
          // over PRE-AGGREGATED data the frame is group-cardinality-sized —
          // the library's own post-aggregation idiom (coverage sums over a
          // 3-row split table, PSI totals over |categories|); over raw rows
          // it is the classic full-corpus funnel
          val postAgg = w.child.find(_.nodeName.contains("Aggregate")).isDefined
          if (postAgg)
            out += Finding("info", w.nodeName,
              "unpartitioned window over aggregated data — fine when the " +
              "aggregate's group count is small; re-check if groups are " +
              "high-cardinality")
          else
            out += Finding("error", w.nodeName,
              "window with no PARTITION BY over un-aggregated rows — every " +
              "row funnels through ONE task; use a keyed window, the salted " +
              "two-phase top-k, or Aggregates.sequentialIds for global numbering")
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => ()
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.numPartitions == 1 &&
              // a scalar aggregate's FINAL exchange carries one pre-reduced
              // row per task, and a GlobalLimit's shuffle carries ≤ n rows
              // per task — those funnels ARE the answer. Flag only
              // single-partition shuffles with NO aggregate/limit anywhere
              // below (repartition(1)/coalesce(1) of raw rows). Searching
              // the whole subtree can miss a funnel sitting far above a
              // deep aggregate — the lint is a heuristic, not a proof.
              e.child.find(n => n.nodeName.contains("Aggregate") ||
                n.nodeName.contains("Limit")).isEmpty =>
          out += Finding("error", e.nodeName,
            "shuffle of un-aggregated rows into a single partition " +
            "(repartition(1)/coalesce(1)) — one task processes everything " +
            "downstream; use IO.writeSized for file sizing instead")
        case s: org.apache.spark.sql.execution.SortExec if s.global =>
          // a global sort under TakeOrdered never appears (TakeOrdered
          // replaces it), so a surviving global SortExec is a full
          // range-shuffle+sort of the input
          out += Finding("warn", s.nodeName,
            "global sort without a limit — full range shuffle + sort; " +
            "deliberate for layout/sharded-output passes, accidental " +
            "otherwise (orderBy that only feeds a display?)")
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
            if a.aggregateExpressions.exists(ae =>
              Seq("collect_list", "collect_set")
                .contains(ae.aggregateFunction.prettyName)) =>
          out += Finding("info", a.nodeName,
            "collect_list/collect_set — per-group buffer is unbounded; a " +
            "skewed key materializes its whole group (bounded-heap top-k " +
            "or sort_array over pre-capped groups where possible)")
        case _ => ()
      }
    }
    // AQE wraps the real plan; lint what's underneath too
    plan match {
      case aqe: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        out ++= lintPlan(aqe.executedPlan)
      case _ => ()
    }
    out.result().distinct
  }

  /** Structural "RangeJoinRewrite fired" check on a LOGICAL plan: some
    * join's equi-condition references a `__bin`-named attribute (the
    * rewrite's bucketed key). The catalog gate (Queries.withBucketWidth)
    * calls it so a temp-column rename fails loudly instead of silently
    * weakening the gate. */
  def binJoinFired(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.references.exists(_.name.startsWith("__bin"))) => j
    }.nonEmpty

  /** Throw (naming every finding) if the plan has `error`-level findings —
    * the CI/preflight form: `PlanLint.assertScalable(df)` before a big run. */
  def assertScalable(df: DataFrame): Unit = {
    val errors = lint(df).filter(_.severity == "error")
    require(errors.isEmpty,
      s"plan has ${errors.size} scale-fatal shape(s):\n${errors.mkString("\n")}")
  }
}
