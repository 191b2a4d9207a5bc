package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Thrown by `spark.graft.lint=enforce` when a submitted plan carries an
  * error-severity scale hazard. */
class GraftLintException(msg: String) extends RuntimeException(msg)

/** Session-boundary enforcement of the engine's plan discipline: an
  * optimizer rule (injected by [[GraftExtensions]] into the PRE-CBO
  * batch — runs ONCE per query on the post-operator-optimization plan,
  * never inside the fixpoint batches where it would re-lint every
  * iteration of partially-optimized shapes) that screens EVERY
  * query submitted through the session — not just the operators this
  * repo registers and CI-lints — for the [[PlanLint]] shapes that stall
  * a 1000-executor cluster (partition-less corpus windows, unhinted
  * cartesians, repartition(1) funnels). This is the fleet-wide version
  * of `tools.Dev lint` and PlanLintSpec: the CLI gates this repo's
  * queries; the rule gates a USER's ad-hoc ones at planning time, where
  * a 100 TB mistake is cheapest to catch.
  *
  * `spark.graft.lint` contract:
  *  - `off` (rule default for externally-built sessions; [[graft.GraftSession]]
  *    factory sessions default to `warn`) — pass-through, zero overhead
  *    beyond the conf read;
  *  - `warn`  — error-severity findings log to the driver log once per
  *    distinct plan, the query runs;
  *  - `enforce` — error-severity findings throw [[GraftLintException]]
  *    before a single task launches.
  *
  * The rule NEVER rewrites the plan (identity transform — safe under the
  * optimizer's fixpoint batches). Only `error` findings gate: warnings
  * (UDFs, unbounded collects, presentation sorts) stay advisory
  * everywhere. */
object GraftLintRule extends Rule[LogicalPlan] {
  private val Mode = "spark.graft.lint"
  // semanticHashes already warned (dedup is best-effort: a miss repeats a
  // log line, never changes semantics) — hard-capped so a long-lived
  // JVM's warn-mode session cannot grow it without bound
  private val WarnedCap = 8192
  private val warned = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]())

  override def apply(plan: LogicalPlan): LogicalPlan = {
    conf.getConfString(Mode, "off") match {
      case "off" => ()
      case mode =>
        val errors = PlanLint.lintPlan(plan).filter(_.severity == "error")
        if (errors.nonEmpty) {
          val msg = s"graft lint: ${errors.size} scale hazard(s):\n  " +
            errors.mkString("\n  ")
          if (mode == "enforce") throw new GraftLintException(msg)
          else {
            if (warned.size() > WarnedCap) warned.clear()
            if (warned.add(plan.semanticHash())) logWarning(msg)
          }
        }
    }
    plan // identity: this rule observes, it never rewrites
  }
}
