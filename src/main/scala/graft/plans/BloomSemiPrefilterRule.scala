package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

import graft.sketches.{BloomBuildAgg, BloomMightContain, SketchKey}

/**
 * Optimizer rule: pre-filter the probe side of a `LEFT SEMI JOIN` with a
 * Bloom filter built from the build side — the reference's
 * stream-membership idea (SURVEY.md §2c) promoted to a Catalyst rewrite
 * (SURVEY.md §4 / §7 M6).
 *
 *   left SEMI JOIN right ON lk = rk
 *     ⇒ Filter(bloom_might_contain(<scalar-subquery: bloom_agg(rk) over
 *       right>, lk), left) SEMI JOIN right ON lk = rk
 *
 * The scalar subquery executes as its own job before the main query (the
 * two-job sketch pattern, SURVEY.md §3.3) and its result — the serialized
 * filter — is inlined as a literal, so the probe runs inside whole-stage
 * codegen on every scan task. No false negatives (Bloom 1970) means the
 * rewrite is semantics-preserving: the trailing semi join removes the
 * ≤fpp false positives.
 *
 * At 100 TB this is the difference between shuffling the full probe side
 * and shuffling the ~selectivity fraction that survives the bloom probe.
 * Spark's own runtime filter (`InjectRuntimeFilter`) does this for
 * shuffle equi-joins; this rule extends the idea to semi joins whose
 * build side is below a size threshold, and demonstrates the engine's
 * optimizer-extension surface.
 *
 * Guards: conf-gated, fires once per join (structural idempotence check),
 * only for supported key types, only when stats say the build side is
 * small and the probe side is ≥ `ratio`× larger.
 */
case class BloomSemiPrefilterRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def confBool(k: String, dflt: Boolean): Boolean =
    spark.conf.getOption(k).map(_.toBoolean).getOrElse(dflt)
  private def confLong(k: String, dflt: Long): Long =
    spark.conf.getOption(k).map(_.toLong).getOrElse(dflt)

  /** Already rewritten? Subtree-wide structural check (the probe filter
    * may have been pushed/merged below Projects by later rules). */
  private def alreadyFiltered(left: LogicalPlan, key: Expression): Boolean =
    left.exists {
      case Filter(cond, _) =>
        cond.exists {
          case BloomMightContain(_, probe) => probe.semanticEquals(key)
          case _ => false
        }
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!confBool("spark.graft.bloomPrefilter.enabled", false)) return plan
    val maxBuildBytes = confLong("spark.graft.bloomPrefilter.maxBuildBytes", 128L << 20)
    val minRatio = confLong("spark.graft.bloomPrefilter.minProbeRatio", 4L)

    plan.transformUp {
      case j @ Join(left, right, LeftSemi, Some(EqualTo(a, b)), hint)
          if SketchKey.ProbeTypes.contains(a.dataType) =>
        // orient the equality: lk from the probe (left), rk from the build
        val oriented = (a.references.subsetOf(left.outputSet) &&
            b.references.subsetOf(right.outputSet), a, b) match {
          case (true, lk, rk) => Some((lk, rk))
          case (false, lk, rk)
              if lk.references.subsetOf(right.outputSet) &&
                 rk.references.subsetOf(left.outputSet) => Some((rk, lk))
          case _ => None
        }
        oriented match {
          case Some((lk, rk))
              if !alreadyFiltered(left, lk) &&
                 right.stats.sizeInBytes <= maxBuildBytes &&
                 left.stats.sizeInBytes >= right.stats.sizeInBytes * minRatio =>
            val expectedItems = right.stats.rowCount
              .map(_.toLong).getOrElse(1000000L).max(1000L)
            val bloomAgg = Aggregate(Nil, Seq(Alias(
              new BloomBuildAgg(rk, Literal(expectedItems), Literal(0.01))
                .toAggregateExpression(), "graft_bloom")()), right)
            val probe = BloomMightContain(ScalarSubquery(bloomAgg), lk)
            Join(Filter(probe, left), right, LeftSemi, j.condition, hint)
          case _ => j
        }
    }
  }
}
