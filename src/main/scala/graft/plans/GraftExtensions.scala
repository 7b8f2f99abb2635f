package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union, Window => LWindow}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst extensions (SURVEY §4's two candidate rules, plus the SQL
  * registration of the engine's codegen'd expressions), registered via
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => OrEqualityJoinRewrite)
    e.injectOptimizerRule(_ => GlobalWindowGuard)
    GraftFunctions.registerAll(e)
  }
}

/** SQL front door for the custom kernels: `simhash64(tokens)`,
  * `cosine_sim(a, b)`, `dot_product(a, b)`, `shingle_hashes(tokens, n)`,
  * `minhash_sig(hashes, k)`, `winnow_fp(text, k, w)`,
  * `lcs_substring(a, b)` become plain SQL functions, so `spark.sql(...)`
  * users get the same codegen'd paths as the DataFrame API. Int
  * parameters must be foldable literals (they configure the kernel, not
  * per-row input). */
object GraftFunctions {

  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import graft.functions._

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: expected a literal INT parameter, got $other")
  }

  private def info(name: String) =
    new ExpressionInfo("graft.functions", name)

  def registerAll(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("simhash64"), info("simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    e.injectFunction((FunctionIdentifier("cosine_sim"), info("cosine_sim"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("dot_product"), info("dot_product"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("shingle_hashes"), info("shingle_hashes"),
      (args: Seq[Expression]) =>
        ShingleHashes(args(0), intLit(args(1), "shingle_hashes"))))
    e.injectFunction((FunctionIdentifier("minhash_sig"), info("minhash_sig"),
      (args: Seq[Expression]) =>
        MinHashFromHashes(args(0), intLit(args(1), "minhash_sig"))))
    e.injectFunction((FunctionIdentifier("winnow_fp"), info("winnow_fp"),
      (args: Seq[Expression]) =>
        WinnowFingerprints(args(0), intLit(args(1), "winnow_fp"),
          intLit(args(2), "winnow_fp"))))
    e.injectFunction((FunctionIdentifier("lcs_substring"),
      info("lcs_substring"),
      (args: Seq[Expression]) => LcsSubstring(args(0), args(1))))
  }
}

/** Rewrites an inner join whose condition is an OR of pure equality pairs
  * (the reference's telehealth proc x modifier join —
  * load_stage.mcaid_claim_header.R:296-309) into a UNION of equi-joins.
  *
  * Why: Catalyst can only plan an OR-condition join as a nested-loop join
  * — fine when one side broadcasts, catastrophic when both sides are big
  * (100 TB x ref-table-too-big-to-broadcast = per-row scans). Each rewritten
  * branch carries an equality, so it plans as a hash/sort-merge join and
  * shuffles on its key. Multiset semantics are preserved by conjoining each
  * branch with the NEGATION of all earlier disjuncts (a row matching two
  * disjuncts appears in exactly one branch), handling NULL semantics via
  * IsNull (NOT(NULL)=NULL would wrongly drop the row).
  *
  * Disable it like any optimizer rule, with
  * spark.sql.optimizer.excludedRules=graft.plans.OrEqualityJoinRewrite. */
object OrEqualityJoinRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        val disjuncts = splitOr(cond)
        if (disjuncts.length >= 2 && disjuncts.length <= 8 &&
            disjuncts.forall(isEquiPair(_, left, right))) {
          val branches = disjuncts.zipWithIndex.map { case (d, i) =>
            val notPrior: Seq[Expression] =
              disjuncts.take(i).map(p => Or(IsNull(p), Not(p)))
            val c = (d +: notPrior).reduce(And)
            Join(left, right, Inner, Some(c), hint)
          }
          Union(branches)
        } else j
    }

  private def splitOr(e: Expression): Seq[Expression] = e match {
    case Or(a, b) => splitOr(a) ++ splitOr(b)
    case other => Seq(other)
  }

  private def isEquiPair(e: Expression, l: LogicalPlan, r: LogicalPlan): Boolean =
    e match {
      case EqualTo(a, b) =>
        (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
          (a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet))
      case _ => false
    }
}

/** Planner guard for the reference's one Spark-hostile idiom: global
  * DENSE_RANK/unpartitioned windows (SURVEY §4, §7.5.1). Default: warn.
  * With spark.graft.failOnGlobalWindow=true the query fails fast instead of
  * silently funneling all rows through one task. */
object GlobalWindowGuard extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case w: LWindow if w.partitionSpec.isEmpty =>
        if (conf.getConfString("spark.graft.failOnGlobalWindow", "false").toBoolean)
          throw new IllegalStateException(
            "graft: unpartitioned Window would funnel all rows through one " +
              "task; partition it or unset spark.graft.failOnGlobalWindow")
        else logWarning("graft: unpartitioned Window detected — " +
          "single-partition execution hazard at scale")
      case _ => ()
    }
    plan
  }
}
