package graft.functions

import graft.plans.{AsOfJoinStrategy, IntervalJoinStrategy}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.IntegerType

/** The one registry of graft's native Catalyst functions and planner
  * strategies. Each function is listed once — identifier, usage text
  * and an arity-checked builder — and both install paths read this
  * table:
  *  - per session, at runtime: [[register]] (every library entry point
  *    calls it on the session it is given);
  *  - per deployment: `spark.sql.extensions=graft.GraftExtensions`,
  *    whose `apply` loops over [[functions]] and [[strategies]]. */
object Native {

  /** One SQL function: `build` runs only after the argument count
    * matched `params`, so every entry reports a wrong call the same
    * way instead of failing inside `exprs(i)`. */
  private[graft] final case class Fn(name: String, cls: Class[_], params: Seq[String],
      usage: String)(build: Seq[Expression] => Expression) {
    val id: FunctionIdentifier = FunctionIdentifier(name)
    val info: ExpressionInfo = new ExpressionInfo(cls.getName, null, name,
      s"_FUNC_(${params.mkString(", ")}) - $usage", "")
    val builder: Seq[Expression] => Expression = exprs => {
      val n = params.size
      if (exprs.size != n) throw new IllegalArgumentException(
        s"$name expects $n argument${if (n == 1) "" else "s"} " +
          s"(${params.mkString(", ")}), got ${exprs.size}")
      build(exprs)
    }
  }

  private[graft] val functions: Seq[Fn] = Seq(
    Fn("graft_polyhash", classOf[PolyHash], Seq("str", "mult"),
      "Polynomial rolling hash (h*mult + byte) % 1000000007 over the " +
        "string's bytes as BIGINT, one codegen'd byte loop.")(
      e => PolyHash(e(0), e(1))),
    Fn("graft_jaccard", classOf[JaccardSim], Seq("a", "b"),
      "Exact Jaccard similarity of two SORTED-DISTINCT string arrays " +
        "via one merge walk; inputs must be array_sort(array_distinct(...)).")(
      e => JaccardSim(e(0), e(1))),
    Fn("graft_dot", classOf[DotProduct], Seq("a", "b"),
      "Dot product of two ARRAY<DOUBLE> in index order; NULL on a length " +
        "mismatch or a NULL element.")(
      e => DotProduct(e(0), e(1))),
    Fn("graft_l2sq", classOf[L2Distance], Seq("a", "b"),
      "Squared L2 distance of two ARRAY<DOUBLE> in index order; NULL on a " +
        "length mismatch or a NULL element.")(
      e => L2Distance(e(0), e(1))),
    // the dense-elements contract is an UNCHECKED assertion — spelled
    // out where external callers (DESCRIBE FUNCTION) will see it
    Fn("graft_dense", classOf[KnownNonNullElements], Seq("arr"),
      "Asserts the array's elements are non-null so downstream codegen " +
        "drops per-element null checks. UNCHECKED: feeding an array that " +
        "does contain nulls yields undefined values, not NULL.")(
      e => KnownNonNullElements(e(0))),
    Fn("graft_ngrams", classOf[NGrams], Seq("tokens", "n"),
      "Space-joined n-grams of a string array in one codegen'd pass; n " +
        "must be an INT literal (it shapes the generated loop). Null " +
        "elements are skipped concat_ws-style: _FUNC_(array('a', NULL, " +
        "'c'), 3) yields array('a c').")(
      e => e(1) match {
        case Literal(v: Int, IntegerType) => NGrams(e(0), v)
        case other => throw new IllegalArgumentException(
          s"graft_ngrams: n must be an INT literal, got $other")
      }),
    Fn("graft_overlap", classOf[OverlapCount], Seq("a", "b"),
      "|A intersect B| of two SORTED-DISTINCT string arrays as BIGINT via " +
        "one merge walk (the containment/overlap-coefficient primitive).")(
      e => OverlapCount(e(0), e(1))),
    Fn("graft_topk", classOf[BoundedTopK], Seq("score", "id", "k"),
      "Aggregate: the k best (score DESC, id ASC) pairs per group as " +
        "ARRAY<STRUCT<score, id>>, best-first; a k-bounded heap that " +
        "partial-aggregates map-side. k must be a positive INT literal.")(
      e => BoundedTopK(e(0), e(1), e(2)).toAggregateExpression()),
    Fn("graft_gram", classOf[GramMatrix], Seq("v"),
      "Aggregate: the exact scaled-long raw moments (sums and upper-" +
        "triangular second moments) of a fixed-dimension ARRAY<DOUBLE> " +
        "column in one fixed-size buffer.")(
      e => GramMatrix(e(0)).toAggregateExpression()),
    Fn("graft_kmv", classOf[KmvSketch], Seq("hash", "k"),
      "Aggregate: the k smallest DISTINCT values of a BIGINT hash column, " +
        "ascending, as ARRAY<BIGINT> (a mergeable bottom-k sketch).")(
      e => KmvSketch(e(0), e(1)).toAggregateExpression()))

  /** The whole-operator joins: each plans its own logical node and
    * nothing else. */
  private[graft] val strategies: Seq[SparkStrategy] =
    Seq(AsOfJoinStrategy, IntervalJoinStrategy)

  /** Install every graft function and strategy on `spark` (idempotent;
    * a session built with [[graft.GraftExtensions]] already holds the
    * functions). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { f =>
      if (!registry.functionExists(f.id)) registry.registerFunction(f.id, f.info, f.builder)
    }
    val missing = strategies.filterNot(spark.experimental.extraStrategies.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ missing
  }
}
