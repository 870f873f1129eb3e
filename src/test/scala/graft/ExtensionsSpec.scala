package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The spark.sql.extensions entry point must give a fresh session the
  * graft-native functions without any runtime register() call, and
  * both install paths must read the one [[graft.functions.Native]]
  * table: same functions, same strategies, same errors. */
class ExtensionsSpec extends SparkSpec {

  private val graftFunctions = Set("graft_polyhash", "graft_jaccard", "graft_dot",
    "graft_l2sq", "graft_dense", "graft_ngrams", "graft_overlap", "graft_topk",
    "graft_gram", "graft_kmv")

  /** A fresh session built with the extension, and a fresh plain
    * session (no extensions, its own registry) given Native.register. */
  private lazy val paths: Seq[(String, SparkSession)] = {
    val shared = spark
    val plain = shared.newSession()
    assert(plain.sessionState.functionRegistry.listFunction()
      .forall(!_.funcName.startsWith("graft_")), "plain session starts without graft functions")
    graft.functions.Native.register(plain)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-paths")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      Seq("extension" -> ext, "Native.register" -> plain)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("both install paths hold the same ten functions and both strategies") {
    val seen = paths.map { case (path, s) =>
      val registry = s.sessionState.functionRegistry
      val fns = registry.listFunction().map(_.funcName).filter(_.startsWith("graft_")).toSet
      assert(fns == graftFunctions, s"$path: $fns")
      val strategies = s.sessionState.planner.strategies
      assert(strategies.contains(graft.plans.AsOfJoinStrategy), path)
      assert(strategies.contains(graft.plans.IntervalJoinStrategy), path)
      val usages = graftFunctions.toSeq.sorted
        .map(f => registry.lookupFunction(FunctionIdentifier(f)).map(_.getUsage))
      // every function resolves and evaluates: the same answers on both paths
      val scalars = s.sql(
        """SELECT graft_polyhash('abc', 31), graft_jaccard(array('a','b'), array('b','c')),
          |  graft_dot(array(1D, 2D), array(3D, 4D)), graft_l2sq(array(1D, 2D), array(3D, 4D)),
          |  graft_dense(array(1D, 2D)), graft_ngrams(array('a','b','c'), 2),
          |  graft_overlap(array('a','b'), array('b','c'))""".stripMargin).head().toString
      val aggs = s.sql(
        """SELECT graft_topk(sc, id, 2), graft_gram(v), graft_kmv(id, 2) FROM VALUES
          |  (1.0D, 1L, array(1.0D, 2.0D)), (3.0D, 2L, array(0.5D, 1.0D)),
          |  (2.0D, 3L, array(0.25D, 4.0D)) AS t(sc, id, v)""".stripMargin).head().toString
      (usages, scalars, aggs)
    }
    assert(seen.distinct.size == 1, s"the paths differ: $seen")
    assert(seen.head._1.forall(_.exists(_.nonEmpty)))
  }

  test("a wrong-arity call fails with the arity message on both paths") {
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).toSeq
    for ((path, s) <- paths; (call, want) <- Seq(
        "graft_dense()" -> "graft_dense expects 1 argument (arr), got 0",
        "graft_dot(array(1D))" -> "graft_dot expects 2 arguments (a, b), got 1")) {
      val e = intercept[Exception] { s.sql(s"SELECT $call").collect() }
      assert(messages(e).exists(_.contains(want)), s"$path $call: ${messages(e)}")
    }
  }

  test("GraftExtensions injects graft_polyhash into a new session") {
    val shared = spark // force shared session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val got = s2.sql("SELECT graft_polyhash('abc', 31) AS h").head().getLong(0)
      val want = "abc".getBytes.foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % 1000000007L)
      assert(got == want)
      // graft_dense is arity-checked: a zero-arg call must raise a real
      // arity error, not a bare NoSuchElementException from exprs.head
      val e = intercept[Exception] { s2.sql("SELECT graft_dense()").collect() }
      assert(e.getMessage.contains("1 argument") || e.getMessage.contains("graft_dense"),
        s"unexpected error: ${e.getMessage}")
      assert(s2.sql("SELECT graft_dense(array(double(1.0), double(2.0))) AS v").head()
        .getSeq[Double](0).toList == List(1.0, 2.0))
      // round-12 injections: merge-walk overlap + bounded top-k agg
      assert(s2.sql("SELECT graft_overlap(array('a','b','c'), array('b','c','d')) AS o")
        .head().getLong(0) == 2L)
      val top = s2.sql(
        """SELECT graft_topk(s, i, 2) AS t FROM VALUES
          |  (1.0D, 1L), (3.0D, 2L), (2.0D, 3L) AS v(s, i)""".stripMargin)
        .head().getSeq[org.apache.spark.sql.Row](0)
      assert(top.map(r => (r.getDouble(0), r.getLong(1))) == Seq((3.0, 2L), (2.0, 3L)))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
