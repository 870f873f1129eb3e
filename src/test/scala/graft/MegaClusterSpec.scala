package graft

import org.apache.spark.sql.functions._

/** Duplicate-cluster buffers must be ROW-bounded: a web crawl's worst
  * case is 10^5+ byte-identical copies of one page, and the round-13
  * formulation held each cluster as a single collect_list array in one
  * aggregation buffer (unspillable, O(cluster) memory) on both the
  * MinHash signature-collapse path and the connected-components
  * grouping. The round-14 membership-self-join formulation keeps every
  * operator state one row wide; these tests drive a seeded mega-cluster
  * through the REAL operator cores and pin the join-shaped plan.
  */
class MegaClusterSpec extends SparkSpec {

  private val k = 3000

  private def megaDocs = {
    import spark.implicits._
    // k byte-identical docs (one signature group) + distinct background
    // docs that must pair with nothing
    val mega = (0 until k).map(i => (i.toLong, "aa bb cc dd ee ff gg hh"))
    val others = (0 until 50).map(i =>
      ((100000 + i).toLong, s"unique$i token$i stream$i t$i u$i v$i w$i x$i"))
    (mega ++ others).toDF("doc_id", "text")
  }

  test("minhash LSH emits exactly C(k,2) pairs for a k-doc mega-cluster") {
    val pairs = graft.dedup.Dedup.minHashLshPairs(megaDocs)
    assert(pairs.count() == k.toLong * (k - 1) / 2)
    // and the background docs never appear
    assert(pairs.where(col("id_a") >= 100000 || col("id_b") >= 100000).count() == 0)
  }

  test("minhash pair expansion is join-shaped — no cluster-sized array state") {
    val plan = graft.dedup.Dedup.minHashLshPairs(megaDocs)
      .queryExecution.executedPlan.toString
    // the collect_list formulation exploded member arrays (mem_a/mem_b/
    // members in the plan); the membership formulation must carry
    // neither the arrays nor their explodes — candidate pairs come from
    // equi-joins on gid, and the only non-singleton filter is on the
    // counted group size
    assert(!plan.contains("members"), plan.take(3000))
    assert(!plan.contains("collect_list"), plan.take(3000))
    assert(plan.contains("grp_n"), "non-singleton restriction missing:\n" + plan.take(3000))
  }

  test("connected components label a k-doc identical cluster without array state") {
    import spark.implicits._
    graft.functions.Native.register(spark)
    val docs = megaDocs
      .select(col("doc_id"), lit("en").as("lang"), lit(0L).as("size_bucket"),
        graft.dedup.Dedup.tokens.as("toks"))
    val assign = graft.dedup.Components.clusterAssignmentsOn(docs)
    val summary = assign.groupBy("component_id")
      .agg(count(lit(1)).as("n_members"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"))
      .collect()
    // identical docs collapse to ONE group → one component with every
    // member, labeled by the min doc id; distinct background docs are
    // singletons and drop out entirely
    val mega = summary.filter(_.getLong(1) == k.toLong)
    assert(mega.length == 1, summary.mkString(","))
    assert(mega.head.getLong(0) == 0L && mega.head.getLong(2) == 0L &&
      mega.head.getLong(3) == (k - 1).toLong)
    assert(summary.forall(r => r.getLong(3) < 100000L),
      "background singleton leaked into a component")
  }
}
