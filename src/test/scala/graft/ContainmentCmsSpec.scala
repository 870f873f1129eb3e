package graft

import graft.dedup.Containment
import graft.operators.Cms
import org.apache.spark.sql.functions._

/** Containment dedup (dedup/Containment.scala), count-min sketch
  * (operators/Cms.scala), and the graft_overlap primitive. */
class ContainmentCmsSpec extends SparkSpec {

  test("graft_overlap: merge-walk intersection count on sorted-distinct arrays") {
    graft.functions.Native.register(spark)
    val r = spark.sql(
      """SELECT graft_overlap(array('a','b','c','e'), array('b','c','d','e')) AS o1,
        |       graft_overlap(array('a'), array('b')) AS o2,
        |       graft_overlap(CAST(array() AS ARRAY<STRING>), array('b')) AS o3""".stripMargin).collect().head
    assert(r.getLong(0) === 3)
    assert(r.getLong(1) === 0)
    assert(r.getLong(2) === 0)
  }

  test("containment: every reported pair really clears the threshold (recomputed via intersect)") {
    val out = Containment.containment(spark, sfDir).cache()
    assert(out.count() > 0) // the near-dup-saturated corpus must yield pairs
    // recompute overlap through Spark's builtin array_intersect path
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr(
        "array_sort(array_distinct(transform(sequence(1, size(split(text, ' ')) - 4), i -> array_join(slice(split(text, ' '), i, 5), ' '))))")
        .as("sh"))
    val checked = out
      .join(docs.select(col("doc_id").as("contained_id"), col("sh").as("a")), "contained_id")
      .join(docs.select(col("doc_id").as("container_id"), col("sh").as("b")), "container_id")
      .withColumn("ov2", size(array_intersect(col("a"), col("b"))).cast("long"))
    assert(checked.where(col("overlap") =!= col("ov2")).count() === 0)
    assert(out.where(col("containment") < 0.8).count() === 0)
    out.unpersist()
  }

  test("containment is asymmetric: the prefix filter loses nothing vs a brute-force pass") {
    // brute force over all pairs at sf0.001 and compare exactly
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr(
        "array_sort(array_distinct(transform(sequence(1, size(split(text, ' ')) - 4), i -> array_join(slice(split(text, ' '), i, 5), ' '))))")
        .as("sh"))
    val a = docs.select(col("doc_id").as("contained_id"), col("sh").as("a"))
    val b = docs.select(col("doc_id").as("container_id"), col("sh").as("b"))
    val brute = a.crossJoin(b)
      .where(col("contained_id") =!= col("container_id"))
      .withColumn("containment",
        funcs.rN(size(array_intersect(col("a"), col("b"))).cast("double") / size(col("a")), 6))
      .where(col("containment") >= 0.8)
      .select("contained_id", "container_id")
    val fast = Containment.containment(spark, sfDir).select("contained_id", "container_id")
    assert(fast.exceptAll(brute).count() === 0)
    assert(brute.exceptAll(fast).count() === 0)
  }

  test("cms: estimates dominate exact counts (one-sided error) and top-k is exact") {
    val out = Cms.cmsTopK(spark, sfDir).collect()
    assert(out.length === 20)
    out.foreach { r =>
      assert(r.getAs[Long]("cms_estimate") >= r.getAs[Long]("exact_n"))
      assert(r.getAs[Long]("overestimate") ===
        r.getAs[Long]("cms_estimate") - r.getAs[Long]("exact_n"))
    }
    // ranks ordered by exact count desc then gram
    val pairs = out.map(r => (r.getAs[Long]("exact_n"), r.getAs[String]("gram")))
    assert(pairs.sortBy { case (n, g) => (-n, g) }.toSeq === pairs.toSeq)
  }
}
