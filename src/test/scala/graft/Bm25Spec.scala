package graft

import graft.similarity.Hybrid
import org.apache.spark.sql.functions._

/** Okapi BM25 retrieval (similarity/Hybrid.scala). */
class Bm25Spec extends SparkSpec {

  private lazy val out = Hybrid.bm25(spark, sfDir).cache()

  test("dense per-probe rank lists with positive, non-increasing scores") {
    assert(out.select("probe_id").distinct().count() === 3)
    out.groupBy("probe_id").agg(count(lit(1)).as("n"), max("rank").as("mr"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("n") === r.getAs[Int]("mr").toLong)
      }
    assert(out.where(col("score") <= 0).count() === 0)
    val inversions = out.as("a").join(out.as("b"),
      col("a.probe_id") === col("b.probe_id") && col("a.rank") + 1 === col("b.rank"))
      .where(col("a.score") < col("b.score"))
    assert(inversions.count() === 0)
  }

  test("one probe-doc score matches a driver-side BM25 recomputation") {
    val top = out.orderBy("probe_id", "rank").limit(1).head()
    val (probe, docId, score) =
      (top.getAs[Long]("probe_id"), top.getAs[Long]("doc_id"), top.getAs[Double]("score"))
    def toks(id: Long): Seq[String] = Tables.documents(spark, sfDir)
      .where(col("doc_id") === id).head().getAs[String]("text").split(" ").toSeq
    val corpus = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.size.toLong).sum.toDouble / corpus.size.toDouble
    def r6d(x: Double): Double =
      java.math.BigDecimal.valueOf(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e6
    def r9d(x: Double): Double =
      new java.math.BigDecimal(x * 1e9)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e9
    val dTf = corpus(docId).groupBy(identity).map { case (t, xs) => t -> xs.size }
    val dlD = corpus(docId).size.toDouble
    val terms = toks(probe).distinct.filter(dTf.contains)
    val expected = r6d(terms.map { t =>
      val df = corpus.values.count(_.contains(t)).toDouble
      val idf = r6d(math.log((n - df + 0.5) / (df + 0.5) + 1.0))
      val tf = dTf(t).toDouble
      r9d((idf * (tf * 2.2)) / (tf + 1.2 * (0.25 + 0.75 * (dlD / avgdl))))
    }.sum)
    assert(math.abs(score - expected) < 1e-8, s"got $score expected $expected")
  }

  test("the staged postings store answers identically to the inline build, without touching text") {
    val stored = Hybrid.bm25Stored(spark, sfDir)
    assert(stored.collect().toSeq === out.collect().toSeq)
    val p = stored.queryExecution.executedPlan.toString
    // the staged store feeds the scans; the ONLY raw-text access is
    // the probes' own rows (one documents scan, probe filter pushed) —
    // no corpus tokenization pass anywhere in the query plan
    assert(p.contains("graft_bm25"), p.take(3000))
    val docScans = p.split("\n")
      .filter(l => l.contains("Scan parquet") && l.contains("documents.parquet"))
    assert(docScans.nonEmpty)
    // EVERY raw-text access is probe-pruned at the scan (the corpus
    // statistics/tokenization pass exists only in the staged store)
    docScans.foreach(l => assert(l.contains("In(doc_id, [0,1,2])"), l.take(400)))
  }

  test("term saturation: a repeated term contributes less than proportionally") {
    // BM25's defining property vs raw tf: the k1 denominator saturates
    import spark.implicits._
    val k1 = 1.2; val b = 0.75
    def w(tf: Double, dl: Double, avg: Double) =
      (tf * 2.2) / (tf + k1 * (1 - b + b * dl / avg))
    assert(w(4, 50, 50) < 2 * w(2, 50, 50))
    assert(w(2, 50, 50) < 2 * w(1, 50, 50))
  }

  test("postings compaction is result-invisible and crash-safe (the converged-store sweep, exercised)") {
    import graft.similarity.Bm25Store
    import graft.util.ManifestStore
    val base = graft.streaming.KmvStream.drainBm25(spark, sfDir)
    def postingsFiles() = ManifestStore.tableFiles(spark, base, "postings")
    def buckets() = postingsFiles().map(_.takeWhile(_ != '/')).toSet
    val before = ManifestStore.readTable(spark, base, "postings", Bm25Store.postingsSchema)
      .orderBy("t", "doc_id").collect()
    assert(postingsFiles().size > buckets().size,
      "expected one appended file set per (trigger, bucket)")
    // crash inside the sweep's publish window: a reader must keep
    // serving the pre-sweep snapshot, then the re-run completes
    ManifestStore.crashPoint = Some("publish")
    intercept[IllegalStateException] { Bm25Store.compact(spark, base) }
    ManifestStore.crashPoint = None
    val midCrash = ManifestStore.readTable(spark, base, "postings", Bm25Store.postingsSchema)
      .orderBy("t", "doc_id").collect()
    assert(midCrash.map(_.toString).toSeq == before.map(_.toString).toSeq,
      "a reader saw a crashed sweep's uncommitted state")
    Bm25Store.compact(spark, base)
    // one file per bucket, identical rows
    assert(postingsFiles().size == buckets().size,
      s"postings not 1 file/bucket: ${postingsFiles().size}")
    val after = ManifestStore.readTable(spark, base, "postings", Bm25Store.postingsSchema)
      .orderBy("t", "doc_id").collect()
    assert(after.map(_.toString).toSeq == before.map(_.toString).toSeq)
  }
}
