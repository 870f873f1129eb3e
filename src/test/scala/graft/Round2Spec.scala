package graft

import graft.operators.AsOf
import graft.dedup.Components
import graft.text.Pipeline
import org.apache.spark.sql.functions._

/** Specs for the round-2 operators: as-of join, gap fill, coverage,
  * connected components, and the corpus-pipeline steps. */
class Round2Spec extends SparkSpec {

  import spark.implicits._

  test("asOfJoin picks the latest quote at-or-before each probe, per key") {
    val quotes = Seq(
      (1L, 100L, 10.0, 1L), (1L, 200L, 20.0, 2L), (1L, 200L, 25.0, 3L),
      (2L, 150L, 99.0, 4L))
      .toDF("user_id", "ts_ms", "value", "event_id")
    val probes = Seq(
      (10L, 1L, 50L, 0.0),   // before any quote → null
      (11L, 1L, 100L, 0.0),  // exactly at quote ts → that quote
      (12L, 1L, 199L, 0.0),  // between → earlier
      (13L, 1L, 200L, 0.0),  // tie ts with two quotes → max event_id wins (25.0)
      (14L, 1L, 999L, 0.0),  // after all → latest
      (15L, 2L, 149L, 0.0))  // other key, before its quote → null
      .toDF("event_id", "user_id", "ts_ms", "value")
    val out = AsOf.asOfJoin(probes, quotes, "user_id", "ts_ms", "value")
      .collect().map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Double]))
      .toMap
    assert(out(10L).isEmpty)
    assert(out(11L).contains(10.0))
    assert(out(12L).contains(10.0))
    assert(out(13L).contains(25.0))
    assert(out(14L).contains(25.0))
    assert(out(15L).isEmpty)
  }

  test("gapFill produces a dense grid with LOCF-filled gaps") {
    val df = AsOf.gapFill(spark, sfDir)
    val rows = df.where(col("user_id") === df.select(min("user_id")).as[Long].head())
      .orderBy("bucket_ms").collect()
    // grid is dense: consecutive buckets differ by exactly 1h
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) - a.getLong(1) == 3600000L)
    }
    // first row is an observation (grid starts at the series' own min)
    assert(!rows.head.getBoolean(4))
    // every gap row carries forward the previous filled value
    rows.sliding(2).foreach { case Array(a, b) =>
      if (b.getBoolean(4)) assert(b.getDouble(3) == a.getDouble(3))
    }
    assert(rows.exists(_.getBoolean(4)), "expected at least one gap at sf0.001")
  }

  test("connectedComponents labels each node with its component min") {
    // two components {1,2,3,9} (chain) and {5,7}, singleton edges none
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 9L), (5L, 7L)).toDF("src", "dst")
    val got = Components.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 7L -> 5L))
  }

  test("connectedComponents converges on a long chain within the round cap") {
    val n = 12
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val got = Components.connectedComponents(edges).collect()
    assert(got.length == n)
    assert(got.forall(_.getLong(1) == 1L))
  }

  test("connectedComponents of an empty edge list is empty, not a crash") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Components.connectedComponents(empty).count() == 0)
  }

  test("sampleHash is deterministic and stratified") {
    val a = Pipeline.sampleHash(spark, sfDir).collect()
    val b = Pipeline.sampleHash(spark, sfDir).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    val byLang = a.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // en downsampled harder than the rest (20% vs 50% nominal)
    val (enTot, enKept) = byLang("en")
    assert(enKept.toDouble / enTot < 0.35)
  }

  test("packChunks: chunks are contiguous, complete, and bounded") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val chunks = Pipeline.packChunks(spark, sfDir).collect()
    // every doc lands in exactly one chunk
    assert(chunks.map(_.getLong(2)).sum == docs.length)
    // per source: token totals conserved
    val gotTokens = chunks.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(3)).sum)
    val wantTokens = docs.groupBy(_._2).view.mapValues(_.map(_._3.toLong).sum)
    assert(gotTokens.toMap == wantTokens.toMap)
    // chunk ids per source are 0..k contiguous
    chunks.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.toSeq == (0L until ids.length).toSeq)
    }
  }

  test("kmeansFit converges to a deterministic stable clustering") {
    val vecs = Tables.embeddings(spark, sfDir)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("norm2", expr(
        "aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, vv) -> acc + vv)"))
      .select("vec_id", "v", "norm2")
    val a = graft.similarity.Embeddings.kmeansFit(vecs, k = 5, maxIters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val b = graft.similarity.Embeddings.kmeansFit(vecs, k = 5, maxIters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(a.toSeq == b.toSeq, "re-running k-means must reproduce the clustering")
    val n = vecs.count()
    assert(a.length == n, "every vector assigned")
    val sizes = a.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.size > 1, "more than one non-empty cluster")
  }

  test("angle converters match the reference semantics") {
    import graft.funcs._
    val df = Seq(
      (-30.0, 10.0, 350.0),  // normalize, diff across 0
      (370.0, 350.0, 10.0),  // wrap forward
      (0.0, 90.0, 270.0))
      .toDF("a", "x", "y")
      .select(round(angularDiffDeg(col("x"), col("y")), 6).as("d"))
      .collect()
    assert(df(0).getDouble(0) == -20.0)  // 10 -> 350 shortest is -20 (counter-clockwise)
    assert(df(1).getDouble(0) == 20.0)   // 350 -> 10 crosses 0 clockwise
    assert(df(2).getDouble(0) == -180.0) // 90 -> 270 is exactly opposite: closed form picks -180
  }

  test("quality_gopher keep flag matches its own emitted metrics") {
    val rows = Pipeline.qualityGopher(spark, sfDir).collect()
    rows.foreach { r =>
      val want = r.getInt(1) >= 30 && r.getInt(1) <= 300 &&
        r.getDouble(2) >= 2.0 && r.getDouble(2) <= 8.0 &&
        r.getInt(3) >= 2 && r.getDouble(4) >= 0.3
      assert(r.getBoolean(5) == want, s"doc ${r.getLong(0)}")
    }
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)),
      "gate should both keep and drop at sf0.001")
  }
}
