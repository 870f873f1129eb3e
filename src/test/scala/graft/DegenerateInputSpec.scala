package graft

import graft.operators.{Downsample, Intervals, Sessions, TimeSeries}
import org.apache.spark.sql.functions._

/** Edge-of-domain inputs for the sk_* family. Every r4 bug lived here
  * (w=0 histogram, scientific-notation GPX, empty-bucket LTTB), so
  * each degenerate shape — constant series, single row, two rows,
  * short series with empty LTTB buckets, empty filtered input — is
  * pinned against an independent in-memory reference of the operator's
  * contract, not just "doesn't crash".
  */
class DegenerateInputSpec extends SparkSpec {
  import spark.implicits._

  /** rows: (event_id, ts_ms, user_id, event_type, value) → a dir with
    * the driver's events.parquet layout (ts stored as raw nanos). */
  private def writeEvents(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_degen").toString
    rows.toDF("event_id", "ts_ms", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_ms") * lit(1000000L))
      .withColumn("props", lit(null).cast("string"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(3) // multiple files → some partitions empty per series
      .write.mode("overwrite").parquet(dir + "/events.parquet")
    dir
  }

  private val base = 1704067200000L // 2024-01-01T00:00:00Z

  // const: 30 identical values; single: n=1; pair: n=2;
  // short: n=10 (8 mid points over 50 buckets → most buckets empty)
  private val seriesRows: Seq[(Long, Long, Long, String, Double)] = {
    val const = (0 until 30).map(i => (100L + i, base + i * 1000L, 1L, "const", 42.0))
    val single = Seq((200L, base + 5000L, 2L, "single", 7.0))
    val pair = Seq((300L, base, 3L, "pair", 1.0), (301L, base + 9000L, 3L, "pair", 9.0))
    val shortVals = Seq(5.0, 1.0, 8.0, 3.0, 9.0, 2.0, 7.0, 4.0, 6.0, 5.0)
    val short = shortVals.zipWithIndex.map { case (v, i) =>
      (400L + i, base + i * 60000L, 4L, "short", v)
    }
    const ++ single ++ pair ++ short
  }

  /** Independent fixed-anchor LTTB: anchor = previous bucket mean
    * (first/last sample at the edges), NB=50, argmax tie-break
    * (area desc, t, eid) — mirrors Downsample.lttb's contract. */
  private def refLttb(pts: Seq[(Long, Long, Double)]): Seq[(Long, Double)] = {
    val s = pts.sortBy(p => (p._1, p._2))
    val n = s.size
    val first = s.head; val last = s.last
    val ends = Seq((first._1, first._3), (last._1, last._3))
    if (n <= 2) return ends.sortBy(_._1)
    val mid = s.slice(1, n - 1).zipWithIndex
      .map { case (p, i) => (p, i.toLong * 50L / (n - 2)) }
    val byK = mid.groupBy(_._2).toSeq.sortBy(_._1)
    val means = byK.map { case (k, ps) =>
      (ps.map(_._1._1.toDouble).sum / ps.size, ps.map(_._1._3).sum / ps.size)
    }
    val picks = byK.zipWithIndex.map { case ((_, ps), i) =>
      val (paT, paV) = if (i == 0) (first._1.toDouble, first._3) else means(i - 1)
      val (nT, nV) = if (i == byK.size - 1) (last._1.toDouble, last._3) else means(i + 1)
      ps.map { case ((t, eid, v), _) =>
        val area = math.abs((paT - nT) * (v - paV) - (paT - t.toDouble) * (nV - paV))
        (area, t, eid, v)
      }.minBy { case (a, t, e, _) => (-a, t, e) } match { case (_, t, _, v) => (t, v) }
    }
    ((first._1, first._3) +: picks :+ ((last._1, last._3))).sortBy(_._1)
  }

  lazy val dir: String = writeEvents(seriesRows)

  test("lttb: constant, single-row, two-row, and empty-bucket series match the reference") {
    val out = Downsample.lttb(spark, dir)
      .select("event_type", "ts_ms", "value")
      .as[(String, Long, Double)].collect().toSeq
      .groupBy(_._1).map { case (k, v) => k -> v.map(r => (r._2, r._3)).sortBy(identity) }
    val in = seriesRows.groupBy(_._4)
    for ((etype, rows) <- in) {
      val expected = refLttb(rows.map(r => (r._2, r._1, r._5))).sorted
      assert(out(etype) == expected, s"$etype: ${out(etype)} != $expected")
    }
    // single-row series keeps the duplicated endpoint on both sides
    assert(out("single").size == 2)
    // short series (n=10) emits first + 8 picks + last, not 52
    assert(out("short").size == 10)
  }

  test("ema: streaming fold matches the in-memory recurrence on every series") {
    val out = TimeSeries.ema(spark, dir)
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val expected = seriesRows.groupBy(r => (r._3, r._4)).map { case (k, rows) =>
      val vs = rows.sortBy(r => (r._2, r._1)).map(_._5)
      k -> BigDecimal(vs.tail.foldLeft(vs.head)((acc, x) => acc * 0.8 + x * 0.2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out == expected, s"$out != $expected")
    assert(out((1L, "const")) == 42.0) // EMA of a constant is the constant
  }

  test("threshold hysteresis: greedy fires match the reference; sub-threshold rows ignored") {
    // user 10: 12 qualifying events 6h apart → fires at 0h, 24h, 48h
    // user 11: one qualifying event; user 12: only sub-threshold rows
    val h = Seq.tabulate(12)(i => (500L + i, base + i * 21600000L, 10L, "error", 200.0)) ++
      Seq((600L, base + 1000L, 11L, "error", 151.0)) ++
      Seq((700L, base, 12L, "error", 150.0), (701L, base + 1000L, 12L, "error", 10.0))
    val hdir = writeEvents(h)
    val out = Sessions.thresholdHysteresis(spark, hdir)
      .as[(Long, Long)].collect().toSeq.sorted
    val expected = Seq(
      (10L, base), (10L, base + 86400000L), (10L, base + 172800000L),
      (11L, base + 1000L))
    assert(out == expected, s"$out != $expected")
  }

  test("histogram: constant series (w=0) lands in bin 0, no NaN divergence") {
    val row = Intervals.skHistogram(spark, dir)
      .where(col("event_type") === "const").collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("bin") == 0L && row(0).getAs[Long]("n") == 30L)
    assert(row(0).getAs[Double]("bin_lo") == 42.0 && row(0).getAs[Double]("bin_hi") == 42.0)
  }

  test("z-score: constant and single-row series are excluded, never NaN/Inf") {
    val out = graft.operators.Analytics.anomalyZscore(spark, dir).collect()
    // σ undefined for const (zero variance) and single (n=1) — no rows
    assert(!out.exists(r => Set("const", "single").contains(r.getAs[String]("event_type"))))
    out.foreach { r =>
      val z = r.getAs[Double]("z")
      assert(!z.isNaN && !z.isInfinity, s"unstable z: $r")
    }
  }

  test("trend slope: single-point series yields NULL slope; constant series yields 0") {
    val rows = graft.operators.Analytics.trendSlope(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        Option(r.getAs[java.lang.Double]("slope_per_day"))).toMap
    assert(rows("single").isEmpty, "n=1 series must have an undefined slope")
    assert(rows("const").contains(0.0), "constant series over varying ts slopes 0")
    assert(rows("short").isDefined)
  }

  test("empty filtered input: sessionization and proximity yield zero rows, not errors") {
    assert(Sessions.episodes(spark, dir).count() == 0) // no 'click' events
    assert(graft.spatial.Spatial.proximityJoin(spark, dir).count() == 0) // no 'view' fixes
    assert(TimeSeries.sma(spark, dir).count() == seriesRows.size)
  }

  test("pca: an empty embedding corpus fails loudly, not with an index error") {
    val empty = java.nio.file.Files.createTempDirectory("graft_degen_pca").toString
    Tables.embeddings(spark, sfDir).limit(0)
      .write.mode("overwrite").parquet(empty + "/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.similarity.Pca.embedPca(spark, empty)
    }
    assert(e.getMessage.contains("empty embedding corpus"))
  }

  test("kmv overlap: a single-source corpus yields zero pair rows, not an error") {
    val one = java.nio.file.Files.createTempDirectory("graft_degen_kmv").toString
    Tables.documents(spark, sfDir).where(col("source") === "src0")
      .write.mode("overwrite").parquet(one + "/documents.parquet")
    assert(graft.dedup.KmvOverlap.kmvOverlap(spark, one).count() === 0)
  }

  test("kmeans E-step: a zero-norm or NaN centroid never captures a row") {
    graft.functions.DotProduct.register(spark)
    val e = Seq((1L, Seq(1.0, 0.0), 1.0), (2L, Seq(0.0, 1.0), 1.0))
      .toDF("vec_id", "v", "norm2")
    // cids 1 and 2 fold first: cid 1 has norm 0 (its cosine is 0/0),
    // cid 2 a NaN element (its cosine is NaN, which Spark orders above
    // every number)
    val cents = Seq((1L, Seq(0.0, 0.0), 0.0),
        (2L, Seq(Double.NaN, 1.0), Double.NaN), (3L, Seq(1.0, 1.0), 2.0))
      .toDF("cid", "vc", "cnorm2")
    val got = graft.similarity.Embeddings.kmeansEStep(e, cents)
      .select("vec_id", "cid", "ccos").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 3L, 0.707107), (2L, 3L, 0.707107)), got)
  }
}
