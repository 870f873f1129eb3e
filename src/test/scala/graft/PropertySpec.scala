package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed

/** Randomized cross-checks of the custom operators against brute-force
  * references — coverage the fixed testdata oracles cannot give
  * (adversarial interval layouts, random graph topologies, chain
  * components that stress pointer jumping). Deterministic seeds keep
  * the suite reproducible. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("native + chunked interval joins equal the brute-force join on random inputs") {
    val genCase = for {
      nIv <- Gen.choose(0, 40)
      nPt <- Gen.choose(0, 120)
      ivs <- Gen.listOfN(nIv, for {
        k <- Gen.choose(1L, 4L)
        s <- Gen.choose(0L, 1000L)
        len <- Gen.choose(1L, 400L)
      } yield (k, s, s + len))
      pts <- Gen.listOfN(nPt, for {
        k <- Gen.choose(1L, 4L)
        t <- Gen.choose(0L, 1400L)
      } yield (k, t))
    } yield (ivs, pts)
    (1 to 8).foreach { i =>
      val (ivs, pts) = sample(genCase, 1000L + i)
      val ivDf = ivs.toDF("user_id", "start_ms", "end_ms")
      val ptDf = pts.zipWithIndex.map { case ((k, t), id) => (k, t, id.toDouble) }
        .toDF("user_id", "ts_ms", "value")
      val expected = pts.zipWithIndex.flatMap { case ((k, t), id) =>
        ivs.filter { case (ik, s, e) => ik == k && t >= s && t < e }
          .map { case (_, s, e) => (k, s, e, t, id.toDouble) }
      }.sorted
      val chunked = graft.operators.Intervals
        .intervalJoin(ptDf, ivDf, "user_id", "ts_ms", "start_ms", "end_ms", chunkMs = 64L)
        .select("user_id", "start_ms", "end_ms", "ts_ms", "value")
        .as[(Long, Long, Long, Long, Double)].collect().sorted.toSeq
      val native = graft.plans.IntervalJoinNative
        .intervalJoin(ptDf, ivDf, "user_id", "ts_ms", "start_ms", "end_ms")
        .select("user_id", "start_ms", "end_ms", "ts_ms", "value")
        .as[(Long, Long, Long, Long, Double)].collect().sorted.toSeq
      assert(chunked == expected, s"case $i: chunked mismatch")
      assert(native == expected, s"case $i: native mismatch")
    }
  }

  test("connected components equal brute-force union-find on random graphs") {
    val genEdges = for {
      n <- Gen.choose(2, 60)
      m <- Gen.choose(0, 80)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield es.filter { case (a, b) => a != b }
    (1 to 6).foreach { i =>
      val edges = sample(genEdges, 2000L + i)
      if (edges.nonEmpty) {
        // brute-force union-find
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(x => x -> find(x)).toSeq
          .map { case (id, root) =>
            // canonical label = min node id in the component
            id -> parent.keys.filter(y => find(y) == root).min
          }.sorted
        val got = graft.dedup.Components
          .connectedComponents(edges.toDF("src", "dst"))
          .as[(Long, Long)].collect().sorted.toSeq
        assert(got == expected, s"case $i: components mismatch on ${edges.size} edges")
      }
    }
  }

  test("chain graphs converge via pointer jumping within the round cap") {
    // worst case for label propagation: one long path 0-1-2-…-N
    val n = 300
    val edges = (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val labels = graft.dedup.Components.connectedComponents(edges)
      .as[(Long, Long)].collect()
    assert(labels.length == n + 1 && labels.forall(_._2 == 0L))
  }

  test("angular helpers: normalize/diff identities on random angles") {
    val gen = Gen.listOfN(200, Gen.choose(-720.0, 720.0))
    val angles = sample(gen, 7L)
    val df = angles.zipWithIndex.map(_.swap).toDF("i", "deg")
      .withColumn("self_diff", graft.funcs.angularDiffDeg(col("deg"), col("deg")))
    val rows = df.select("deg", "self_diff").as[(Double, Double)].collect()
    rows.foreach { case (deg, selfDiff) => assert(selfDiff == 0.0, s"diff($deg, $deg) = $selfDiff") }
  }

  test("proximity geo cells: any pair within 2 km lands in the same or an adjacent cell") {
    // the losslessness claim of the (bucket, cell) equi-join: cells of
    // 0.025° lat × 0.03° lon strictly over-cover a 2 km haversine disc
    // for |lat| ≤ 50, so the 3×3 neighborhood explode misses no pair
    def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val dlat = math.toRadians(lat2 - lat1); val dlon = math.toRadians(lon2 - lon1)
      val a = math.pow(math.sin(dlat / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin(dlon / 2), 2)
      2 * 6371000.0 * math.asin(math.sqrt(a))
    }
    val genPair = for {
      lat <- Gen.choose(-50.0, 50.0)
      lon <- Gen.choose(-179.0, 179.0)
      // offsets up to ~±2.2 km in each axis — straddles the boundary
      dlat <- Gen.choose(-0.02, 0.02)
      dlon <- Gen.choose(-0.032, 0.032)
    } yield (lat, lon, lat + dlat, lon + dlon)
    (1 to 2000).foreach { i =>
      val (la1, lo1, la2, lo2) = sample(genPair, 7000L + i)
      if (hav(la1, lo1, la2, lo2) <= 2000.0) {
        assert(math.abs(math.floor(la1 / 0.025) - math.floor(la2 / 0.025)) <= 1.0,
          s"lat cells too far apart for ($la1,$lo1)-($la2,$lo2)")
        assert(math.abs(math.floor(lo1 / 0.03) - math.floor(lo2 / 0.03)) <= 1.0,
          s"lon cells too far apart for ($la1,$lo1)-($la2,$lo2)")
      }
    }
  }

  test("kmv sketch: mergeability — sketch(A ∪ B) = k-smallest-distinct(sketch(A) ∪ sketch(B))") {
    graft.functions.Native.register(spark)
    val genVals = Gen.listOfN(400, Gen.choose(0L, 300L)) // dense → heavy duplication
    def sketchOf(vs: Seq[Long]): Seq[Long] =
      vs.toDF("h").agg(expr("graft_kmv(h, 16)")).head().getSeq[Long](0).toSeq
    (1 to 10).foreach { i =>
      val a = sample(genVals, 9000L + i)
      val b = sample(genVals, 9500L + i)
      val skUnion = sketchOf(a ++ b)
      val merged = (sketchOf(a) ++ sketchOf(b)).distinct.sorted.take(16)
      val definitional = (a ++ b).distinct.sorted.take(16)
      assert(skUnion === merged)
      assert(skUnion === definitional)
    }
  }

  test("graft_gram matches a BigDecimal reference on random signed doubles (ties included)") {
    graft.functions.Native.register(spark)
    import java.math.{BigDecimal => JBD, RoundingMode}
    // HALF_UP on the exact binary value == std::round(x*1e9) for
    // |x·1e9| < 2^53 — the contract the long accumulator must meet
    def q9(x: Double): Long =
      new JBD(x).movePointRight(9).setScale(0, RoundingMode.HALF_UP).longValueExact()
    val genVec = Gen.listOfN(3, Gen.choose(-5.0, 5.0))
    (1 to 6).foreach { i =>
      val vecs = (1 to 50).map(j => sample(genVec, 11000L + 100 * i + j).toArray)
      val d = 3
      val exp = new Array[Long](1 + d + d * (d + 1) / 2)
      exp(0) = d.toLong
      vecs.foreach { v =>
        var idx = 1 + d
        for (a <- 0 until d) {
          exp(1 + a) += q9(v(a))
          for (b <- a until d) { exp(idx) += q9(v(a) * v(b)); idx += 1 }
        }
      }
      val got = vecs.map(v => Tuple1(v.toSeq)).toDF("v")
        .repartition(7)
        .agg(expr("graft_gram(v)")).head().getSeq[Long](0).toSeq
      assert(got === exp.toSeq)
    }
  }
}
