package graft

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.spatial.Templates
import org.apache.spark.sql.functions._

/** Round-5 second-batch operators: incremental batch-vs-store dedup,
  * overlapping audio-window plumbing, fuel-efficiency template feed. */
class Round5Spec extends SparkSpec {

  test("incremental dedup labels match an independently computed partition") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val storeHashes = docs.filter(_._1 % 10 != 0).map(_._2).toSet
    val batch = docs.filter(_._1 % 10 == 0).sortBy(_._1)
    val firstOfHash = batch.groupBy(_._2).map { case (h, ds) => h -> ds.map(_._1).min }
    val expected = batch.map { case (id, h) =>
      id -> (if (storeHashes.contains(h)) "dup_store"
             else if (firstOfHash(h) != id) "dup_batch"
             else "new")
    }.toMap
    val got = Dedup.incrementalDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("incremental dedup never shuffles the store side") {
    val p = Dedup.incrementalDedup(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the store scan participates only through broadcast joins — the
    // big side must not hit an exchange before its semi-join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("LeftSemi"), p.take(3000))
  }

  test("audio segments tile with 50% overlap and cover every byte") {
    val doc = Tables.documents(spark, sfDir)
      .orderBy("doc_id").select("doc_id", "text").head()
    val (id, text) = (doc.getLong(0), doc.getString(1))
    val segs = Multimodal.audioSegments(spark, sfDir)
      .where(col("doc_id") === id).orderBy("seg_start").collect()
    val expStarts = 0L to ((text.length - 1) / 100).toLong * 100 by 100L
    assert(segs.map(_.getLong(1)).toSeq == expStarts.toSeq)
    segs.foreach { s =>
      val start = s.getLong(1).toInt
      val exp = text.substring(start, math.min(start + 200, text.length))
      assert(s.getLong(2) == exp.length.toLong) // seg_len
      val rms = s.getDouble(4)
      assert(rms >= 0.0 && rms < 1.0)
    }
    // consecutive windows share their second/first half (the overlap)
    segs.sliding(2).foreach {
      case Array(a, b) =>
        val sa = a.getLong(1).toInt; val sb = b.getLong(1).toInt
        assert(sb - sa == 100)
      case _ =>
    }
  }

  test("filtered ANN: pre-filter semantics — every neighbor satisfies the predicate") {
    val rows = graft.similarity.Embeddings.annFilteredTopK(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val probeLabels = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 5).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (probe, rs) =>
      // contiguous ranks from 1, all neighbors carry the probe's label
      assert(rs.map(_.getInt(4)).sorted.toSeq == (1 to rs.length))
      rs.foreach { r =>
        assert(r.getInt(1) == probeLabels(probe))
        assert(r.getLong(2) != probe)
        val cos = r.getDouble(3)
        assert(cos >= -1.0 - 1e-6 && cos <= 1.0 + 1e-6)
      }
    }
  }

  test("temperature sampling: rarest language keeps rate 1, rates fall with share") {
    val rows = graft.text.Pipeline3.sampleTemperature(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // the smallest language is kept whole (rate 1 → n_sampled = n_total)
    val rarest = rows.minBy(_._2)
    assert(math.abs(rarest._3 - 1.0) < 1e-9)
    assert(rarest._4 == rarest._2)
    // rates are monotonically non-increasing in corpus share
    rows.sortBy(_._2).sliding(2).foreach {
      case Array(small, big) => assert(big._3 <= small._3 + 1e-9)
      case _ =>
    }
    rows.foreach { case (_, n, rate, sampled) =>
      assert(rate > 0.0 && rate <= 1.0)
      assert(sampled <= n)
    }
  }

  test("embed outliers: ~10% flagged per label, all below the label p10") {
    val rows = graft.similarity.Embeddings.embedOutliersExact(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getInt(1)).foreach { case (_, rs) =>
      val n = rs.length
      val out = rs.count(_.getBoolean(4))
      // strictly-below-p10 count is at most 10% (interpolated quantile)
      assert(out <= n / 10 + 1, s"n=$n out=$out")
      assert(out > 0 || n < 10)
      rs.foreach { r =>
        assert(r.getBoolean(4) == (r.getDouble(2) < r.getDouble(3)))
      }
    }
  }

  test("edit-distance dedup: banded lev equals the exact distance within budget") {
    import spark.implicits._
    val rows = Dedup.editDistance(spark, sfDir).collect()
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    rows.foreach { r =>
      val (a, b) = (texts(r.getLong(0)), texts(r.getLong(1)))
      val lev = r.getInt(2)
      assert(lev >= 0 && lev <= 20)
      // banded result is the true distance: at least the length gap,
      // at most the reference full DP
      assert(lev >= math.abs(a.length - b.length))
      assert(lev == refLevenshtein(a, b), s"pair ${r.getLong(0)},${r.getLong(1)}")
    }
  }

  test("round-5 operators are partition-count invariant") {
    // the driver's session uses its own parallelism — results must not
    // depend on how the input is split (decimal sums, unique-key
    // orderings, deterministic hashes)
    def fingerprint(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "boilerplate" -> (() => graft.text.Pipeline3.boilerplateScrub(spark, sfDir)),
      "temperature" -> (() => graft.text.Pipeline3.sampleTemperature(spark, sfDir)),
      "edit_distance" -> (() => Dedup.editDistance(spark, sfDir)),
      "nav_summary" -> (() => Templates.navSummary(spark, sfDir)),
      // iterative fixpoint: decimal M-steps + rounded-cosine E-steps
      // must make every round partition-order independent
      "kmeans_fit" -> (() => graft.similarity.Embeddings.kmeansFitDemo(spark, sfDir)))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val base = ops.map { case (n, f) => n -> fingerprint(f()) }.toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      ops.foreach { case (n, f) =>
        assert(fingerprint(f()) == base(n), s"$n diverged at 7 partitions")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Reference full-DP Levenshtein (two-row iteration). */
  private def refLevenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
      }
      prev = cur
    }
    prev(b.length)
  }

  test("embed quantize: full dim coverage, codes bounded, error under one step") {
    import org.apache.spark.sql.functions.{posexplode, max => smax, min => smin}
    val rows = graft.similarity.Embeddings.embedQuantize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the largest quantization step across dimensions bounds max_err
    val step = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos").agg(((smax("x") - smin("x")) / 255.0).as("scale"))
      .agg(smax("scale")).collect()(0).getDouble(0)
    rows.foreach { r =>
      assert(r.getLong(1) == 64L) // n_dims
      val cs = r.getLong(2)
      assert(cs >= 0L && cs <= 64L * 255L)
      val err = r.getDouble(3)
      assert(err >= 0.0 && err <= step * 1.000001 + 1e-9, s"err=$err step=$step")
    }
  }

  test("weather impact: r bounded, only vessels with >= 2 aligned days emit") {
    val rows = Templates.weatherImpact(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 2) // n_buckets
      val pr = r.getDouble(4)
      assert(pr >= -1.0 - 1e-6 && pr <= 1.0 + 1e-6)
    }
  }

  test("battery health: fractions bounded, min <= mean, slope null only when degenerate") {
    val rows = Templates.batteryHealth(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(2)
      assert(n > 0)
      assert(r.getDouble(4) <= r.getDouble(3) + 1e-9) // min_voltage <= mean
      val lf = r.getDouble(5)
      assert(lf >= 0.0 && lf <= 1.0)
      // a day with >= 2 samples on this dataset has distinct timestamps
      if (n >= 2) assert(!r.isNullAt(6))
    }
  }

  test("fuel efficiency: bands are 5-aligned and efficiency = speed/fuel") {
    val rows = Templates.fuelEfficiency(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 5 == 0)
      assert(r.getLong(1) > 0)
      val speed = r.getDouble(2); val fuel = r.getDouble(3)
      assert(fuel > 0.0)
      val eff = r.getDouble(4)
      assert(math.abs(eff - speed / fuel) < 1e-4, s"band ${r.getLong(0)}")
      // the band's mean speed lands inside the band
      assert(speed >= r.getLong(0) && speed < r.getLong(0) + 5)
    }
  }
}
