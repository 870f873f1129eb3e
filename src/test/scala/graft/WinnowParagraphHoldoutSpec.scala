package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Semantics + plan pins for the round-12 additions: winnowing
  * fingerprints, CCNet segment dedup, exact-k holdout carving. */
class WinnowParagraphHoldoutSpec extends SparkSpec {
  import spark.implicits._

  private def planStr(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def winnowOf(texts: Seq[String]): Map[Long, Seq[(Long, Long)]] = {
    graft.functions.Native.register(spark)
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    df.createOrReplaceTempView("winnow_docs")
    // run the operator body against the temp docs via the same code
    // path: swap Tables.documents by building the identical projection
    val out = df
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 4)
      .withColumn("m", (size(col("toks")) - 3).cast("int"))
      .withColumn("gr", expr("graft_ngrams(toks, 4)"))
      .withColumn("comb", expr(
        s"transform(sequence(1, m), i -> graft_polyhash(element_at(gr, i), 31) * ${1 << 20}L + (${(1 << 20) - 1}L - i))"))
      .withColumn("sel", expr(
        s"array_distinct(transform(sequence(1, greatest(1, m - 4)), p -> array_min(slice(comb, p, 5))))"))
      .select(col("doc_id"), explode(col("sel")).as("c"))
      .select(col("doc_id"),
        expr(s"CAST(${(1 << 20) - 1} - (c % ${1 << 20}) AS BIGINT)").as("fp_idx"),
        expr(s"CAST(c div ${1 << 20} AS BIGINT)").as("fp_hash"))
    out.collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted).toMap
  }

  test("winnow guarantee: docs sharing a run of >= w+k-1 tokens share a fingerprint hash") {
    // w=5, k=4 -> any common 8-token span must yield a common hash
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val a = s"one two three $shared nine ten eleven twelve"
    val b = s"xx yy $shared zz ww vv uu tt ss rr"
    val fps = winnowOf(Seq(a, b))
    val ha = fps(0L).map(_._2).toSet
    val hb = fps(1L).map(_._2).toSet
    assert((ha intersect hb).nonEmpty, s"no shared fingerprint: $ha vs $hb")
  }

  test("winnow density: selected fingerprints are ~1/w of the gram stream, never empty") {
    val out = graft.text.Winnow.winnow(spark, sfDir)
    val perDoc = out.groupBy("doc_id").count()
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), (size(split(col("text"), " ")) - 3).cast("long").as("m"))
    val joined = perDoc.join(docs, "doc_id")
      .select(col("doc_id"), col("count"), col("m")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (n, m) = (r.getLong(1), r.getLong(2))
      // between the pigeonhole floor (one distinct min per window is
      // possible) and the number of windows
      assert(n >= 1 && n <= math.max(1, m - 4), r.toString)
    }
    // aggregate density well under the full gram stream
    val totFp = joined.map(_.getLong(1)).sum.toDouble
    val totGrams = joined.map(_.getLong(2)).sum.toDouble
    assert(totFp / totGrams < 0.5, s"density ${totFp / totGrams}")
  }

  test("winnow tie rule: equal hashes in one window select the rightmost") {
    // identical grams -> identical hashes; window of 5 equal values
    // must pick the LARGEST gram index among the minima
    val t = "a a a a a a a a a"   // 9 tokens, 6 grams, all 'a a a a'
    val fps = winnowOf(Seq(t))(0L)
    // every window [p, p+4] has all-equal hashes -> rightmost = p+4
    // windows p=1,2 -> idx 5, 6; distinct
    assert(fps.map(_._1) == Seq(5L, 6L), fps.toString)
  }

  test("winnow plan: no shuffle before the presentation sort") {
    val p = planStr(graft.text.Winnow.winnow(spark, sfDir))
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1, p.take(3000))
  }

  test("dedup_winnow: reported pairs genuinely share a k-gram; join is equi-keyed") {
    val out = graft.text.Winnow.dedupWinnow(spark, sfDir)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val rows = out.collect()
    assert(rows.nonEmpty, "overlap-saturated corpus produced no candidate pairs")
    rows.foreach(r => assert(r.getLong(0) < r.getLong(1) && r.getLong(2) >= 2))
    // the strongest pair's texts share at least one literal 4-token gram
    val top = rows.maxBy(_.getLong(2))
    val texts = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(top.getLong(0), top.getLong(1)))
      .collect().map(r => r.getAs[String]("text"))
    def grams(t: String): Set[String] =
      t.split(" ").sliding(4).map(_.mkString(" ")).toSet
    assert((grams(texts(0)) intersect grams(texts(1))).nonEmpty,
      s"pair $top shares no literal 4-gram")
  }

  test("dedup_paragraph: keeper doc keeps its text verbatim; duplicates lose exactly the hot segments") {
    val out = graft.dedup.Paragraph.dedupParagraph(spark, sfDir)
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val j = out.join(docs, "doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_segs"),
        r.getAs[Long]("kept_segs"), r.getAs[String]("clean_text"),
        r.getAs[String]("text"))).toSeq
    assert(j.nonEmpty)
    // every fully-kept doc reassembles to its original text
    val full = j.filter(t => t._2 == t._3)
    assert(full.nonEmpty)
    full.foreach { case (_, _, _, clean, orig) => assert(clean == orig) }
    // something was actually removed somewhere (the corpus has near-dups)
    assert(j.exists(t => t._3 < t._2), "no duplicated segments found")
    // kept_segs bounds
    j.foreach { case (_, n, k, _, _) => assert(k >= 0 && k <= n) }
  }

  test("dedup_paragraph: every removed segment text still exists in its keeper doc") {
    val out = graft.dedup.Paragraph.dedupParagraph(spark, sfDir).cache()
    try {
      // reconstruct removed segments = original segs minus kept ones
      val segs = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr("sequence(0, size(toks) - 1, 10)")).as("st"), col("toks"))
        .select(col("doc_id"), expr("array_join(slice(toks, st + 1, 10), ' ')").as("seg_text"))
      val removedHashes = segs.withColumn("h", md5(col("seg_text")))
        .join(out.select(col("doc_id"), col("clean_text")), "doc_id")
        .filter(!col("clean_text").contains(col("seg_text")))
        .select("h").distinct()
      // each removed hash must appear in at least 2 distinct docs
      val df = segs.withColumn("h", md5(col("seg_text")))
        .join(removedHashes, "h")
        .groupBy("h").agg(countDistinct("doc_id").as("df"))
        .filter(col("df") < 2).count()
      assert(df == 0, s"$df removed segments were not cross-doc duplicates")
    } finally out.unpersist()
  }

  test("dedup_paragraph plan: hot-segment table broadcasts; one doc_id shuffle to reassemble") {
    val p = planStr(graft.dedup.Paragraph.dedupParagraph(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("sample_holdout_k: exactly k per language, deterministic under repartitioning") {
    val out = graft.text.Holdout.holdoutK(spark, sfDir)
    val counts = out.groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val langSizes = graft.Tables.documents(spark, sfDir)
      .groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    langSizes.foreach { case (lang, n) =>
      assert(counts.getOrElse(lang, 0L) == math.min(n, 50L), s"$lang: $counts")
    }
    // ranks dense 1..k
    val ranks = out.groupBy("lang").agg(
      min("rank").as("lo"), max("rank").as("hi"), count(lit(1)).as("n")).collect()
    ranks.foreach { r =>
      assert(r.getAs[Long]("lo") == 1L && r.getAs[Long]("hi") == r.getAs[Long]("n"))
    }
  }

  test("sample_holdout_k is partition-layout invariant") {
    graft.functions.Native.register(spark)
    val a = graft.text.Holdout.holdoutK(spark, sfDir).collect().toSeq
    // rerun against a deliberately re-partitioned view of the corpus:
    // hash selection must not depend on input layout
    val docs = graft.Tables.documents(spark, sfDir).repartition(13)
    val b = docs
      .select(col("lang"), col("doc_id"),
        expr("graft_polyhash(md5(concat(CAST(doc_id AS STRING), ':holdout')), 31)").as("h"))
      .groupBy("lang")
      .agg(expr("graft_topk(CAST(-h AS DOUBLE), doc_id, 50)").as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"), col("col.id").as("doc_id"))
      .orderBy("lang", "rank").collect().toSeq
    assert(a == b)
  }

  test("sample_holdout_k plan: partial heap before the exchange, no corpus sort") {
    val p = planStr(graft.text.Holdout.holdoutK(spark, sfDir))
    assert(p.contains("partial_graft_topk"), p.take(3000))
    // the only sorts allowed are the k-bounded explode output ordering
    assert(!p.contains("Window"), p.take(3000))
  }
}
