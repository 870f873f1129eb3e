package graft.text

import graft.Tables
import graft.funcs._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-pipeline operators, part 2: benchmark decontamination,
  * repetition-based quality scoring, exact shared-span (substring)
  * dedup, and token-balanced domain mixing.
  *
  * All four share one primitive: the n-gram stream — every n
  * consecutive tokens of every document. It is built with posexplode +
  * window leads (one shuffle on doc_id, whole-stage codegen) instead
  * of higher-order lambdas, which evaluate interpreted (SURVEY §5a.2).
  * At 100 TB the stream partial-aggregates map-side before its one
  * shuffle; the benchmark n-gram set and the per-source rate table are
  * tiny and broadcast.
  *
  * n-gram sizes are parameters; the defaults here (4/5) are calibrated
  * to the synthetic corpus's 31-word vocabulary — real pipelines use
  * 8-13 (decontamination) and ~50 (substring dedup) with the same
  * plan shape.
  */
object Pipeline2 {

  /** (doc_id, source, ngram) for every n consecutive tokens, via one
    * window pass: all `lead`s share the same (doc_id, pos) window. */
  private[graft] def ngramStream(docs: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tok = docs.select(col("doc_id"), col("source"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w0")))
    val led = (1 until n).foldLeft(tok)((df, i) =>
      df.withColumn(s"w$i", lead("w0", i).over(w)))
    led.where(col(s"w${n - 1}").isNotNull)
      .select(col("doc_id"), col("source"),
        concat_ws(" ", (0 until n).map(i => col(s"w$i")): _*).as("ngram"))
  }

  // ------------------------------------------------- decontamination
  /** Benchmark decontamination: flag training documents sharing any
    * 4-gram with the benchmark set (docs with doc_id ≡ 0 mod 20 play
    * the held-out benchmark). The benchmark n-gram set is distinct'd
    * and broadcast; the training stream is semi-joined without ever
    * shuffling on the n-gram. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val ng = ngramStream(Tables.documents(spark, dir), 4)
    val bench = ng.where(col("doc_id") % 20 === 0).select("ngram").distinct()
    ng.where(col("doc_id") % 20 =!= 0)
      .join(broadcast(bench), Seq("ngram"), "left_semi")
      .groupBy("doc_id", "source")
      .agg(countDistinct(col("ngram")).as("n_hits"))
      .orderBy("doc_id")
  }

  val decontaminateOracle: String =
    """WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |ng AS (
      |  SELECT doc_id, source, array_to_string(list_slice(ws, i, i + 3), ' ') AS ngram
      |  FROM tok, unnest(generate_series(1, len(ws) - 3)) t(i) WHERE len(ws) >= 4),
      |bench AS (SELECT DISTINCT ngram FROM ng WHERE doc_id % 20 = 0)
      |SELECT doc_id, source, COUNT(DISTINCT ngram) AS n_hits
      |FROM ng JOIN bench USING (ngram)
      |WHERE doc_id % 20 <> 0
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // --------------------------------------------- repetition quality
  /** Repetition-based quality (the Gopher dup-fraction rules): per
    * document, the duplicate-bigram fraction and the share of the
    * single most frequent bigram. Two-level aggregation — (doc, gram)
    * counts partial-aggregate map-side, the per-doc reduction is
    * tiny. */
  def qualityRepetition(spark: SparkSession, dir: String): DataFrame =
    ngramStream(Tables.documents(spark, dir), 2)
      .groupBy("doc_id", "ngram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), count(lit(1)).as("n_distinct"),
        max("c").as("top_count"))
      .select(col("doc_id"), col("n_bigrams"),
        r6(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams").cast("double"))
          .as("dup_frac"),
        r6(col("top_count").cast("double") / col("n_bigrams").cast("double"))
          .as("top_frac"))
      .withColumn("keep", col("dup_frac") <= 0.05 && col("top_frac") <= 0.08)
      .orderBy("doc_id")

  val qualityRepetitionOracle: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, array_to_string(list_slice(ws, i, i + 1), ' ') AS ngram
      |  FROM tok, unnest(generate_series(1, len(ws) - 1)) t(i) WHERE len(ws) >= 2),
      |c AS (SELECT doc_id, ngram, COUNT(*) AS c FROM g GROUP BY 1, 2)
      |SELECT doc_id, n_bigrams, dup_frac, top_frac,
      |  dup_frac <= 0.05 AND top_frac <= 0.08 AS keep
      |FROM (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |    ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS dup_frac,
      |    ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_frac
      |  FROM c GROUP BY 1)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ substring dedup
  /** Exact shared-span dedup: document pairs sharing at least one run
    * of 5 consecutive tokens. Spans occurring in more than 20
    * documents are boilerplate and skipped — which also bounds the
    * per-span join fan-out (the quadratic blow-up guard at corpus
    * scale). The distinct (doc, span-hash) table is pinned
    * (localCheckpoint — compute-once without a session-lifetime
    * CacheManager entry): it feeds both sides of the self-join
    * (SURVEY §5a.4). */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    val dh = ngramStream(Tables.documents(spark, dir), 5)
      .select(col("doc_id"), md5(col("ngram")).as("h")).distinct()
    val ok = dh.groupBy("h").agg(count(lit(1)).as("nd"))
      .where(col("nd").between(2, 20)).select("h")
    val d2 = dh.join(ok, Seq("h"), "left_semi").localCheckpoint()
    val pairs = d2.alias("a").join(d2.alias("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_spans"))
      .orderBy("doc_a", "doc_b")
    pairs
  }

  val substringDedupOracle: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ng AS (
      |  SELECT DISTINCT doc_id, md5(array_to_string(list_slice(ws, i, i + 4), ' ')) AS h
      |  FROM tok, unnest(generate_series(1, len(ws) - 4)) t(i) WHERE len(ws) >= 5),
      |ok AS (SELECT h FROM ng GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 20),
      |d2 AS (SELECT doc_id, h FROM ng JOIN ok USING (h))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_spans
      |FROM d2 a JOIN d2 b ON a.h = b.h AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------- domain mixing
  /** Token-balanced domain mixing: each source is downsampled to the
    * smallest source's token budget via a deterministic md5-prefix
    * threshold (rate = min_tokens / source_tokens). The rate table is
    * one row per source, broadcast; the keep decision is a plain
    * filter — no RNG, reproducible, pushdown-friendly. */
  def mixBalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
    val perSrc = docs.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
    val minTok = perSrc.agg(min("src_tokens").as("min_tokens"))
    val rates = perSrc.crossJoin(broadcast(minTok))
      .select(col("source"),
        (col("min_tokens").cast("double") / col("src_tokens").cast("double")).as("rate"))
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("keep", col("rate") >= 1.0 ||
        substring(md5(col("doc_id").cast("string")), 1, 4) <
          lower(lpad(hex(floor(col("rate") * 65536).cast("long")), 4, "0")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("keep"), 1)).as("n_kept"),
        sum("n_tokens").as("total_tokens"),
        sum(when(col("keep"), col("n_tokens"))).as("kept_tokens"),
        r6(max(col("rate"))).as("rate"))
      .orderBy("source")
  }

  val mixBalanceOracle: String =
    """WITH d AS (SELECT *, len(string_split(text, ' ')) AS n_tokens FROM documents),
      |per_src AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens FROM d GROUP BY 1),
      |rates AS (
      |  SELECT source,
      |    CAST((SELECT MIN(src_tokens) FROM per_src) AS DOUBLE)
      |      / CAST(src_tokens AS DOUBLE) AS rate
      |  FROM per_src),
      |k AS (
      |  SELECT d.*, rate,
      |    rate >= 1.0 OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      |      printf('%04x', CAST(FLOOR(rate * 65536) AS INT)) AS keep
      |  FROM d JOIN rates USING (source))
      |SELECT source, COUNT(*) AS n_total,
      |  COUNT(*) FILTER (WHERE keep) AS n_kept,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(n_tokens) FILTER (WHERE keep) AS BIGINT) AS kept_tokens,
      |  ROUND(MAX(rate), 6) AS rate
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------- perplexity
  /** CCNet-style perplexity bucketing with a corpus-fit unigram LM —
    * the quality-filtering stage real pretraining pipelines run
    * between dedup and mixing (a KenLM stands in for the unigram model
    * at production; the Spark shape is identical): fit P(term) on the
    * corpus itself, score each document by mean -log P(token), and cut
    * the corpus into head/middle/tail buckets at the global score
    * terciles.
    *
    * Scale shape: the LM is a term-frequency table (vocabulary-sized →
    * broadcast); scoring is one pass over the exploded token stream
    * with map-side partial aggregation; the tercile thresholds are the
    * exact global percentile, which buffers every doc score in ONE
    * aggregation row — corpus-sized at 100 TB, where the mergeable
    * approx_percentile sketch is the swap (the same caveat as
    * sk_percentiles / embed_outliers). Transcendental determinism:
    * each -log p is rounded to 6 dp before the exact decimal per-doc
    * mean (see [[graft.funcs.dsum]]), so the bucket cuts are
    * bit-stable. */
  def perplexityBucketsExact(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val total = toks.count().toDouble
    val lm = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      .withColumn("nlogp", r6(-log(col("tf") / lit(total))))
      .select("term", "nlogp")
    val scored = toks.join(broadcast(lm), "term")
      .groupBy("doc_id")
      .agg(r6(davg(col("nlogp"))).as("score"))
    def cut(q: String): Column = expr(s"percentile(score, $q)")
    val cuts = scored.agg(cut("1.0D / 3").as("c1"), cut("2.0D / 3").as("c2"))
    scored.join(broadcast(cuts))
      .withColumn("bucket",
        when(col("score") <= col("c1"), "head")
          .when(col("score") <= col("c2"), "middle")
          .otherwise("tail"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        r6(davg(col("score"))).as("score_avg"),
        r6(min("score")).as("score_min"),
        r6(max("score")).as("score_max"))
      .orderBy("bucket")
  }

  val perplexityOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), lm AS (
      |  SELECT term,
      |    ROUND(-ln(COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM toks)), 6) AS nlogp
      |  FROM toks GROUP BY 1
      |), scored AS (
      |  SELECT doc_id,
      |    ROUND(CAST(SUM(CAST(nlogp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(nlogp), 6) AS score
      |  FROM toks JOIN lm USING (term) GROUP BY 1
      |), cuts AS (
      |  SELECT quantile_cont(score, 1.0/3) AS c1, quantile_cont(score, 2.0/3) AS c2
      |  FROM scored
      |)
      |SELECT CASE WHEN score <= c1 THEN 'head'
      |            WHEN score <= c2 THEN 'middle' ELSE 'tail' END AS bucket,
      |  COUNT(*) AS n_docs,
      |  ROUND(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(score), 6) AS score_avg,
      |  ROUND(MIN(score), 6) AS score_min,
      |  ROUND(MAX(score), 6) AS score_max
      |FROM scored, cuts GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------- end to end
  /** The whole training-data pipeline as ONE composed query — the
    * proof that the LLM-pipeline operators are a library, not demos:
    * Gopher quality gate → exact dedup (keep min doc per md5) →
    * benchmark decontamination (4-gram hit against the held-out set)
    * → ~4096-token sequence packing into per-source training shards.
    *
    * Plan shape: the gate and dedup are semi-joins on doc-id /
    * content-hash aggregates; the benchmark n-gram set broadcasts;
    * packing is the windowed cumulative sum. Stages stay lazy — the
    * corpus is scanned a bounded number of times however many stages
    * compose, and no stage materializes to the driver. */
  def pipelineEndToEnd(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val gateIds = graft.text.Pipeline.qualityGopher(spark, dir)
      .where(col("keep")).select("doc_id")
    val corpus0 = docs
      .join(gateIds, Seq("doc_id"), "left_semi")
      .where(col("doc_id") % 20 =!= 0)
    val keeperIds = corpus0
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val kept = corpus0.join(keeperIds, Seq("doc_id"), "left_semi")
    val bench = ngramStream(docs, 4)
      .where(col("doc_id") % 20 === 0).select("ngram").distinct()
    val contaminated = ngramStream(kept, 4)
      .join(broadcast(bench), Seq("ngram"), "left_semi")
      .select("doc_id").distinct()
    val clean = kept.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n_tokens"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    clean
      .withColumn("chunk_id",
        floor(coalesce(sum("n_tokens").over(w), lit(0L)) / 4096).cast("long"))
      .groupBy("source", "chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("chunk_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "chunk_id")
  }

  val pipelineEndToEndOracle: String =
    """WITH q AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      len(string_split(text, ' ')) AS n_words,
      |      ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |        / len(string_split(text, ' ')), 6) AS mwl,
      |      len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the', 'a', 'value', 'data'))) AS sc,
      |      ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |        / len(string_split(text, ' ')), 6) AS dr
      |    FROM documents)
      |  WHERE n_words BETWEEN 30 AND 300 AND mwl BETWEEN 2.0 AND 8.0
      |    AND sc >= 2 AND dr >= 0.3
      |), corpus0 AS (
      |  SELECT d.* FROM documents d JOIN q USING (doc_id) WHERE doc_id % 20 <> 0
      |), keepers AS (
      |  SELECT MIN(doc_id) AS doc_id FROM corpus0 GROUP BY md5(text)
      |), kept AS (
      |  SELECT c.* FROM corpus0 c JOIN keepers USING (doc_id)
      |), ktok AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM kept
      |), btok AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id % 20 = 0
      |), bench AS (
      |  SELECT DISTINCT array_to_string(list_slice(ws, i, i + 3), ' ') AS ngram
      |  FROM btok, unnest(generate_series(1, len(ws) - 3)) t(i) WHERE len(ws) >= 4
      |), contaminated AS (
      |  SELECT DISTINCT doc_id
      |  FROM (SELECT doc_id, array_to_string(list_slice(ws, i, i + 3), ' ') AS ngram
      |        FROM ktok, unnest(generate_series(1, len(ws) - 3)) t(i) WHERE len(ws) >= 4)
      |  JOIN bench USING (ngram)
      |), clean AS (
      |  SELECT k.doc_id, k.source, len(string_split(k.text, ' ')) AS n_tokens
      |  FROM kept k LEFT JOIN contaminated c USING (doc_id)
      |  WHERE c.doc_id IS NULL
      |), chunked AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096) AS BIGINT) AS chunk_id
      |  FROM clean
      |)
      |SELECT source, chunk_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM chunked GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_end_to_end" -> (pipelineEndToEnd _),
    "text_perplexity" -> (perplexityBucketsExact _),
    "decontaminate_ngram" -> (decontaminate _),
    "quality_repetition" -> (qualityRepetition _),
    "dedup_substring" -> (substringDedup _),
    "mix_balance" -> (mixBalance _))

  val oracles: Map[String, String] = Map(
    "pipeline_end_to_end" -> pipelineEndToEndOracle,
    "text_perplexity" -> perplexityOracle,
    "decontaminate_ngram" -> decontaminateOracle,
    "quality_repetition" -> qualityRepetitionOracle,
    "dedup_substring" -> substringDedupOracle,
    "mix_balance" -> mixBalanceOracle)
}
