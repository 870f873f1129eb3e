package graft.text

import graft.Tables
import graft.funcs._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * quality scoring, language ID, token counting, fingerprinting.
  *
  * Cross-engine primitive: [[TextOps.polyHash]] — a polynomial rolling
  * hash over character codes, expressible identically in Spark and
  * DuckDB (left fold, positive modular arithmetic), so fingerprints
  * and hash-derived features are oracle-checkable.
  *
  * Scale: every operator is a narrow per-row projection (no shuffle);
  * whole-stage codegen keeps the char folds in generated code.
  */
object TextOps {

  /** Polynomial rolling hash: fold (h*mult + ascii(c)) % 1e9+7 over the
    * characters of column `colName`. */
  def polyHash(colName: String, mult: Int): Column = expr(
    s"aggregate(transform(sequence(1, length($colName)), i -> CAST(ascii(substring($colName, i, 1)) AS BIGINT)), " +
      s"CAST(0 AS BIGINT), (acc, x) -> (acc * $mult + x) % 1000000007)")

  /** Native codegen form of the same hash (graft.functions.PolyHash):
    * identical result for ASCII input, compiled to a byte loop. */
  def polyHashNative(spark: org.apache.spark.sql.SparkSession,
      colName: String, mult: Int): Column = {
    graft.functions.Native.register(spark)
    expr(s"graft_polyhash($colName, $mult)")
  }

  /** Same hash as DuckDB SQL (for oracle strings). */
  def polyHashSql(col: String, mult: Int): String =
    s"list_reduce(list_transform(string_split($col, ''), ch -> ascii(ch)::BIGINT), (a, b) -> (a * $mult + b) % 1000000007)"

  /** Count non-overlapping occurrences of literal `m` in `c` via
    * length arithmetic — identical left-to-right semantics in both
    * engines. */
  def occurrences(c: Column, m: String): Column =
    ((length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(m), ""))) / m.length).cast("long")

  // --------------------------------------------------------------- #36
  /** Quality scoring: length, token stats, stopword ratio, composite
    * score — the length/punct/stopword heuristics of LLM-data quality
    * filters. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val nTokens = (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).cast("long")
    val charLen = length(regexp_replace(col("text"), " ", "")).cast("long")
    val stopHits = Seq("the", "a", "and", "of")
      .map(wd => occurrences(padded, s" $wd "))
      .reduce(_ + _)
    Tables.documents(spark, dir)
      .withColumn("n_tokens", nTokens)
      .withColumn("avg_token_len", r6(charLen.cast("double") / col("n_tokens")))
      .withColumn("stop_ratio", r6(stopHits.cast("double") / col("n_tokens")))
      .withColumn("quality", r6(
        least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
          col("stop_ratio") * 0.3 +
          least(col("avg_token_len") / 8.0, lit(1.0)) * 0.2))
      .select("doc_id", "n_tokens", "avg_token_len", "stop_ratio", "quality")
      .orderBy("doc_id")
  }

  val textQualityOracle: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_tokens,
      |    length(replace(text, ' ', ''))::BIGINT AS char_len,
      |    ((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5
      |     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ''))) // 3
      |     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) // 5
      |     + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) // 4)::BIGINT AS stop_hits
      |  FROM documents
      |)
      |SELECT doc_id, n_tokens,
      |  ROUND(char_len::DOUBLE / n_tokens, 6) AS avg_token_len,
      |  ROUND(stop_hits::DOUBLE / n_tokens, 6) AS stop_ratio,
      |  ROUND(LEAST(n_tokens / 100.0, 1.0) * 0.5 +
      |        ROUND(stop_hits::DOUBLE / n_tokens, 6) * 0.3 +
      |        LEAST(ROUND(char_len::DOUBLE / n_tokens, 6) / 8.0, 1.0) * 0.2, 6) AS quality
      |FROM q ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #37
  /** Marker-based language ID: per-language stopword-marker counts,
    * argmax with a fixed tie-break order. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val markers = Seq(
      "en" -> Seq("the", "and"), "es" -> Seq("el", "los"),
      "de" -> Seq("der", "und"), "fr" -> Seq("le", "les"),
      "zh" -> Seq("de", "shi"))
    val scored = markers.foldLeft(Tables.documents(spark, dir)) { case (d, (l, ws)) =>
      d.withColumn(s"s_$l", ws.map(wd => occurrences(padded, s" $wd ")).reduce(_ + _))
    }
    scored
      .withColumn("predicted", expr(
        """CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
          |     WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
          |     WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
          |     WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END""".stripMargin))
      .select("doc_id", "s_en", "s_es", "s_de", "s_fr", "s_zh", "predicted")
      .orderBy("doc_id")
  }

  val langIdOracle: String = {
    def occ(w: String) =
      s"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) // ${w.length + 2}"
    s"""WITH s AS (
       |  SELECT doc_id,
       |    (${occ("the")} + ${occ("and")})::BIGINT AS s_en,
       |    (${occ("el")} + ${occ("los")})::BIGINT AS s_es,
       |    (${occ("der")} + ${occ("und")})::BIGINT AS s_de,
       |    (${occ("le")} + ${occ("les")})::BIGINT AS s_fr,
       |    (${occ("de")} + ${occ("shi")})::BIGINT AS s_zh
       |  FROM documents
       |)
       |SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
       |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |       WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS predicted
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- #38
  /** Token counting: whitespace tokens, BPE-ish regex pieces
    * (letter runs / digit runs / single punctuation), chars-per-token
    * estimate. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_ws_tokens",
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).cast("long"))
      .withColumn("n_bpeish", expr(
        "CAST(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) AS BIGINT)"))
      .withColumn("est_llm_tokens", ceil(col("n_chars") / 4.0).cast("long"))
      .select("doc_id", "n_ws_tokens", "n_bpeish", "est_llm_tokens")
      .orderBy("doc_id")

  val tokenCountsOracle: String =
    """SELECT doc_id,
      |  (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS n_bpeish,
      |  CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_llm_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #39
  /** Document fingerprinting: two polynomial rolling hashes + md5 —
    * the cheap content-identity triple for exact dedup at scale. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .withColumn("fp31", polyHashNative(spark, "text", 31))
      .withColumn("fp37", polyHashNative(spark, "text", 37))
      .withColumn("content_md5", md5(col("text")))
      .select("doc_id", "fp31", "fp37", "content_md5")
      .orderBy("doc_id")

  val fingerprintsOracle: String =
    s"""SELECT doc_id,
       |  ${polyHashSql("text", 31)} AS fp31,
       |  ${polyHashSql("text", 37)} AS fp37,
       |  md5(text) AS content_md5
       |FROM documents ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_quality" -> (textQuality _),
    "text_langid" -> (langId _),
    "text_tokens" -> (tokenCounts _),
    "text_fingerprint" -> (fingerprints _))

  val oracles: Map[String, String] = Map(
    "text_quality" -> textQualityOracle,
    "text_langid" -> langIdOracle,
    "text_tokens" -> tokenCountsOracle,
    "text_fingerprint" -> fingerprintsOracle)
}
