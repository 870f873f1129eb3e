package graft.dedup

import graft.Tables
import graft.funcs.rN
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Asymmetric containment dedup — the "short doc inside long doc"
  * detector (quotes, excerpt pages, boilerplate-wrapped reposts) that
  * symmetric Jaccard structurally misses: a 50-shingle doc fully
  * embedded in a 500-shingle doc has Jaccard 0.1 but containment 1.0.
  * C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| over
  * sorted-distinct 5-gram shingles, directed pairs with C ≥ τ = 0.8.
  *
  * Candidate generation is PREFIX FILTERING (the exact set-similarity
  * join technique of PPJoin, Xiao et al. WWW'08, under any fixed total
  * order): if C(A→B) ≥ τ, then A has at most (1−τ)|A| shingles
  * missing from B, so among A's first ⌊(1−τ)|A|⌋+1 shingles (in the
  * global sort order) at least one is in B — the contained side emits
  * only that prefix (τ = 4/5 → ⌊|A|/5⌋+1 keys, integer math), the
  * container side emits all its shingles, and the equi-join on the
  * shingle key is LOSSLESS for the threshold. Exact verification runs
  * only on the candidates, via the codegen'd merge-walk
  * [[graft.functions.OverlapCount]].
  *
  * Scale notes: both explodes are shingle-count linear; the join is an
  * equi-join on shingle strings (shuffle keyed by shingle — near-unique
  * 5-gram keys, measured hottest key = 3 at sf0.01, so no skew); the
  * quadratic regime exists only where docs genuinely share shingles,
  * i.e. output-bound like every verified-dedup operator here. The
  * shingle arrays are built once per doc before any join.
  */
object Containment {

  private val Tau = 0.8 // 1−τ = 1/5 exactly → prefix length in integers

  private def shingled(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 5)
      .select(col("doc_id"), expr(
        "array_sort(array_distinct(transform(sequence(1, size(toks) - 4), i -> array_join(slice(toks, i, 5), ' '))))")
        .as("sh"))
  }

  // --------------------------------------------------------------- #56
  /** Directed containment pairs: contained_id's shingle set is ≥ 80%
    * inside container_id's. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val s = shingled(spark, dir).localCheckpoint() // feeds 3 plan arms
    val prefixes = s.select(col("doc_id").as("contained_id"),
        explode(expr("slice(sh, 1, CAST(size(sh) DIV 5 + 1 AS INT))")).as("shingle"))
    val all = s.select(col("doc_id").as("container_id"),
        explode(col("sh")).as("shingle"))
    val cands = prefixes.join(all, "shingle")
      .where(col("contained_id") =!= col("container_id"))
      .select("contained_id", "container_id").distinct()
    cands
      .join(s.select(col("doc_id").as("contained_id"), col("sh").as("sh_a")), "contained_id")
      .join(s.select(col("doc_id").as("container_id"), col("sh").as("sh_b")), "container_id")
      .withColumn("n_shingles", size(col("sh_a")).cast("long"))
      .withColumn("overlap", expr("graft_overlap(sh_a, sh_b)"))
      .withColumn("containment", rN(col("overlap").cast("double") / col("n_shingles"), 6))
      .where(col("containment") >= Tau)
      .select("contained_id", "container_id", "n_shingles", "overlap", "containment")
      .orderBy("contained_id", "container_id")
  }

  /** Brute-force ground truth: the prefix filter is lossless, so the
    * O(n²) oracle and the prefix-joined implementation must agree
    * exactly. */
  val containmentOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    list_sort(list_distinct(list_transform(range(1, len(toks) - 3),
      |      i -> array_to_string(toks[i:i+4], ' ')))) AS sh
      |  FROM t WHERE len(toks) >= 5
      |)
      |SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
      |  CAST(len(a.sh) AS BIGINT) AS n_shingles,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS overlap,
      |  ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 6) AS containment
      |FROM s a JOIN s b ON a.doc_id <> b.doc_id
      |WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 6) >= 0.8
      |ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_containment" -> (containment _))

  val oracles: Map[String, String] = Map(
    "dedup_containment" -> containmentOracle)
}
