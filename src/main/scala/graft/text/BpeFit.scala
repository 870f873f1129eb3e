package graft.text

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer fit (Sennrich et al. 2016): learn merge
  * rules from corpus statistics — the step that produces the
  * tokenizer a training run counts its budget in. Two unrolled merge
  * rounds; each round reports the weighted-frequency top pairs (rank 1
  * = the learned merge) computed AFTER applying the previous rounds'
  * merges.
  *
  * Scale design — the classic BPE factorization: the corpus is
  * touched ONCE, by a map-side-partial word-count aggregation; every
  * subsequent step (symbol sequences, pair statistics, the merges
  * themselves) runs on the DISTINCT-WORD table, whose size is the
  * vocabulary, not the corpus — at 100 TB the word table is MBs. The
  * chosen pair is a 1-row broadcast (`crossJoin(broadcast(top1))`,
  * the scalar-subquery idiom) and the merge is a per-row `aggregate`
  * fold over the symbol array — no shuffle after the word count
  * beyond the tiny pair-count aggregations. The word table is
  * localCheckpointed so the three consumers (round-1 stats, the merge,
  * round-2 stats) don't re-scan the corpus.
  *
  * Merge semantics (cross-engine determinism): greedy left-to-right
  * non-overlapping replacement of the chosen pair, implemented as a
  * single carry fold here and as iterated leftmost-occurrence
  * replacement (recursive CTE) in the oracle. The two are equivalent:
  * a merge of pair (a,b) can never CREATE a new (a,b) occurrence —
  * the merged token `a||b` is strictly longer than a and than b — so
  * the occurrence set is fixed up front and both procedures consume
  * it left-to-right (chains like "a a a" consume leftmost-first in
  * both). Ties in pair selection break on the pair string ASC — a
  * total order, so rank output is engine-independent.
  */
object BpeFit {

  private val TopN = 10

  /** Greedy left-to-right merge of the broadcast (a, b) pair as a
    * carry fold over the symbol array column `syms`. */
  private def merged(): Column = expr(
    """aggregate(syms,
      |  named_struct('o', CAST(array() AS ARRAY<STRING>), 'c', ''),
      |  (acc, x) -> CASE
      |    WHEN acc.c = '' THEN named_struct('o', acc.o, 'c', x)
      |    WHEN acc.c = a AND x = b
      |      THEN named_struct('o', array_append(acc.o, concat(a, b)), 'c', '')
      |    ELSE named_struct('o', array_append(acc.o, acc.c), 'c', x) END,
      |  acc -> CASE WHEN acc.c = '' THEN acc.o
      |              ELSE array_append(acc.o, acc.c) END)""".stripMargin)

  private def pairCounts(df: DataFrame): DataFrame = df
    .select(col("f"), explode(expr("graft_ngrams(syms, 2)")).as("pair"))
    .groupBy("pair").agg(sum(col("f")).as("wcount"))

  private def top1(pc: DataFrame): DataFrame = pc
    .orderBy(col("wcount").desc, col("pair")).limit(1)
    .select(
      expr("element_at(split(pair, ' '), 1)").as("a"),
      expr("element_at(split(pair, ' '), 2)").as("b"))

  /** The shared fit state: pair stats per round and the word table
    * carried through the merges — (w, f, syms). The corpus is scanned
    * exactly once (the word count), everything downstream runs on the
    * vocabulary-sized checkpointed table. */
  private def fitState(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    graft.functions.Native.register(spark)
    // Empty-word guard (mirrored in both oracles): irregular
    // whitespace (leading/trailing/double spaces) splits into "" words,
    // and for those Spark's sequence(1, length(w)) = sequence(1, 0)
    // yields the DESCENDING [1, 0] — two phantom "" symbols and a
    // phantom pair — while DuckDB's string_split(w, '') yields [] — a
    // silent cross-engine divergence. Both engines drop "" up front.
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .localCheckpoint()
    val seq0 = words.withColumn("syms",
      expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    val pc1 = pairCounts(seq0)
    val m1 = seq0.crossJoin(broadcast(top1(pc1)))
      .withColumn("syms", merged())
      .select("w", "f", "syms")
    val pc2 = pairCounts(m1)
    (pc1, pc2, m1)
  }

  /** Per-round top-pair table: (round, rank, pair, wcount). */
  def bpeFit(spark: SparkSession, dir: String): DataFrame = {
    def topN(pc: DataFrame, round: Int): DataFrame = pc
      .orderBy(col("wcount").desc, col("pair")).limit(TopN)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("wcount").desc, col("pair"))).cast("long"))
      .select(lit(round).cast("long").as("round"), col("rank"),
        col("pair"), col("wcount"))
    val (pc1, pc2, _) = fitState(spark, dir)
    topN(pc1, 1).union(topN(pc2, 2)).orderBy("round", "rank")
  }

  // --------------------------------------------------------------- #61
  /** TOKENIZE the corpus with the learned merges — the apply side of
    * the fit: every document's token count under the 2-merge BPE
    * vocabulary, next to its raw character-symbol count. This is the
    * number a token-budgeted pipeline (sample_token_budget, packing)
    * actually consumes.
    *
    * Scale: merges are applied to the DISTINCT-WORD table only (the
    * same vocabulary factorization as the fit), then the vocabulary —
    * word → post-merge symbol count — broadcasts back onto the
    * exploded corpus and one doc_id re-aggregation restores documents.
    * The corpus is scanned once and shuffles once (doc_id), regardless
    * of vocabulary or merge count.
    */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val (_, pc2, m1) = fitState(spark, dir)
    val m2 = m1.crossJoin(broadcast(top1(pc2)))
      .withColumn("syms", merged())
    val vocab = m2.select(col("w"), size(col("syms")).cast("long").as("n_sym"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(vocab), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_sym")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  val bpeFitOracle: String =
    s"""WITH RECURSIVE words AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |), s0 AS (
       |  SELECT w, f, string_split(w, '') AS syms FROM words
       |), p1 AS (
       |  SELECT pair, CAST(sum(f) AS BIGINT) AS wcount FROM (
       |    SELECT f, syms[i] || ' ' || syms[i + 1] AS pair
       |    FROM (SELECT f, syms, unnest(range(1, len(syms))) AS i FROM s0))
       |  GROUP BY pair
       |), ab AS (
       |  SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
       |  FROM (SELECT pair FROM p1 ORDER BY wcount DESC, pair LIMIT 1)
       |), it AS (
       |  -- iterated leftmost-occurrence merge (== the greedy fold; see
       |  -- scaladoc equivalence argument). Padded so matches are
       |  -- token-exact; symbols are corpus characters, no escaping
       |  -- needed because matching is plain substring search.
       |  SELECT w, f, ' ' || array_to_string(syms, ' ') || ' ' AS s FROM s0
       |  UNION ALL
       |  SELECT w, f,
       |    substr(s, 1, strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab)) - 1)
       |      || (SELECT ' '||a||b||' ' FROM ab)
       |      || substr(s, strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab))
       |           + length((SELECT ' '||a||' '||b||' ' FROM ab)))
       |  FROM it
       |  WHERE strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab)) > 0
       |), m1 AS (
       |  SELECT f, string_split(trim(s), ' ') AS syms FROM it
       |  WHERE strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab)) = 0
       |), p2 AS (
       |  SELECT pair, CAST(sum(f) AS BIGINT) AS wcount FROM (
       |    SELECT f, syms[i] || ' ' || syms[i + 1] AS pair
       |    FROM (SELECT f, syms, unnest(range(1, len(syms))) AS i FROM m1))
       |  GROUP BY pair
       |)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS round, rank, pair, wcount FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY wcount DESC, pair) AS BIGINT)
       |      AS rank, pair, wcount FROM p1 ORDER BY wcount DESC, pair LIMIT $TopN)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), rank, pair, wcount FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY wcount DESC, pair) AS BIGINT)
       |      AS rank, pair, wcount FROM p2 ORDER BY wcount DESC, pair LIMIT $TopN)
       |) ORDER BY round, rank""".stripMargin

  val bpeApplyOracle: String =
    s"""WITH RECURSIVE words AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |), s0 AS (
       |  SELECT w, f, string_split(w, '') AS syms FROM words
       |), p1 AS (
       |  SELECT pair, CAST(sum(f) AS BIGINT) AS wcount FROM (
       |    SELECT f, syms[i] || ' ' || syms[i + 1] AS pair
       |    FROM (SELECT f, syms, unnest(range(1, len(syms))) AS i FROM s0))
       |  GROUP BY pair
       |), ab AS (
       |  SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
       |  FROM (SELECT pair FROM p1 ORDER BY wcount DESC, pair LIMIT 1)
       |), it AS (
       |  SELECT w, f, ' ' || array_to_string(syms, ' ') || ' ' AS s FROM s0
       |  UNION ALL
       |  SELECT w, f,
       |    substr(s, 1, strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab)) - 1)
       |      || (SELECT ' '||a||b||' ' FROM ab)
       |      || substr(s, strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab))
       |           + length((SELECT ' '||a||' '||b||' ' FROM ab)))
       |  FROM it
       |  WHERE strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab)) > 0
       |), m1 AS (
       |  SELECT w, f, string_split(trim(s), ' ') AS syms FROM it
       |  WHERE strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab)) = 0
       |), p2 AS (
       |  SELECT pair, CAST(sum(f) AS BIGINT) AS wcount FROM (
       |    SELECT f, syms[i] || ' ' || syms[i + 1] AS pair
       |    FROM (SELECT f, syms, unnest(range(1, len(syms))) AS i FROM m1))
       |  GROUP BY pair
       |), ab2 AS (
       |  SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
       |  FROM (SELECT pair FROM p2 ORDER BY wcount DESC, pair LIMIT 1)
       |), it2 AS (
       |  SELECT w, ' ' || array_to_string(syms, ' ') || ' ' AS s FROM m1
       |  UNION ALL
       |  SELECT w,
       |    substr(s, 1, strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab2)) - 1)
       |      || (SELECT ' '||a||b||' ' FROM ab2)
       |      || substr(s, strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab2))
       |           + length((SELECT ' '||a||' '||b||' ' FROM ab2)))
       |  FROM it2
       |  WHERE strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab2)) > 0
       |), vocab AS (
       |  SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sym
       |  FROM it2
       |  WHERE strpos(s, (SELECT ' '||a||' '||b||' ' FROM ab2)) = 0
       |), dw AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(length(w)) AS BIGINT) AS n_chars,
       |  CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN vocab USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_fit" -> (bpeFit _),
    "bpe_apply" -> (bpeApply _))

  val oracles: Map[String, String] = Map(
    "bpe_fit" -> bpeFitOracle,
    "bpe_apply" -> bpeApplyOracle)
}
