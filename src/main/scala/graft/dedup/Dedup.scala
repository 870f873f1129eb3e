package graft.dedup

import graft.Tables
import graft.text.TextOps
import graft.funcs.r6
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, incremental batch-vs-store.
  *
  * Scale design: nothing here is O(n²) on the full corpus. Exact dedup
  * is a hash groupBy; Jaccard runs inside deterministic blocks;
  * MinHash/SimHash generate candidates through equi-joins on band
  * keys (LSH), and the precise similarity runs only on candidates.
  * Signatures are computed with codegen'd array expressions — no UDFs,
  * no per-token explode shuffle.
  */
object Dedup {

  /** Distinct word tokens, sorted for deterministic array compare. */
  private[graft] val tokens: Column = array_sort(array_distinct(split(col("text"), " ")))

  /** Exact Jaccard between two sorted-distinct token arrays: the
    * native merge-walk expression ([[graft.functions.JaccardSim]]) —
    * one O(|A|+|B|) codegen'd pass, no hash-set build, no interpreted
    * lambda, evaluated once. Callers must register it on the session
    * first ([[graft.functions.Native.register]]). */
  private[graft] def jaccard(a: Column, b: Column): Column =
    graft.funcs.rN(call_function("graft_jaccard", a, b), 6)

  /** The one near-dup verify step: candidate pairs carrying
    * `toks_a`/`toks_b` gain a `jaccard` column and keep j ≥ 0.95.
    * The size-ratio bound runs first: j ≥ t implies min(|A|,|B|) ≥
    * t·max(|A|,|B|), so this integer prefilter prunes candidates
    * before the O(n) intersection without changing the result set.
    * The constant is slightly slack (0.9499, not 0.95) because the
    * final compare is on round(j,6) — a pair with exact j in
    * [0.9499995, 0.95) passes the rounded threshold and must not be
    * pruned here. */
  private[graft] def verifyNearDups(pairs: DataFrame): DataFrame =
    pairs
      .where(least(size(col("toks_a")), size(col("toks_b"))).cast("double") >=
        lit(0.9499) * greatest(size(col("toks_a")), size(col("toks_b"))))
      .withColumn("jaccard", jaccard(col("toks_a"), col("toks_b")))
      .where(col("jaccard") >= 0.95)

  /** The incremental paths' store probe: verifies (batch_id, store_id)
    * candidates against (doc_id, toks) token tables of the batch and
    * the store. The store side is semi-joined down to the candidate
    * store_ids first (a broadcast semi-join — `cands` is tiny), so only
    * O(matches) store token rows are ever broadcast; without the prune,
    * broadcasting the store tokens would ship the whole corpus token
    * table to every executor — O(|store|) per batch, contradicting the
    * O(|batch| + matches) cost of an incremental dedup. */
  private[graft] def verifyAgainstStore(cands: DataFrame, batchToks: DataFrame,
      storeToks: DataFrame): DataFrame = {
    val probed = storeToks
      .join(broadcast(cands.select("store_id").distinct()),
        col("doc_id") === col("store_id"), "leftsemi")
      .toDF("store_id", "toks_b")
    verifyNearDups(cands
      .join(broadcast(batchToks.toDF("batch_id", "toks_a")), "batch_id")
      .join(broadcast(probed), "store_id"))
  }

  // --------------------------------------------------------------- #29
  /** Exact duplicate groups: md5(text) groupBy, keeper = min doc_id —
    * the canonical 100 TB dedup pattern (single shuffle on the hash).
    *
    * The corpus is the base documents table UNION a deterministically
    * re-ingested slice (doc_id % 17 = 3, re-keyed +2^40 — a high bit
    * no generated doc_id can reach, so mirrored ids can NEVER collide
    * with real ones even on a billion-document corpus; a fixed +1e6
    * offset would silently corrupt keeper selection past 1M docs) — the
    * re-crawl scenario exact dedup exists for. The seed is mirrored
    * verbatim in the oracle, so the gate proves NONZERO duplicate
    * detection at every SF (the generated corpus alone has no exact
    * dups below sf0.1, and a 0 = 0-row hash match proves only that
    * both engines found nothing — round-13 de-vacuation). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val recrawl = docs.where(col("doc_id") % 17 === 3)
      .withColumn("doc_id", col("doc_id") + (1L << 40))
    docs.unionByName(recrawl)
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper_id"))
      .where(col("n_docs") > 1)
      .orderBy("content_md5")
  }

  val exactDedupOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1099511627776 AS doc_id, text FROM documents WHERE doc_id % 17 = 3
      |)
      |SELECT md5(text) AS content_md5, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
      |FROM corpus GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- #30
  /** Blocked n-gram (unigram-set) Jaccard: candidate pairs within a
    * deterministic block (lang, n_chars bucket), exact Jaccard ≥ 0.95.
    * Blocking bounds the pair count; at scale the block key is the
    * shuffle key. */
  /** Hard per-block population cap: pair volume is quadratic in block
    * size, so an unbounded block is the one way this exact variant can
    * die at corpus scale (a duplicate-saturated (lang, size) block
    * grows linearly with the corpus). The cap keeps any single task's
    * pair work ≤ CAP²/2 regardless of input size; it is deterministic
    * (rank by doc_id) and mirrored in the oracle, so the answer stays
    * exact whenever no block saturates — which is why the UNCAPPED
    * scale path is [[minHashLsh]], where banding (not blocking) bounds
    * the pair volume. */
  private val blockCap = 10000

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val wcap = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "size_bucket").orderBy("doc_id")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / 50).cast("long").as("size_bucket"), tokens.as("toks"))
      .withColumn("blk_rk", row_number().over(wcap))
      .where(col("blk_rk") <= blockCap)
      .drop("blk_rk")
    // Numbered repartition on the block key: the downstream pair
    // volume is quadratic in block size, so AQE's byte-based view
    // would coalesce an un-numbered exchange to ~1 task and serialize
    // the Jaccard pass (see Components.nearDupComponents).
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val a = docs.select(col("lang"), col("size_bucket"),
      col("doc_id").as("id_a"), col("toks").as("toks_a"))
      .repartition(nPart, col("lang"), col("size_bucket"))
    val b = docs.select(col("lang"), col("size_bucket"),
      col("doc_id").as("id_b"), col("toks").as("toks_b"))
      .repartition(nPart, col("lang"), col("size_bucket"))
    verifyNearDups(a.join(b, Seq("lang", "size_bucket"))
        .where(col("id_a") < col("id_b")))
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  val ngramJaccardOracle: String =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars // 50 AS size_bucket,
      |    list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY lang, n_chars // 50 ORDER BY doc_id) <= 10000
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE /
      |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
      |FROM t a JOIN t b
      |  ON a.lang = b.lang AND a.size_bucket = b.size_bucket AND a.doc_id < b.doc_id
      |WHERE ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE /
      |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) >= 0.95
      |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- #31
  /** MinHash(128) + LSH(16 bands × 8 rows) near-dup pairs, exact
    * Jaccard verification ≥ 0.95. At the 0.95 threshold band recall is
    * 1 - (1-0.95⁸)¹⁶ ≈ 1 - 3e-8, so the LSH candidate set contains
    * every qualifying pair (up to that vanishing miss rate) and the
    * output equals the exact O(n²) answer — which is what the oracle
    * computes. r=8 (vs 4) halves the candidate volume on this
    * near-dup-saturated corpus.
    *
    * Signatures: token → polynomial hash h; perm_i(h) = (aᵢ·h+bᵢ) mod
    * 1e9+7; sig[i] = min over tokens. All computed as nested array
    * expressions inside codegen, one row per doc. */
  /** 128 (a, b) coefficient pairs for the universal hash family
    * perm_i(h) = (a·h + b) mod 1e9+7, drawn from a splitmix64 stream —
    * deterministic but WELL-MIXED. The original a_i = 2i+3,
    * b_i = 1000003·i was linear in i, making the 128 "permutations"
    * strongly correlated: one differing token could flip whole runs
    * of signature positions together, so per-band independence (the
    * 1-(1-j^r)^b recall bound) did not hold — measured at sf0.1 as 56
    * qualifying pairs (j ≈ 0.96!) whose docs band-matched their
    * cluster in NONE of the 16 bands. Independent-looking
    * coefficients restore the bound; a ∈ [1, p-1] keeps each map a
    * bijection, and a·h + b < 1.1e18 never overflows a Long. */
  private[graft] lazy val minhashPerms: Array[(Long, Long)] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.tabulate(128) { i =>
      (java.lang.Math.floorMod(mix(2L * i), 1000000006L) + 1L,
        java.lang.Math.floorMod(mix(2L * i + 1), 1000000007L))
    }
  }

  def minHashLsh(spark: SparkSession, dir: String): DataFrame =
    minHashLshOn(Tables.documents(spark, dir))

  /** 128-perm MinHash signatures, one row per doc.
    * Repartition: the corpus arrives as one parquet split at test
    * scale; signature computation must fan out over all cores (at
    * 100 TB the input splits provide this for free). The computation
    * stays inside whole-stage codegen: one row per (doc, token-hash)
    * and 128 min-aggregates, instead of nested higher-order lambdas
    * (which Spark evaluates interpreted, ~20× slower). The per-token
    * char fold runs once per token. */
  private[graft] def signatures(docs: DataFrame): DataFrame = {
    val tokenHashes = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens.as("toks"))
      .withColumn("thashes", expr(
        "transform(toks, t -> graft_polyhash(t, 31))"))
      .select(col("doc_id"), explode(col("thashes")).as("h"))
    val permCols = (0 until 128).map { i =>
      val (a, b) = minhashPerms(i)
      min(pmod(lit(a) * col("h") + lit(b), lit(1000000007L))).as(s"s$i")
    }
    tokenHashes.groupBy("doc_id").agg(permCols.head, permCols.tail: _*)
      .withColumn("sigarr", array((0 until 128).map(i => col(s"s$i")): _*))
      .select("doc_id", "sigarr")
  }

  /** 16 bands × 8 rows over a `sigarr` column, as band structs. */
  private def bandStructs: Seq[Column] = (0 until 16).map { j =>
    struct(lit(j).as("band_idx"),
      hash((0 until 8).map(k => col("sigarr")(8 * j + k)): _*).as("band_key"))
  }

  /** (doc_id, band_idx, band_key) rows for a (doc_id, text) frame —
    * the persisted form of an LSH index ([[minHashLshIncremental]]'s
    * store, [[graft.streaming.Streaming]]'s streaming near-dup). */
  private[graft] def bandRows(docs: DataFrame): DataFrame =
    signatures(docs)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_key"))

  /** Operator core over any (doc_id, text) frame — split out so specs
    * can drive adversarial synthetic clusters through the REAL
    * signature/banding/verify path (MinHashRecallSpec pins the
    * correlated-permutation regression of SURVEY §5a #24). */
  private[graft] def minHashLshOn(docs: DataFrame): DataFrame =
    minHashLshPairs(docs).orderBy("id_a", "id_b")

  /** [[minHashLshOn]] without the presentation sort — the per-batch
    * streaming caller appends to a pair store and sorts once at the
    * final read, so a per-trigger range exchange (plus its sampling
    * job) would be pure fixed cost. */
  private[graft] def minHashLshPairs(docs: DataFrame): DataFrame = {
    val idx = lshIndex(docs)
    pairsFromIndex(idx, docs.select(col("doc_id"), tokens.as("toks")))
  }

  /** The signature-derived index tables of the full-corpus near-dup
    * report — membership (gid, grp_n, doc_id) and per-group
    * representative bands (gid, band_idx, band_key). Split from
    * [[pairsFromIndex]] so [[LshStore.minHashLshStored]] can stage
    * them at ingest and serve the pair report with ZERO signature
    * arithmetic on the query path. */
  private[graft] case class LshIndex(membership: DataFrame, repBands: DataFrame)

  private[graft] def lshIndex(docs: DataFrame): LshIndex = {
    val spark = docs.sparkSession
    graft.functions.Native.register(spark)
    // localCheckpoint, not cache(): this runs per micro-batch inside
    // stream_dedup_lsh's foreachBatch, and a CacheManager entry would
    // outlive the batch (leaking one table per trigger). Checkpoint
    // blocks pin the compute-once semantics but are reclaimed by the
    // ContextCleaner when the batch's plans are released.
    // SIGNATURE COLLAPSE — the load-bearing step for a near-dup-
    // saturated corpus. Large duplicate clusters share the exact
    // 128-perm signature, so every band bucket they touch holds the
    // whole cluster; a doc-level banded self-join then funnels k²
    // pairs through the single task that owns that band key (measured
    // here: a 607-doc signature group, 3.8k-doc band buckets, 50M
    // join rows pre-distinct — and at 100 TB that one task never
    // finishes). Grouping by the signature first shrinks the band join
    // to one representative per distinct signature; member pairs are
    // reconstructed through MEMBERSHIP SELF-JOINS afterwards, already
    // unique — no 50M-row distinct.
    // Membership rows, not member LISTS: the earlier
    // collect_list-then-double-explode held every duplicate cluster as
    // one array in a single aggregation buffer — a 10^5-doc
    // mega-cluster is a 10^5-element array in ONE row, unspillable and
    // O(cluster) memory on the groups table and every explode consumer.
    // The (gid, doc_id) membership table keeps every operator state one
    // row wide: the agg is a streaming min/count, the join-back is a
    // spillable shuffle join, and the cluster's quadratic OUTPUT pairs
    // (the answer itself) stream out of a join instead of an explode
    // (MegaClusterSpec pins both the plan and a seeded mega-cluster).
    // `gkey` is a COMPACT 96-bit signature digest (xxhash64 ⊕ murmur3
    // over the exact 128-perm array): grouping and joining on the
    // 1 KB array itself shuffles KB-wide keys and sort-merges on
    // O(128) comparisons (measured +35% on the whole operator); the
    // digest carries the same collision standard as exact dedup's
    // md5(text) key, and every emitted pair is still verified by
    // exact Jaccard below.
    val sigs = signatures(docs)
      .withColumn("gkey", struct(xxhash64(col("sigarr")).as("h1"),
        hash(col("sigarr")).as("h2")))
      .localCheckpoint()
    val groups = sigs.groupBy("gkey")
      .agg(min("doc_id").as("gid"), count(lit(1)).as("grp_n"),
        max("sigarr").as("sigarr"))
      .localCheckpoint()
    // narrow (gkey, doc_id) ⋈ narrow (gkey, gid): neither side carries
    // the signature array, so the membership fetch is a cheap
    // co-partitioned shuffle join at any scale
    val membership = sigs.select("gkey", "doc_id")
      .join(groups.select("gkey", "gid", "grp_n"), "gkey")
      .select("gid", "grp_n", "doc_id")
      .localCheckpoint()
    val repBands = groups
      .select(col("gid"), explode(array(bandStructs: _*)).as("band"))
      .select(col("gid"), col("band.band_idx"), col("band.band_key"))
    LshIndex(membership, repBands)
  }

  /** Candidate generation + exact verify over (staged or inline) index
    * tables and a (doc_id, toks) token table. */
  private[graft] def pairsFromIndex(idx: LshIndex, toksById: DataFrame): DataFrame = {
    graft.functions.Native.register(toksById.sparkSession)
    val membership = idx.membership
    // Pairs within one signature group match in every band by
    // construction (quadratic in the group size — inherent: those
    // pairs are all in the answer). Restricted to the non-singleton
    // sliver BEFORE the self-join, so a mostly-unique corpus never
    // shuffles itself on gid; AQE's skew split handles a mega-cluster's
    // hot gid partition.
    val multi = membership.where(col("grp_n") > 1).select("gid", "doc_id")
    val within = multi.toDF("gid", "id_a").join(multi.toDF("gid", "id_b"), "gid")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // Cross-group candidates: banded self-join over distinct-signature
    // representatives only, then expand each (group, group) hit to its
    // member pairs. The membership fetch joins are UN-HINTED: the
    // membership table is corpus-sized — a forced broadcast() would
    // ship it whole to every executor at 100 TB. Statistics
    // (localCheckpoint preserves them) broadcast the SMALL side
    // (groupPairs) while it fits; past the threshold the same plan
    // shuffles on gid, bounded by |groupPairs| + |membership|.
    val repBands = idx.repBands
    val groupPairs = repBands.toDF("gid_a", "band_idx", "band_key")
      .join(repBands.toDF("gid_b", "band_idx", "band_key"), Seq("band_idx", "band_key"))
      .where(col("gid_a") < col("gid_b"))
      .select("gid_a", "gid_b")
      .distinct()
    val memIds = membership.select("gid", "doc_id")
    val cross = groupPairs
      .join(memIds.toDF("gid_a", "id_x"), "gid_a")
      .join(memIds.toDF("gid_b", "id_y"), "gid_b")
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
    // Disjoint by construction: within-pairs share a signature, cross
    // pairs span two groups, and each (gid_a, gid_b) is distinct.
    val candidates = within.unionAll(cross)
    // Token-fetch for verify: UN-HINTED equi-joins on doc_id, so the
    // planner chooses by statistics — at bench scale the doc token
    // table sits under autoBroadcastJoinThreshold and both joins plan
    // as broadcasts; at 100 TB the table exceeds the threshold and the
    // same plan degrades to shuffle joins on doc_id (each side hashed
    // once — O(candidates + corpus), no 8 GB broadcast ceiling). A
    // forced broadcast() here would override the size check and ship
    // the whole corpus token table to every executor.
    verifyNearDups(candidates
        .join(toksById.withColumnRenamed("doc_id", "id_a").withColumnRenamed("toks", "toks_a"), "id_a")
        .join(toksById.withColumnRenamed("doc_id", "id_b").withColumnRenamed("toks", "toks_b"), "id_b"))
      .select("id_a", "id_b", "jaccard")
  }

  // -------------------------------------------------------------- #31a
  /** Incremental NEAR-DUP dedup: a new batch (doc_id < 50) banded
    * against the persistent corpus store (doc_id ≥ 50) — the
    * asymmetric join a crawl pipeline runs every ingest, and the
    * near-dup analog of [[incrementalDedup]]'s exact-hash semi-join.
    * The batch's band keys (tiny: |batch| × 16 rows) BROADCAST into an
    * equi-join against the store's band keys, so the store is touched
    * band-pruned only — never self-joined, never shuffled whole, and
    * in production its signatures/bands are computed once at ingest
    * and persisted (a column-pruned band table), so each new batch
    * costs O(|batch| + matches), not O(|store|). Candidates then
    * verify with exact Jaccard ≥ 0.95 exactly like [[minHashLsh]],
    * with the same 1-(1-j⁸)¹⁶ recall bound (independent splitmix64
    * permutation coefficients — §5a #24). Oracle: the exact
    * batch × store answer. */
  def minHashLshIncremental(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val docs = Tables.documents(spark, dir)
    val bands = bandRows(docs)
    val batch = bands.where(col("doc_id") < 50)
      .toDF("batch_id", "band_idx", "band_key")
    val store = bands.where(col("doc_id") >= 50)
      .toDF("store_id", "band_idx", "band_key")
    // localCheckpoint, not cache(): the frame is returned lazily, so an
    // in-function unpersist is impossible and a CacheManager entry
    // would persist for the session (one per ingest batch in
    // production). Checkpoint blocks are GC-reclaimed with the plan.
    val cands = broadcast(batch).join(store, Seq("band_idx", "band_key"))
      .select("batch_id", "store_id").distinct().localCheckpoint()
    incrementalPairs(docs, cands)
  }

  /** The batch (doc_id < 50) × store answer for (batch_id, store_id)
    * candidates over `docs` — shared by [[minHashLshIncremental]] and
    * [[LshStore.incrementalLshStored]], which differ only in where
    * their candidates come from. */
  private[graft] def incrementalPairs(docs: DataFrame, cands: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens.as("toks"))
    verifyAgainstStore(cands, toks.where(col("doc_id") < 50), toks)
      .select("batch_id", "store_id", "jaccard")
      .orderBy("batch_id", "store_id")
  }

  /** Oracle: the exact batch × store answer. */
  val minHashLshIncrementalOracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
      |)
      |SELECT a.doc_id AS batch_id, b.doc_id AS store_id,
      |  ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE /
      |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < 50 AND b.doc_id >= 50
      |WHERE ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE /
      |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) >= 0.95
      |ORDER BY 1, 2""".stripMargin

  /** Oracle: the exact O(n²) answer (tractable at verify scale). */
  val minHashLshOracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE /
      |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE /
      |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) >= 0.95
      |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- #32
  /** 60-bit SimHash (two 30-bit polynomial hash families) + hamming ≤ 3
    * pairs. Candidates via 4×15-bit band equi-join — pigeonhole: ≤3
    * differing bits leave at least one of 4 bands identical, so band
    * candidates provably include every qualifying pair. The oracle
    * computes the exact O(n²) answer with the same simhash. */
  def simHashDocs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    // Same codegen-friendly shape as minHashLsh: explode per-token
    // hash pairs, 60 bit-balance SUM aggregates, then assemble the
    // 60-bit fingerprint — no interpreted higher-order folds.
    val tokenHashPairs = Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens.as("toks"))
      .withColumn("thp", expr(
        """transform(toks, t -> struct(
          |  graft_polyhash(t, 31) AS h1,
          |  graft_polyhash(t, 37) AS h2))""".stripMargin))
      .select(col("doc_id"), explode(col("thp")).as("p"))
      .select(col("doc_id"), col("p.h1"), col("p.h2"))
    val bitSums = (0 until 60).map { j =>
      val h = if (j < 30) col("h1") else col("h2")
      sum(shiftright(h, j % 30).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$j")
    }
    val assembled = (0 until 60).map { j =>
      when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    tokenHashPairs.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), assembled.as("simhash"))
  }

  def simHash(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint (feeds both sides of the banded self-join):
    // compute-once without a session-lifetime CacheManager entry
    val sims = simHashDocs(spark, dir).localCheckpoint()
    val banded = sims.select(col("doc_id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), b -> struct(b AS band_idx, shiftright(simhash, 15*b) & 32767 AS band_key))")).as("band"))
      .select(col("doc_id"), col("simhash"), col("band.band_idx"), col("band.band_key"))
    val a = banded.select(col("band_idx"), col("band_key"),
      col("doc_id").as("id_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band_idx"), col("band_key"),
      col("doc_id").as("id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band_idx", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(expr("sim_a ^ sim_b")).cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  val simHashOracle: String = {
    val thp =
      """list_transform(list_distinct(string_split(text, ' ')), t -> [
        |  list_reduce(list_transform(string_split(t, ''), ch -> ascii(ch)::BIGINT), (a, b) -> (a * 31 + b) % 1000000007),
        |  list_reduce(list_transform(string_split(t, ''), ch -> ascii(ch)::BIGINT), (a, b) -> (a * 37 + b) % 1000000007)])""".stripMargin
    s"""WITH th AS (
       |  SELECT doc_id, $thp AS thp FROM documents
       |), sim AS (
       |  SELECT doc_id,
       |    list_reduce(list_transform(range(0, 60), j ->
       |      CASE WHEN list_reduce(list_transform(thp, h ->
       |          (((CASE WHEN j < 30 THEN h[1] ELSE h[2] END >> (j % 30)) & 1) * 2 - 1)::BIGINT),
       |          (x, y) -> x + y) >= 0
       |        THEN (1::BIGINT << j) ELSE 0::BIGINT END),
       |      (x, y) -> x + y) AS simhash
       |  FROM th
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY 1, 2""".stripMargin
  }

  // -------------------------------------------------------------- #30a
  /** Edit budget for [[editDistance]]: pairs within `levBudget`
    * character edits are near-dups. An ABSOLUTE budget (not a fraction
    * of the text length) is what keeps the operator alive at corpus
    * scale: Spark's 3-arg `levenshtein(a, b, k)` runs the BANDED DP —
    * O(k·len) per pair instead of O(len²) — and returns -1 the moment
    * the band is exceeded, so the threshold IS the filter. The
    * unbanded relative-threshold variant measured 555 s at sf0.1
    * (full 90k-cell DP on every blocked pair) vs ~2 s banded; at
    * 100 TB the full DP is simply not runnable. */
  private val levBudget = 20

  /** Blocked edit-distance near-dup pairs: Levenshtein ≤ [[levBudget]]
    * within the same deterministic (lang, size) blocks (and cap) as
    * [[ngramJaccard]]. Character-level distance catches the near-dups
    * token-set Jaccard is blind to (small in-place edits with
    * reordered words rank the same under a set measure; they don't
    * under edit distance) — the CCNet/Gopher-era "fuzzy duplicate"
    * definition. Pairs whose length gap already exceeds the budget
    * never reach the DP (edit distance ≥ |len difference|, a codegen'd
    * integer prefilter), and the DP itself is the banded built-in —
    * no UDF. */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    val wcap = Window.partitionBy("lang", "size_bucket").orderBy("doc_id")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / 50).cast("long").as("size_bucket"),
        col("text"), length(col("text")).as("len"))
      .withColumn("blk_rk", row_number().over(wcap))
      .where(col("blk_rk") <= blockCap)
      .drop("blk_rk")
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val a = docs.select(col("lang"), col("size_bucket"), col("doc_id").as("id_a"),
      col("text").as("text_a"), col("len").as("len_a"))
      .repartition(nPart, col("lang"), col("size_bucket"))
    val b = docs.select(col("lang"), col("size_bucket"), col("doc_id").as("id_b"),
      col("text").as("text_b"), col("len").as("len_b"))
      .repartition(nPart, col("lang"), col("size_bucket"))
    a.join(b, Seq("lang", "size_bucket"))
      .where(col("id_a") < col("id_b"))
      // length bound: lev >= |len_a - len_b|, so a pair whose length
      // gap already exceeds the budget never runs the banded DP
      .where(abs(col("len_a") - col("len_b")) <= lit(levBudget))
      // banded DP (-1 = over budget), evaluated ONCE: a `where(lev
      // >= 0)` above the projection gets pushed into the join
      // condition and the DP runs twice per pair (measured 2× —
      // §5a lesson 1's pushdown sibling). Filtering inside the
      // generator leaves no Filter node to push: the empty array
      // drops the over-budget pair, the 1-element array carries the
      // distance through a single evaluation.
      .select(col("id_a"), col("id_b"), col("len_a"), col("len_b"),
        explode(expr(
          s"filter(array(levenshtein(text_a, text_b, $levBudget)), l -> l >= 0)"))
          .as("lev"))
      .withColumn("rel", r6(col("lev").cast("double") /
        greatest(col("len_a"), col("len_b"))))
      .select("id_a", "id_b", "lev", "rel")
      .orderBy("id_a", "id_b")
  }

  val editDistanceOracle: String =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars // 50 AS size_bucket, text, LENGTH(text) AS len
      |  FROM documents
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY lang, n_chars // 50 ORDER BY doc_id) <= 10000
      |)
      |SELECT id_a, id_b, lev, ROUND(lev::DOUBLE / glen, 6) AS rel FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    levenshtein(a.text, b.text) AS lev, GREATEST(a.len, b.len) AS glen
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.size_bucket = b.size_bucket AND a.doc_id < b.doc_id
      |  WHERE ABS(a.len - b.len) <= 20)
      |WHERE lev <= 20 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------- #29a
  /** Incremental corpus dedup: an arriving batch is deduped against
    * the EXISTING corpus without ever reshuffling the corpus — how a
    * 100 TB store actually operates (you dedup the day's crawl, not
    * the archive). Docs with doc_id ≡ 0 (mod 10) play the arriving
    * batch; the rest play the store.
    *
    * Scale shape: the batch's distinct hashes are broadcast; the store
    * is scanned ONCE through a broadcast semi-join (no store shuffle,
    * filter pushdown intact) and only the matched hashes — at most
    * |batch| rows — come back. Within-batch first-wins is a window
    * over the batch only. Each arrival is labeled `dup_store`
    * (content already archived), `dup_batch` (an earlier arrival in
    * the same batch wins), or `new`. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).withColumn("h", md5(col("text")))
    val batch = docs.where(col("doc_id") % 10 === 0)
    val store = docs.where(col("doc_id") % 10 =!= 0)
    // store-side semi-join against the broadcast batch hash set: the
    // big side never shuffles, and the result is bounded by the batch
    val inStore = store
      .join(broadcast(batch.select("h").distinct()), Seq("h"), "left_semi")
      .select("h").distinct()
    val w = Window.partitionBy("h").orderBy("doc_id")
    batch
      .withColumn("rk", row_number().over(w))
      .join(broadcast(inStore.withColumn("in_store", lit(true))), Seq("h"), "left")
      .select(col("doc_id"),
        when(col("in_store"), lit("dup_store"))
          .when(col("rk") > 1, lit("dup_batch"))
          .otherwise(lit("new")).as("status"))
      .orderBy("doc_id")
  }

  val incrementalDedupOracle: String =
    """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
      |batch AS (
      |  SELECT doc_id, h, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rk
      |  FROM d WHERE doc_id % 10 = 0),
      |in_store AS (
      |  SELECT DISTINCT h FROM d
      |  WHERE doc_id % 10 <> 0 AND h IN (SELECT h FROM batch))
      |SELECT b.doc_id,
      |  CASE WHEN s.h IS NOT NULL THEN 'dup_store'
      |       WHEN b.rk > 1 THEN 'dup_batch'
      |       ELSE 'new' END AS status
      |FROM batch b LEFT JOIN in_store s ON b.h = s.h
      |ORDER BY b.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (exactDedup _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_minhash_lsh" -> (minHashLsh _),
    "dedup_incremental_lsh" -> (minHashLshIncremental _),
    "dedup_simhash" -> (simHash _),
    "dedup_incremental" -> (incrementalDedup _),
    "dedup_edit_distance" -> (editDistance _))

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> exactDedupOracle,
    "dedup_ngram_jaccard" -> ngramJaccardOracle,
    "dedup_minhash_lsh" -> minHashLshOracle,
    "dedup_incremental_lsh" -> minHashLshIncrementalOracle,
    "dedup_simhash" -> simHashOracle,
    "dedup_incremental" -> incrementalDedupOracle,
    "dedup_edit_distance" -> editDistanceOracle)
}
