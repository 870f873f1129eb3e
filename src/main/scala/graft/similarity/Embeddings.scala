package graft.similarity

import graft.Tables
import graft.funcs.{r6, rN}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity operators: near-dup detection, brute-force
  * cosine top-k, and an LSH-bucketed ANN variant.
  *
  * Vectors stay as `array<float>` columns (cast to double for math);
  * dot products run through the native codegen'd
  * [[graft.functions.DotProduct]] expression, whose index-ordered
  * loop sums in the same IEEE order as the oracle's fold — both
  * engines produce bit-identical sums. Scale: probes broadcast against
  * the corpus (no shuffle of the big side); near-dup pairs are blocked
  * on a coarse key; the ANN path buckets by hyperplane signature so
  * candidate sets shrink ~2^planes-fold.
  */
object Embeddings {

  /** Ordered-fold dot product of two double arrays (index order, so
    * cross-engine deterministic). */
  private def dot(a: String, b: String): Column =
    expr(s"graft_dot($a, $b)")

  // Precondition: vectors are non-zero — cosine against a zero-norm
  // vector is undefined (0/0 → NaN, where engine ordering/filter
  // semantics diverge). A production corpus should drop or re-embed
  // zero vectors upstream (`where(norm2 > 0)`) before these operators.
  private[similarity] def vecs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(spark)
    vecsOf(Tables.embeddings(spark, dir))
  }

  /** The same vector preparation over an already-loaded embeddings
    * frame (streaming micro-batches — [[graft.streaming.PcaStream]]).
    * Caller must have registered graft_dot/graft_dense. */
  private[graft] def vecsOf(emb: DataFrame): DataFrame = {
    // repartition: the single-file table otherwise pins the remaining
    // interpreted per-row transform to ONE core at test scale; at
    // warehouse scale the input splits provide the fan-out for free
    // graft_dense: parquet reads force containsNull=true even on dense
    // vectors, which would put a per-element null branch inside every
    // graft_dot loop downstream — assert the elements non-null once
    // here (the driver writes dense embeddings; zero-norm precondition
    // above already excludes degenerate vectors)
    emb
      .repartition(32)
      .withColumn("v", expr("graft_dense(transform(embedding, x -> CAST(x AS DOUBLE)))"))
      .withColumn("norm2", dot("v", "v"))
      .select("vec_id", "label", "v", "norm2")
  }

  private[similarity] def cosine: Column =
    r6(dot("v_a", "v_b") / (sqrt(col("norm2_a")) * sqrt(col("norm2_b"))))

  /** DuckDB equivalents of the same fold arithmetic. */
  private[similarity] val vecsSql =
    """SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |    list_reduce(list_transform(range(1, len(embedding) + 1), i ->
      |      embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) AS norm2
      |  FROM embeddings""".stripMargin

  // The trailing `+ 0.0` on every rounded cosine/centroid below
  // normalizes DuckDB's signed zero: a tiny-negative cosine rounds to
  // -0.0 under DuckDB's ROUND but +0.0 under Spark's BigDecimal
  // HALF_UP, and the driver hashes bits. `x + 0.0` is the identity for
  // every double except -0.0 (which becomes +0.0, matching Spark).
  private[similarity] val cosSql =
    """(ROUND(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      | / (SQRT(a.norm2) * SQRT(b.norm2)), 6) + 0.0)""".stripMargin

  // --------------------------------------------------------------- #33
  /** Embedding-cosine near-duplicate pairs within label blocks,
    * cosine ≥ 0.4. */
  def embeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("v_a"), col("norm2").as("norm2_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("v_b"), col("norm2").as("norm2_b"))
    a.join(b, Seq("label"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", cosine)
      .where(col("cos") >= 0.4)
      .select("id_a", "id_b", "label", "cos")
      .orderBy("id_a", "id_b")
  }

  val embeddingDedupOracle: String =
    s"""WITH e AS ($vecsSql)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label, $cosSql AS cos
       |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE $cosSql >= 0.4
       |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- #33a
  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs
    * scoped to K-MEANS CLUSTERS — the standard way to make
    * embedding-cosine dedup tractable at corpus scale. Every vector is
    * assigned to its nearest centroid (broadcast centroids, corpus
    * never shuffles for the assignment — same E-step as
    * [[kmeansAssign]]); the quadratic cosine check then runs only
    * WITHIN a cluster. Growing k with the corpus holds cluster size
    * (and so per-cluster pair work) constant — that is the published
    * algorithm's scale argument, vs [[embeddingDedup]]'s fixed label
    * blocks. Keeper = lower vec_id, as in the reference pipeline
    * papers. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val cents = centroidsBase(spark, dir)
      .groupBy(col("label").as("cent_label"))
      .agg(expr("graft_dense(transform(array_sort(collect_list(struct(dim, c))), s -> s.c))").as("vc"))
      .withColumn("cnorm2", expr(
        "graft_dot(vc, vc)"))
    // cached: the assigned table feeds both self-join sides.
    // Assignment argmax via partial-aggregable min_by ((−ccos,
    // cent_label) min = (ccos DESC, cent_label) first) — map-side
    // collapse instead of a corpus×K vector-carrying window sort.
    val assigned = vecs(spark, dir)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", r6(
        expr("graft_dot(v, vc)") /
          (sqrt(col("norm2")) * sqrt(col("cnorm2")))))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("v"), col("norm2"), col("cent_label")),
        struct(-col("ccos"), col("cent_label"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.norm2").as("norm2"),
        col("best.cent_label").as("cluster"))
      .localCheckpoint()
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("norm2").as("norm2_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("norm2").as("norm2_b"))
    a.join(b, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", cosine)
      .where(col("cos") >= 0.4)
      .select("cluster", "id_a", "id_b", "cos")
      .orderBy("cluster", "id_a", "id_b")
  }

  val semanticDedupOracle: String =
    s"""WITH comp AS (
       |  SELECT label, i AS dim,
       |    ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) + 0.0 AS c
       |  FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
       |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
       |  GROUP BY 1, 2
       |), cents AS (
       |  SELECT label AS cent_label, list(c ORDER BY dim) AS vc FROM comp GROUP BY 1
       |), cents2 AS (
       |  SELECT cent_label, vc,
       |    list_reduce(list_transform(range(1, len(vc) + 1), i -> vc[i] * vc[i]), (x, y) -> x + y) AS cnorm2
       |  FROM cents
       |), e AS ($vecsSql),
       |scored AS (
       |  SELECT e.vec_id, e.v, e.norm2, c.cent_label,
       |    ROUND(list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.vc[i]), (x, y) -> x + y)
       |      / (SQRT(e.norm2) * SQRT(c.cnorm2)), 6) + 0.0 AS ccos
       |  FROM e CROSS JOIN cents2 c
       |), asg AS (
       |  SELECT vec_id, v, norm2, cent_label AS cluster FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_label) AS rnk
       |    FROM scored)
       |  WHERE rnk = 1
       |)
       |SELECT cluster, id_a, id_b, cos FROM (
       |  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b, $cosSql AS cos
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |)
       |WHERE cos >= 0.4
       |ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- #34
  /** Brute-force cosine top-10 neighbors for probe vectors (vec_id <
    * 5). Probes broadcast; ranking is total (rounded cosine desc, then
    * neighbor id). */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("v_a"), col("norm2").as("norm2_a"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("v").as("v_b"), col("norm2").as("norm2_b"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(corpus, col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select("probe_id", "neighbor_id", "cos", "rank")
      .orderBy("probe_id", "rank")
  }

  val annTopKOracle: String =
    s"""WITH e AS ($vecsSql),
       |scored AS (
       |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, $cosSql AS cos
       |  FROM e a JOIN e b ON a.vec_id < 5 AND a.vec_id <> b.vec_id
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT probe_id, neighbor_id, cos, rank FROM ranked
       |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin

  // -------------------------------------------------------------- #34b
  /** Cosine RANGE search: every corpus vector within a similarity
    * radius of each probe (cos ≥ τ = 0.3) — the companion query shape
    * to [[annTopK]]'s top-k (RAG retrieval wants k best; dedup/recall
    * audits and "find everything this similar" want ALL above a
    * threshold, and a k cutoff silently truncates dense neighborhoods).
    *
    * Plan: probes broadcast onto the corpus scan — the corpus never
    * shuffles and there is NO per-probe window/rank at all (contrast
    * top-k): the threshold is a plain codegen'd filter on the
    * broadcast-joined pair, so the operator is one scan regardless of
    * how dense the neighborhoods are. Exact by construction; for
    * probe sets too large to broadcast, the scale path is the same
    * banded prefilter as [[annLshTopK]] (bucket equi-join, exact
    * verify on candidates), trading recall ≥ the LSH bound for a
    * probe-side shuffle. */
  def annRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("v_a"), col("norm2").as("norm2_a"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("v").as("v_b"), col("norm2").as("norm2_b"))
    broadcast(probes).join(corpus, col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine)
      .where(col("cos") >= 0.3)
      .select("probe_id", "neighbor_id", "cos")
      .orderBy("probe_id", "neighbor_id")
  }

  val annRangeSearchOracle: String =
    s"""WITH e AS ($vecsSql)
       |SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, $cosSql AS cos
       |FROM e a JOIN e b ON a.vec_id < 5 AND a.vec_id <> b.vec_id
       |WHERE $cosSql >= 0.3
       |ORDER BY probe_id, neighbor_id""".stripMargin

  // --------------------------------------------------------------- #35
  /** LSH-bucketed ANN: multi-table random-hyperplane hashing — 4
    * tables × 6 deterministic pseudo-random hyperplanes; a candidate
    * matches if it shares the probe's bucket in ANY table (classic
    * recall amplification), then exact cosine ranks candidates.
    * Approximate but fully deterministic (rounded-sin hyperplanes,
    * rounded-cosine total ranking), so the index is hash-checked
    * against a full SQL oracle AND recall-checked against
    * [[annTopK]]. */
  /** Hyperplane weights, precomputed once on the driver: rounded sins
    * of the same deterministic grid the oracle recomputes in SQL.
    * `Math.sin` + scale-0 HALF_UP on the ×1e6-scaled value is exactly
    * [[graft.funcs.r6]] (≡ DuckDB's ROUND(x, 6) — see r6's scaladoc
    * for why scale-0 is unambiguous), and the 6-dp rounding absorbs
    * the ≤1-ulp libm disagreement with DuckDB — embedding them as a
    * literal removes 24×64 interpreted sin evals per ROW (they are
    * row-invariant; the lambda formulation recomputed them every time
    * because higher-order lambdas don't constant-fold). */
  private lazy val lshWeights: Array[Array[Double]] =
    Array.tabulate(24) { tp =>
      Array.tabulate(64) { d =>
        BigDecimal.valueOf(math.sin((tp * 97 + d * 31).toDouble) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
      }
    }

  def annLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
      .withColumn("w", typedLit(lshWeights))
      .withColumn("table_bucket", explode(expr(
        """transform(sequence(0, 3), t -> struct(t AS tbl,
          |  aggregate(sequence(0, 5), CAST(0 AS BIGINT), (acc, p) -> acc + IF(
          |    graft_dot(v, w[t * 6 + p]) >= 0.0,
          |    shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT))) AS bucket))""".stripMargin)))
      .select(col("vec_id"), col("label"), col("v"), col("norm2"),
        col("table_bucket.tbl"), col("table_bucket.bucket"))
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("v_a"),
        col("norm2").as("norm2_a"), col("tbl"), col("bucket"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("v").as("v_b"),
      col("norm2").as("norm2_b"), col("tbl"), col("bucket"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(corpus, Seq("tbl", "bucket"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "neighbor_id", "v_a", "norm2_a", "v_b", "norm2_b")
      .distinct()
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select("probe_id", "neighbor_id", "cos", "rank")
      .orderBy("probe_id", "rank")
  }

  /** Full DuckDB oracle for the LSH path: same rounded-sin hyperplane
    * weights, same left-fold sign sums, same any-table bucket match,
    * same rounded-cosine ranking — the approximation is deterministic,
    * so the whole approximate index is hash-checkable. */
  val annLshTopKOracle: String =
    s"""WITH e AS ($vecsSql),
       |tp AS (
       |  SELECT t.t, p.p FROM unnest(generate_series(0, 3)) AS t(t),
       |    unnest(generate_series(0, 5)) AS p(p)
       |), signs AS (
       |  SELECT e.vec_id, tp.t AS tbl, tp.p,
       |    CASE WHEN list_reduce(list_transform(range(1, 65), d ->
       |        e.v[d] * ROUND(SIN(CAST((tp.t * 6 + tp.p) * 97 + (d - 1) * 31 AS DOUBLE)), 6)),
       |        (x, y) -> x + y) >= 0.0
       |      THEN (CAST(1 AS BIGINT) << tp.p) ELSE 0 END AS bit
       |  FROM e CROSS JOIN tp
       |), buckets AS (
       |  SELECT vec_id, tbl, CAST(SUM(bit) AS BIGINT) AS bucket
       |  FROM signs GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id AS neighbor_id
       |  FROM buckets pb JOIN buckets cb ON pb.tbl = cb.tbl AND pb.bucket = cb.bucket
       |  WHERE pb.vec_id < 5 AND pb.vec_id <> cb.vec_id
       |), scored AS (
       |  SELECT c.probe_id, c.neighbor_id, $cosSql AS cos
       |  FROM cand c JOIN e a ON a.vec_id = c.probe_id JOIN e b ON b.vec_id = c.neighbor_id
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT probe_id, neighbor_id, cos, rank FROM ranked
       |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin

  // ------------------------------------------------------------- IVF
  /** IVF-style ANN: deterministic coarse centroids (a fixed id slice
    * stands in for a k-means pass), every vector assigned to its
    * nearest centroid (the inverted list), probes search only their
    * nprobe=4 nearest lists. The scale path: lists shard the corpus so
    * a probe touches ~nprobe/K of it; assignment is one broadcast pass.
    * Deterministic end to end → full SQL oracle + recall spec. */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val centroids = e.where(col("vec_id") >= 100 && col("vec_id") < 116)
      .select(col("vec_id").as("cent_id"), col("v").as("v_c"), col("norm2").as("norm2_c"))
    def assign(df: DataFrame, keep: Int): DataFrame = {
      val scored = df.crossJoin(broadcast(centroids))
        .withColumn("ccos",
          r6(expr("graft_dot(v, v_c)") /
            (sqrt(col("norm2")) * sqrt(col("norm2_c")))))
      if (keep == 1) {
        // Argmax as a PARTIAL-AGGREGABLE min_by: min of (-ccos, cent_id)
        // is the same total order as the oracle's (ccos DESC, cent_id)
        // ROW_NUMBER — but each map task collapses its K candidate rows
        // per vector locally, so the exchange carries corpus×1 rows,
        // not the corpus×K vector-carrying rows the old row_number
        // window shuffled and sorted.
        val payload = struct(df.columns.map(col) :+ col("cent_id"): _*)
        scored.groupBy(col("vec_id").as("gid"))
          .agg(min_by(payload, struct(-col("ccos"), col("cent_id"))).as("best"))
          .select("best.*")
      } else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
        scored.withColumn("crank", row_number().over(w))
          .where(col("crank") <= keep)
          .drop("v_c", "norm2_c", "ccos", "crank")
      }
    }
    val lists = assign(e, 1).withColumnRenamed("cent_id", "bucket")
    val probes = assign(e.where(col("vec_id") < 5), 4)
      .select(col("vec_id").as("probe_id"), col("v").as("v_a"),
        col("norm2").as("norm2_a"), col("cent_id").as("bucket"))
    val corpus = lists.select(col("vec_id").as("neighbor_id"), col("v").as("v_b"),
      col("norm2").as("norm2_b"), col("bucket"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    // No dedup needed on (probe_id, neighbor_id): every corpus vector
    // is assigned to exactly ONE list (assign(e, 1)), so even with the
    // nprobe=4 probe fan-out a pair can match on at most one shared
    // bucket. (The previous distinct() here was a provable no-op whose
    // exchange carried BOTH full vectors — the most expensive node in
    // the plan doing nothing.)
    broadcast(probes).join(corpus, Seq("bucket"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select("probe_id", "neighbor_id", "cos", "rank")
      .orderBy("probe_id", "rank")
  }

  /** Full DuckDB oracle for the IVF path: same fixed-slice centroids,
    * same rounded-cosine assignment with (ccos desc, cent_id) ties,
    * same nprobe=4 probe fan-out. */
  val annIvfTopKOracle: String =
    s"""WITH e AS ($vecsSql),
       |cent AS (
       |  SELECT vec_id AS cent_id, v AS v_c, norm2 AS norm2_c
       |  FROM e WHERE vec_id >= 100 AND vec_id < 116
       |), assign AS (
       |  SELECT e.vec_id, c.cent_id,
       |    ROUND(list_reduce(list_transform(range(1, 65), i -> e.v[i] * c.v_c[i]), (x, y) -> x + y)
       |      / (SQRT(e.norm2) * SQRT(c.norm2_c)), 6) + 0.0 AS ccos
       |  FROM e CROSS JOIN cent c
       |), ra AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crank
       |  FROM assign
       |), lists AS (
       |  SELECT vec_id AS neighbor_id, cent_id AS bucket FROM ra WHERE crank <= 1
       |), probes AS (
       |  SELECT vec_id AS probe_id, cent_id AS bucket FROM ra WHERE vec_id < 5 AND crank <= 4
       |), cand AS (
       |  SELECT DISTINCT p.probe_id, l.neighbor_id
       |  FROM probes p JOIN lists l ON p.bucket = l.bucket
       |  WHERE p.probe_id <> l.neighbor_id
       |), scored AS (
       |  SELECT c.probe_id, c.neighbor_id, $cosSql AS cos
       |  FROM cand c JOIN e a ON a.vec_id = c.probe_id JOIN e b ON b.vec_id = c.neighbor_id
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT probe_id, neighbor_id, cos, rank FROM ranked
       |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin

  // ---------------------------------------------------------- k-means
  /** K-means M-step: per-label centroid components via position-wise
    * exact-decimal averages. Emitted as (label, dim, c) rows — the
    * shuffle key is (label, dim), so the reduction is flat and
    * partial-aggregated regardless of vector count; reassembly into
    * arrays is a downstream collect_list when needed ([[kmeansAssign]]).
    */
  private def centroidsBase(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      .agg(
        r6(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("c"),
        count(lit(1)).as("n_vectors"))

  def embedCentroids(spark: SparkSession, dir: String): DataFrame =
    centroidsBase(spark, dir).orderBy("label", "dim")

  val embedCentroidsOracle: String =
    """SELECT label, i AS dim,
      |  ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) + 0.0 AS c,
      |  COUNT(*) AS n_vectors
      |FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
      |CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** K-means E-step: every vector assigned to its nearest centroid by
    * cosine (ties broken by centroid label). Centroid components come
    * from [[embedCentroids]] (rounded → cross-engine identical), are
    * reassembled into arrays, and broadcast — the corpus side never
    * shuffles. A full k-means alternates these two operators with a
    * checkpoint per round. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    // centroidsBase (not embedCentroids): the presentation sort would
    // be a wasted exchange before the groupBy re-shuffles on label.
    val cents = centroidsBase(spark, dir)
      .groupBy(col("label").as("cent_label"))
      .agg(expr("graft_dense(transform(array_sort(collect_list(struct(dim, c))), s -> s.c))").as("vc"))
      .withColumn("cnorm2", expr(
        "graft_dot(vc, vc)"))
    // Argmax as a PARTIAL-AGGREGABLE min_by: min of (-ccos, cent_label)
    // is the oracle's (ccos DESC, cent_label) ROW_NUMBER order, but the
    // K candidate rows per vector collapse map-side, so the exchange
    // carries corpus×1 rows — not corpus×K rows dragging the vector
    // arrays through a shuffle-and-sort window.
    vecs(spark, dir)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", r6(
        expr("graft_dot(v, vc)") /
          (sqrt(col("norm2")) * sqrt(col("cnorm2")))))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("label"), col("cent_label"), col("ccos")),
        struct(-col("ccos"), col("cent_label"))).as("best"))
      .select(col("vec_id"), col("best.label").as("label"),
        col("best.cent_label").as("assigned"), col("best.ccos").as("cos"))
      .orderBy("vec_id")
  }

  val kmeansAssignOracle: String =
    """WITH comp AS (
      |  SELECT label, i AS dim,
      |    ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) + 0.0 AS c
      |  FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
      |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      |  GROUP BY 1, 2
      |), cents AS (
      |  SELECT label AS cent_label, list(c ORDER BY dim) AS vc FROM comp GROUP BY 1
      |), cents2 AS (
      |  SELECT cent_label, vc,
      |    list_reduce(list_transform(range(1, len(vc) + 1), i -> vc[i] * vc[i]), (x, y) -> x + y) AS cnorm2
      |  FROM cents
      |), e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |    list_reduce(list_transform(range(1, len(embedding) + 1), i ->
      |      embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) AS norm2
      |  FROM embeddings
      |), scored AS (
      |  SELECT e.vec_id, e.label, c.cent_label,
      |    ROUND(list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.vc[i]), (x, y) -> x + y)
      |      / (SQRT(e.norm2) * SQRT(c.cnorm2)), 6) + 0.0 AS ccos
      |  FROM e CROSS JOIN cents2 c
      |)
      |SELECT vec_id, label, cent_label AS assigned, ccos AS cos FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_label) AS rnk
      |  FROM scored)
      |WHERE rnk = 1 ORDER BY vec_id""".stripMargin

  /** Full k-means: deterministic init (k lowest vec_ids), then
    * alternate E-steps and [[embedCentroids]]-style M-steps until
    * assignments stop changing (xor-hash checksum) or maxIters. Each
    * round moves exactly one corpus scan (the map-only
    * [[kmeansEStep]] — zero corpus exchanges) plus one (cluster, dim)
    * partial-aggregated reduce (the M-step); lineage is cut per round
    * with localCheckpoint, the same iterate-to-fixpoint shape as
    * [[graft.dedup.Components.connectedComponents]]. Returns
    * (vec_id, cluster, cos). */
  def kmeansFit(vectors: DataFrame, k: Int, maxIters: Int = 10): DataFrame = {
    graft.functions.DotProduct.register(vectors.sparkSession)
    val e = vectors.select(col("vec_id"), col("v"), col("norm2")).localCheckpoint()
    var cents = e.orderBy("vec_id").limit(k)
      .select(row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("vec_id")).cast("long").as("cid"),
        col("v").as("vc"), col("norm2").as("cnorm2"))
      .localCheckpoint()
    def estep() = kmeansEStep(e, cents)
    var assign = estep().localCheckpoint()
    // collision-resistant assignment digest: xor of xxhash64(vec_id,
    // cid) — equality ⇒ identical assignment with overwhelming
    // probability, unlike sum(cid*vec_id), which two distinct
    // assignments can collide on and falsely early-exit the loop
    def checksum(df: DataFrame): Long =
      df.agg(coalesce(expr("bit_xor(xxhash64(vec_id, cid))"), lit(0L)))
        .head.getLong(0)
    var prev = checksum(assign)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      cents = assign
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(r6(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("c"))
        .groupBy("cid")
        .agg(expr("graft_dense(transform(array_sort(collect_list(struct(pos, c))), s -> s.c))").as("vc"))
        .withColumn("cnorm2", expr(
          "graft_dot(vc, vc)"))
        .localCheckpoint()
      assign = estep().localCheckpoint()
      val cur = checksum(assign)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    assign.select(col("vec_id"), col("cid").as("cluster"), col("ccos").as("cos"))
  }

  /** One k-means E-step, MAP-ONLY (r21, guide §1.1 first-principles +
    * §2.4): the argmax over K centroids is computed per ROW by folding
    * over the centroid set as one broadcast ARRAY — no corpus×K
    * expansion, no groupBy, and therefore NO corpus-scale exchange or
    * sort at all (the r20 shape partial-min_by'd map-side but still
    * shuffled one corpus×(v) row set per round, because
    * localCheckpoint does not carry partitioning into the next round's
    * plan). Per round the fit now moves exactly: one corpus scan
    * (this) + one (cid, dim)-scale M-step reduce — the theoretical
    * floor for Lloyd's algorithm. Arithmetic is expression-identical
    * to the r20 shape (same graft_dot / sqrt / r6 rounding per
    * (vector, centroid) pair); the fold keeps a strictly-greater ccos
    * and iterates cids ascending (array_sort on the cid-first struct),
    * which is exactly min_by's (ccos DESC, cid ASC) order. A degenerate
    * centroid never captures a row: a zero-norm one has no direction
    * (its cosine divides by zero) and is dropped before the fold, and
    * a NaN cosine (non-finite input) never wins it (DegenerateInputSpec).
    * Spec-pinned zero-exchange in PlanAuditSpec. */
  private[graft] def kmeansEStep(e: DataFrame, cents: DataFrame): DataFrame = {
    val centsArr = cents.where(col("cnorm2") > 0).agg(
      array_sort(collect_list(struct(col("cid"), col("vc"), col("cnorm2")))).as("cs"))
    e.crossJoin(broadcast(centsArr))
      .withColumn("best", expr(
        """aggregate(
          |  transform(cs, c -> named_struct(
          |    'ccos', round((graft_dot(v, c.vc) / (sqrt(norm2) * sqrt(c.cnorm2))) * 1e6, 0) / 1e6,
          |    'cid', c.cid)),
          |  named_struct('ccos', cast(-10.0 as double), 'cid', cast(-1 as bigint)),
          |  (acc, s) -> if(NOT isnan(s.ccos) AND s.ccos > acc.ccos, s, acc))""".stripMargin))
      .select(col("vec_id"), col("v"), col("best.cid").as("cid"),
        col("best.ccos").as("ccos"))
  }

  /** Oracle-checked [[kmeansFit]] demo: k = 8, exactly 3 update
    * rounds. The SQL oracle unrolls the 3 M-steps (+ 4 E-steps) as
    * successive CTEs with the same decimal centroid means and
    * rounded-cosine (ccos desc, cid) assignment ranking. Early
    * convergence is immaterial: once assignments are stable, an
    * M-step reproduces its centroids and the next E-step its
    * assignment, so Spark's checksum early-exit and the oracle's
    * unconditional unroll yield the identical frame — which is what
    * makes an ITERATIVE operator hash-checkable at all. */
  def kmeansFitDemo(spark: SparkSession, dir: String): DataFrame =
    kmeansFit(vecs(spark, dir), 8, maxIters = 3).orderBy("vec_id")

  private def kmFitEstepSql(cents: String, out: String): String =
    s"""s_$out AS (
       |  SELECT e.vec_id, e.v, e.norm2, c.cid,
       |    ROUND(list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.vc[i]), (x, y) -> x + y)
       |      / (SQRT(e.norm2) * SQRT(c.cnorm2)), 6) + 0.0 AS ccos
       |  FROM e CROSS JOIN $cents c
       |), $out AS (
       |  SELECT vec_id, v, norm2, cid, ccos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rnk
       |    FROM s_$out)
       |  WHERE rnk = 1
       |)""".stripMargin

  private def kmFitMstepSql(assign: String, out: String): String =
    s"""comp_$out AS (
       |  SELECT cid, i AS dim,
       |    ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) + 0.0 AS c
       |  FROM $assign CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
       |  GROUP BY 1, 2
       |), $out AS (
       |  SELECT cid, vc,
       |    list_reduce(list_transform(range(1, len(vc) + 1), i -> vc[i] * vc[i]), (x, y) -> x + y) AS cnorm2
       |  FROM (SELECT cid, list(c ORDER BY dim) AS vc FROM comp_$out GROUP BY 1)
       |)""".stripMargin

  val kmeansFitOracle: String =
    s"""WITH e AS ($vecsSql),
       |c0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cid, v AS vc, norm2 AS cnorm2
       |  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
       |),
       |${kmFitEstepSql("c0", "a0")},
       |${kmFitMstepSql("a0", "c1")},
       |${kmFitEstepSql("c1", "a1")},
       |${kmFitMstepSql("a1", "c2")},
       |${kmFitEstepSql("c2", "a2")},
       |${kmFitMstepSql("a2", "c3")},
       |${kmFitEstepSql("c3", "a3")}
       |SELECT vec_id, cid AS cluster, ccos AS cos FROM a3
       |ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------- #35b
  /** Filtered ANN: top-5 cosine neighbors per probe among vectors
    * satisfying a metadata predicate (here: the probe's own label —
    * "search within my shard"). PRE-filter semantics: the predicate
    * restricts the candidate set before ranking, so a probe always
    * gets its true top-k among qualifying vectors (post-filtering an
    * unfiltered top-k silently loses recall when qualifying neighbors
    * rank below k). Spark-first shape: the attribute filter IS the
    * equi-join key — probes broadcast, the corpus hash-joins on
    * `label`, so non-qualifying vectors never reach the distance
    * computation; at warehouse scale a label-partitioned store prunes
    * them at the scan. */
  def annFilteredTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val probes = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("label"),
        col("v").as("v_a"), col("norm2").as("norm2_a"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("label"),
      col("v").as("v_b"), col("norm2").as("norm2_b"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    corpus.join(broadcast(probes), Seq("label"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select("probe_id", "label", "neighbor_id", "cos", "rank")
      .orderBy("probe_id", "rank")
  }

  val annFilteredTopKOracle: String =
    s"""WITH e AS ($vecsSql),
       |scored AS (
       |  SELECT a.vec_id AS probe_id, a.label, b.vec_id AS neighbor_id, $cosSql AS cos
       |  FROM e a JOIN e b ON a.vec_id < 5 AND a.label = b.label AND a.vec_id <> b.vec_id
       |), ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT probe_id, label, neighbor_id, cos, rank FROM ranked
       |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin

  // -------------------------------------------------------------- #40w
  /** Embedding outlier detection (quality gate for the vector side of
    * a corpus): each vector's cosine to its own label's centroid,
    * flagged when it falls in the label's bottom decile — the "this
    * embedding doesn't belong to its group" signal used to catch
    * mislabeled/degenerate vectors before training. Centroids and the
    * per-label p10 thresholds are tiny aggregates broadcast back; the
    * corpus is scanned twice but never shuffled (cos is a broadcast
    * equi-join on label, the threshold another).
    *
    * Scale note (same caveat as sk_percentiles): an exact `percentile`
    * aggregate buffers a label's cos values in ONE group — labels are
    * few and huge at corpus scale, so that buffer is a straight OOM at
    * 100 TB. The operator therefore defaults to
    * `approx_percentile(cos, 0.1, 10000)`: a mergeable KLL-style
    * sketch whose partial aggregation combines map-side, bounding
    * per-group state by the sketch size, not the label size
    * (PlanAuditSpec pins the partial-agg shape; SketchSpec bounds the
    * sketch-vs-exact threshold disagreement). The exact variant
    * survives only as [[embedOutliersExact]] — the oracle demo, since
    * DuckDB's quantile_cont is exact. */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame =
    embedOutliersImpl(spark, dir, exact = false)

  /** Exact-percentile variant, kept ONLY as the oracle-checked demo
    * (cross-engine bit-equality needs both engines exact). Production
    * callers use [[embedOutliers]]. */
  def embedOutliersExact(spark: SparkSession, dir: String): DataFrame =
    embedOutliersImpl(spark, dir, exact = true)

  private[graft] def embedOutliersImpl(spark: SparkSession, dir: String,
      exact: Boolean): DataFrame = {
    val cents = centroidsBase(spark, dir)
      .groupBy(col("label"))
      .agg(expr("graft_dense(transform(array_sort(collect_list(struct(dim, c))), s -> s.c))").as("vc"))
      .withColumn("cnorm2", expr("graft_dot(vc, vc)"))
    val scored = vecs(spark, dir)
      .join(broadcast(cents), Seq("label"))
      .withColumn("cos", r6(
        expr("graft_dot(v, vc)") / (sqrt(col("norm2")) * sqrt(col("cnorm2")))))
      .select("vec_id", "label", "cos")
    val p10agg =
      if (exact) percentile(col("cos"), lit(0.1))
      else expr("approx_percentile(cos, 0.1, 10000)")
    val thresholds = scored.groupBy("label")
      .agg(r6(p10agg).as("p10"))
    scored.join(broadcast(thresholds), Seq("label"))
      .select(col("vec_id"), col("label"), col("cos"), col("p10"),
        (col("cos") < col("p10")).as("is_outlier"))
      .orderBy("vec_id")
  }

  val embedOutliersOracle: String =
    s"""WITH comp AS (
       |  SELECT label, i AS dim,
       |    ROUND(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) + 0.0 AS c
       |  FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
       |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
       |  GROUP BY 1, 2
       |), cents AS (
       |  SELECT label, list(c ORDER BY dim) AS vc FROM comp GROUP BY 1
       |), cents2 AS (
       |  SELECT label, vc,
       |    list_reduce(list_transform(range(1, len(vc) + 1), i -> vc[i] * vc[i]), (x, y) -> x + y) AS cnorm2
       |  FROM cents
       |), e AS ($vecsSql
       |), scored AS (
       |  SELECT e.vec_id, e.label,
       |    ROUND(list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.vc[i]), (x, y) -> x + y)
       |      / (SQRT(e.norm2) * SQRT(c.cnorm2)), 6) + 0.0 AS cos
       |  FROM e JOIN cents2 c USING (label)
       |), th AS (
       |  SELECT label, ROUND(quantile_cont(cos, 0.1), 6) + 0.0 AS p10 FROM scored GROUP BY 1
       |)
       |SELECT s.vec_id, s.label, s.cos, t.p10, s.cos < t.p10 AS is_outlier
       |FROM scored s JOIN th t USING (label)
       |ORDER BY s.vec_id""".stripMargin

  // -------------------------------------------------------------- #40x
  /** Int8 embedding quantization — the storage-compression step a
    * 100 TB vector corpus needs (4 B float → 1 B code): per-DIMENSION
    * min/max over the corpus (one posexplode aggregation, the same
    * shape as [[embedCentroids]]), codes q = floor((x-min)/scale)
    * clamped to [0,255], and the per-vector max reconstruction error
    * as the quality audit. All IEEE add/sub/div on identical parquet
    * doubles — bit-identical across engines, so even floor() agrees
    * and the codes hash-match exactly. Constant dimensions (scale 0)
    * code to 0 with zero error in both engines.
    *
    * Scale shape: the 64-row bounds table broadcasts back; the corpus
    * is scanned, never shuffled; codes emit per (vec, dim) — at
    * warehouse scale they reassemble into a byte array per vector
    * (same transform-collect as kmeansAssign's centroid build). */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val dims = vecs(spark, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("dim", col("pos") + 1)
    val bounds = dims.groupBy("dim")
      .agg(min("x").as("lo"), max("x").as("hi"))
      .withColumn("scale", (col("hi") - col("lo")) / 255.0)
    dims.join(broadcast(bounds), Seq("dim"))
      .withColumn("q", when(col("scale") === 0.0, lit(0L)).otherwise(
        least(greatest(floor((col("x") - col("lo")) / col("scale")), lit(0.0)), lit(255.0))
          .cast("long")))
      .withColumn("err", when(col("scale") === 0.0, lit(0.0)).otherwise(
        abs(col("x") - (col("lo") + col("q") * col("scale")))))
      .groupBy("vec_id")
      .agg(
        count(lit(1)).as("n_dims"),
        sum("q").as("code_sum"),
        r6(max("err")).as("max_err"))
      .orderBy("vec_id")
  }

  val embedQuantizeOracle: String =
    """WITH dims AS (
      |  SELECT vec_id, i AS dim, embedding[i]::DOUBLE AS x
      |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
      |), bounds AS (
      |  SELECT dim, MIN(x) AS lo, MAX(x) AS hi, (MAX(x) - MIN(x)) / 255.0 AS scale
      |  FROM dims GROUP BY 1
      |), coded AS (
      |  SELECT vec_id,
      |    CASE WHEN scale = 0.0 THEN 0
      |      ELSE CAST(LEAST(GREATEST(FLOOR((x - lo) / scale), 0.0), 255.0) AS BIGINT)
      |    END AS q,
      |    CASE WHEN scale = 0.0 THEN 0.0
      |      ELSE ABS(x - (lo + CASE WHEN scale = 0.0 THEN 0
      |        ELSE CAST(LEAST(GREATEST(FLOOR((x - lo) / scale), 0.0), 255.0) AS BIGINT)
      |      END * scale))
      |    END AS err
      |  FROM dims JOIN bounds USING (dim)
      |)
      |SELECT vec_id, COUNT(*) AS n_dims,
      |  CAST(SUM(q) AS BIGINT) AS code_sum, ROUND(MAX(err), 6) AS max_err
      |FROM coded GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------- #40y
  /** Product quantization (the FAISS IVF-PQ compression step — the
    * way a 100 TB vector corpus is actually stored for ANN): the
    * 64-dim vector splits into m = 8 subvectors of 8 dims; each
    * subvector is assigned to its nearest of k = 16 per-subspace
    * codebook centroids (squared-L2, rounded, ties to the lower
    * centroid id), so a 256-byte float vector becomes 8 four-bit
    * codes (4 bytes, 64×) plus a shared 16×8-double codebook per
    * subspace. [[embedQuantize]] is the scalar-int8 analog (4×); PQ
    * is what real billion-vector indexes use because distances are
    * computable FROM THE CODES via per-subspace lookup tables.
    *
    * Codebook here = the subvector slices of vectors 100-115 (the
    * same deterministic fixed-slice training stand-in as
    * [[annIvfTopK]]; production k-means-trains per subspace with
    * [[kmeansFit]]). Distances run through the native codegen'd
    * [[graft.functions.L2Distance]] (one index-ordered s += d·d
    * loop, bit-identical to the oracle's fold — the expanded
    * dot-product form would be a DIFFERENT IEEE order and is not
    * used). Scale shape: the 128-row codebook broadcasts; the corpus
    * explodes to 8 subvector rows per vector in place and never
    * shuffles for the assignment. */
  def embedPq(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.L2Distance.register(spark)
    val subs = pqSubs(spark, dir)
    val codebook = pqCodebook(subs)
    // argmin over the 16 codebook rows per (vector, subspace) as a
    // partial-aggregable min_by — map-side collapse, no corpus-wide
    // shuffle-and-sort window (same rewrite as annIvfTopK.assign)
    subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("dist2", r6(expr("graft_l2sq(xs, cs)")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(struct(col("cent_id").as("code"), col("dist2")),
        struct(col("dist2"), col("cent_id"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"),
        col("best.dist2").as("dist2"))
      .orderBy("vec_id", "sub")
  }

  /** m = 8 subvectors of 8 dims per vector — the PQ decomposition
    * shared by [[embedPq]], [[annPqTopK]] and [[annIvfPqTopK]]. */
  private[similarity] def pqSubs(spark: SparkSession, dir: String): DataFrame =
    pqSubsOf(vecs(spark, dir))

  /** The same decomposition over any (vec_id, v) frame — so
    * [[StoredIndex]] can decompose PROBES ONLY without touching the
    * corpus floats its staged code table replaces. */
  private[similarity] def pqSubsOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), s -> struct(s AS sub, slice(v, s * 8 + 1, 8) AS xs))"))
        .as("t"))
      .select(col("vec_id"), col("t.sub").as("sub"), col("t.xs").as("xs"))

  /** Per-subspace 16-centroid codebook: the subvector slices of
    * vectors 100-115 (fixed-slice training stand-in). */
  private[similarity] def pqCodebook(subs: DataFrame): DataFrame =
    subs.where(col("vec_id") >= 100 && col("vec_id") < 116)
      .select(col("sub"), (col("vec_id") - 100).as("cent_id"), col("xs").as("cs"))

  /** The corpus's PQ codes (the [[embedPq]] assignment, floats
    * dropped) — the only per-vector state an ADC search touches. */
  private[similarity] def pqCodes(subs: DataFrame, codebook: DataFrame): DataFrame =
    // argmin via partial-aggregable min_by (see embedPq) — the code
    // table a production index PERSISTS is exactly this map-side
    // reduction, never a corpus-wide window sort
    subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("dist2", r6(expr("graft_l2sq(xs, cs)")))
      .groupBy(col("vec_id").as("neighbor_id"), col("sub"))
      .agg(min_by(col("cent_id"), struct(col("dist2"), col("cent_id"))).as("code"))

  val embedPqOracle: String =
    s"""WITH e AS ($vecsSql),
       |subs AS (
       |  SELECT vec_id, s.sub, list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS xs
       |  FROM e, (SELECT unnest(range(0, 8)) AS sub) s
       |),
       |cb AS (
       |  SELECT sub, vec_id - 100 AS cent_id, xs AS cs
       |  FROM subs WHERE vec_id >= 100 AND vec_id < 116
       |),
       |scored AS (
       |  SELECT t.vec_id, t.sub, c.cent_id,
       |    ROUND(list_reduce(list_transform(range(1, 9),
       |      i -> (t.xs[i] - c.cs[i]) * (t.xs[i] - c.cs[i])), (x, y) -> x + y), 6) AS dist2
       |  FROM subs t JOIN cb c USING (sub)
       |)
       |SELECT vec_id, sub, cent_id AS code, dist2 FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, cent_id) AS rnk
       |  FROM scored)
       |WHERE rnk = 1
       |ORDER BY vec_id, sub""".stripMargin

  // -------------------------------------------------------------- #40z
  /** PQ asymmetric-distance search (ADC — the reason PQ exists): each
    * probe's approximate distance to every corpus vector is computed
    * FROM THE CODES, as the sum over subspaces of l2²(probe-subvector,
    * codebook[code]) — the corpus's floats are never touched, only its
    * 4-bit codes and the shared 16×8 codebook. At index scale the
    * per-probe work is a 16×8 lookup-table build plus one table lookup
    * per (vector, subspace); here the lookup is the broadcast
    * codebook join itself. Per-(probe, vector) partial distances are
    * rounded then summed as DECIMAL (the [[graft.funcs.dsum]] rule:
    * a float sum over a shuffled group is partition-order dependent,
    * a decimal sum is not), so the ranking is bit-stable across
    * engines and partitionings. Top-5 per probe, ties to the lower
    * neighbor id; probes search the real corpus INCLUDING themselves
    * at distance ~0 — self-match excluded like [[annTopK]]. */
  def annPqTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.L2Distance.register(spark)
    val subs = pqSubs(spark, dir)
    val codebook = pqCodebook(subs)
    // corpus side: codes only (the embedPq assignment), floats dropped
    val codes = pqCodes(subs, codebook)
    val probes = subs.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("sub"), col("xs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("adist2"), col("neighbor_id"))
    codes
      .join(broadcast(codebook.withColumnRenamed("cent_id", "code")), Seq("sub", "code"))
      .join(broadcast(probes), Seq("sub"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .withColumn("part", r6(expr("graft_l2sq(xs, cs)")).cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy("probe_id", "neighbor_id")
      .agg(sum(col("part")).cast("double").as("adist2"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select("probe_id", "neighbor_id", "adist2", "rank")
      .orderBy("probe_id", "rank")
  }

  val annPqTopKOracle: String =
    s"""WITH e AS ($vecsSql),
       |subs AS (
       |  SELECT vec_id, s.sub, list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS xs
       |  FROM e, (SELECT unnest(range(0, 8)) AS sub) s
       |),
       |cb AS (
       |  SELECT sub, vec_id - 100 AS cent_id, xs AS cs
       |  FROM subs WHERE vec_id >= 100 AND vec_id < 116
       |),
       |scored AS (
       |  SELECT t.vec_id, t.sub, c.cent_id,
       |    ROUND(list_reduce(list_transform(range(1, 9),
       |      i -> (t.xs[i] - c.cs[i]) * (t.xs[i] - c.cs[i])), (x, y) -> x + y), 6) AS dist2
       |  FROM subs t JOIN cb c USING (sub)
       |),
       |codes AS (
       |  SELECT vec_id AS neighbor_id, sub, cent_id AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, cent_id) AS rnk
       |    FROM scored)
       |  WHERE rnk = 1
       |),
       |parts AS (
       |  SELECT p.vec_id AS probe_id, k.neighbor_id,
       |    CAST(ROUND(list_reduce(list_transform(range(1, 9),
       |      i -> (p.xs[i] - c.cs[i]) * (p.xs[i] - c.cs[i])), (x, y) -> x + y), 6)
       |      AS DECIMAL(18,6)) AS part
       |  FROM codes k
       |  JOIN cb c ON c.sub = k.sub AND c.cent_id = k.code
       |  JOIN subs p ON p.sub = k.sub AND p.vec_id < 5 AND p.vec_id <> k.neighbor_id
       |),
       |adist AS (
       |  SELECT probe_id, neighbor_id, CAST(SUM(part) AS DOUBLE) AS adist2
       |  FROM parts GROUP BY 1, 2
       |)
       |SELECT probe_id, neighbor_id, adist2, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist2, neighbor_id) AS rank
       |  FROM adist)
       |WHERE rank <= 5
       |ORDER BY probe_id, rank""".stripMargin

  // -------------------------------------------------------------- #40ab
  /** IVFADC — [[annIvfTopK]]'s coarse quantizer composed with
    * [[annPqTopK]]'s asymmetric-distance search: the FAISS shape that
    * actually serves billion-vector indexes (ref: signalk-parquet has
    * no vector index; this is the training-pipeline extension at its
    * full-scale composition). The coarse quantizer assigns every
    * corpus vector to its nearest of 16 cells (the inverted lists —
    * at ingest, once); a probe picks its nprobe = 4 nearest cells and
    * runs ADC ONLY over the codes in those cells. Search cost per
    * probe drops from O(n) code lookups ([[annPqTopK]]'s exhaustive
    * scan) to O(n · nprobe / K): the candidate join keys on the
    * probe's cell set, so ~3/4 of the corpus is never touched — at
    * warehouse scale the code table is PARTITIONED BY cell and the
    * pruning is partition pruning. Everything downstream of the
    * candidate set is bit-identical to [[annPqTopK]]: rounded
    * per-subspace partials, DECIMAL sum (partition-order-proof),
    * top-5 per probe with ties to the lower neighbor id.
    * PlanAuditSpec pins the pruning (ADC partials = 8 rows per
    * candidate, candidates ≪ probes × corpus); the recall-vs-
    * exhaustive-ADC bound lives in SketchSpec. */
  /** Coarse-quantizer assignment (squared-L2, rounded, ties to the
    * lower cent_id): nearest `keep` centroids per vector. keep = 1
    * runs as a partial-aggregable min_by (map-side collapse — the
    * ingest-side full-corpus assignment); keep > 1 as a per-vector
    * window (the probe side, O(probes) rows). Shared by
    * [[ivfPqCandidates]] and [[StoredIndex]] so the staged index and
    * the inline rebuild are the same arithmetic by construction. */
  private[similarity] def ivfAssign(df: DataFrame, centroids: DataFrame,
      keep: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(centroids))
      .withColumn("cdist", r6(expr("graft_l2sq(v, v_c)")))
    if (keep == 1) {
      // argmin as a partial-aggregable min_by — same map-side
      // collapse as annIvfTopK.assign (the order (cdist, cent_id) is
      // already a min order, no negation needed)
      val payload = struct(df.columns.map(col) :+ col("cent_id"): _*)
      scored.groupBy(col("vec_id").as("gid"))
        .agg(min_by(payload, struct(col("cdist"), col("cent_id"))).as("best"))
        .select("best.*")
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("cdist"), col("cent_id"))
      scored.withColumn("crank", row_number().over(w))
        .where(col("crank") <= keep)
        .drop("v_c", "cdist", "crank")
    }
  }

  private[graft] def ivfPqCandidates(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(spark)
    graft.functions.L2Distance.register(spark)
    val e = vecs(spark, dir)
    // coarse quantizer: same fixed-slice centroids as annIvfTopK, but
    // assigned by SQUARED L2 — the metric ADC ranks by. FAISS's
    // IVFADC trains its coarse quantizer in the search metric so the
    // cells align with the ranking; on this synthetic near-uniform
    // corpus recall-vs-exhaustive-ADC measures 0.40 either way
    // (distances concentrate), still well above the nprobe/K = 0.25
    // random-cell baseline that SketchSpec bounds against.
    val centroids = e.where(col("vec_id") >= 100 && col("vec_id") < 116)
      .select(col("vec_id").as("cent_id"), col("v").as("v_c"))
    val lists = ivfAssign(e, centroids, 1)
      .select(col("vec_id").as("neighbor_id"), col("cent_id").as("bucket"))
    val probeCells = ivfAssign(e.where(col("vec_id") < 5), centroids, 4)
      .select(col("vec_id").as("probe_id"), col("cent_id").as("bucket"))
    // CELL PRUNING — the point of IVF: each (probe, neighbor) pair
    // exists only when the neighbor's cell is one of the probe's
    // nprobe cells. probeCells is 5×4 rows → broadcast; each neighbor
    // lives in exactly one list, so pairs are unique by construction.
    broadcast(probeCells).join(lists, Seq("bucket"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "neighbor_id")
  }

  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val cand = ivfPqCandidates(spark, dir)
    val subs = pqSubs(spark, dir)
    val codebook = pqCodebook(subs)
    val codes = pqCodes(subs, codebook)
    val probes = subs.where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("sub"), col("xs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("adist2"), col("neighbor_id"))
    // ADC over the pruned candidate set only: 8 partials per pair,
    // never 8 × corpus per probe
    broadcast(cand).join(codes, Seq("neighbor_id"))
      .join(broadcast(codebook.withColumnRenamed("cent_id", "code")), Seq("sub", "code"))
      .join(broadcast(probes), Seq("sub", "probe_id"))
      .withColumn("part", r6(expr("graft_l2sq(xs, cs)"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .groupBy("probe_id", "neighbor_id")
      .agg(sum(col("part")).cast("double").as("adist2"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select("probe_id", "neighbor_id", "adist2", "rank")
      .orderBy("probe_id", "rank")
  }

  /** Full DuckDB oracle: the annIvfTopK assignment CTEs feeding the
    * annPqTopK ADC CTEs, with parts restricted to the candidate set. */
  val annIvfPqTopKOracle: String =
    s"""WITH e AS ($vecsSql),
       |cent AS (
       |  SELECT vec_id AS cent_id, v AS v_c
       |  FROM e WHERE vec_id >= 100 AND vec_id < 116
       |), assign AS (
       |  SELECT e.vec_id, c.cent_id,
       |    ROUND(list_reduce(list_transform(range(1, 65),
       |      i -> (e.v[i] - c.v_c[i]) * (e.v[i] - c.v_c[i])), (x, y) -> x + y), 6) AS cdist
       |  FROM e CROSS JOIN cent c
       |), ra AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdist, cent_id) AS crank
       |  FROM assign
       |), lists AS (
       |  SELECT vec_id AS neighbor_id, cent_id AS bucket FROM ra WHERE crank <= 1
       |), pcells AS (
       |  SELECT vec_id AS probe_id, cent_id AS bucket FROM ra WHERE vec_id < 5 AND crank <= 4
       |), cand AS (
       |  SELECT p.probe_id, l.neighbor_id
       |  FROM pcells p JOIN lists l USING (bucket)
       |  WHERE p.probe_id <> l.neighbor_id
       |), subs AS (
       |  SELECT vec_id, s.sub, list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS xs
       |  FROM e, (SELECT unnest(range(0, 8)) AS sub) s
       |), cb AS (
       |  SELECT sub, vec_id - 100 AS cent_id, xs AS cs
       |  FROM subs WHERE vec_id >= 100 AND vec_id < 116
       |), scored AS (
       |  SELECT t.vec_id, t.sub, c.cent_id,
       |    ROUND(list_reduce(list_transform(range(1, 9),
       |      i -> (t.xs[i] - c.cs[i]) * (t.xs[i] - c.cs[i])), (x, y) -> x + y), 6) AS dist2
       |  FROM subs t JOIN cb c USING (sub)
       |), codes AS (
       |  SELECT vec_id AS neighbor_id, sub, cent_id AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, cent_id) AS rnk
       |    FROM scored)
       |  WHERE rnk = 1
       |), parts AS (
       |  SELECT cd.probe_id, cd.neighbor_id,
       |    CAST(ROUND(list_reduce(list_transform(range(1, 9),
       |      i -> (p.xs[i] - c.cs[i]) * (p.xs[i] - c.cs[i])), (x, y) -> x + y), 6)
       |      AS DECIMAL(18,6)) AS part
       |  FROM cand cd
       |  JOIN codes k ON k.neighbor_id = cd.neighbor_id
       |  JOIN cb c ON c.sub = k.sub AND c.cent_id = k.code
       |  JOIN subs p ON p.sub = k.sub AND p.vec_id = cd.probe_id
       |), adist AS (
       |  SELECT probe_id, neighbor_id, CAST(SUM(part) AS DOUBLE) AS adist2
       |  FROM parts GROUP BY 1, 2
       |)
       |SELECT probe_id, neighbor_id, adist2, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist2, neighbor_id) AS rank
       |  FROM adist)
       |WHERE rank <= 5
       |ORDER BY probe_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the oracle-checked demo pins the EXACT percentile (DuckDB's
    // quantile_cont is exact); production default is the approx sketch
    "embed_outliers" -> (embedOutliersExact _),
    "embed_quantize" -> (embedQuantize _),
    "ann_ivf_topk" -> (annIvfTopK _),
    "dedup_embedding" -> (embeddingDedup _),
    "dedup_semantic" -> (semanticDedup _),
    "ann_topk" -> (annTopK _),
    "ann_range_search" -> (annRangeSearch _),
    "ann_lsh_topk" -> (annLshTopK _),
    "ann_filtered_topk" -> (annFilteredTopK _),
    "embed_centroids" -> (embedCentroids _),
    "kmeans_assign" -> (kmeansAssign _),
    "kmeans_fit" -> (kmeansFitDemo _),
    "embed_pq" -> (embedPq _),
    "ann_pq_topk" -> (annPqTopK _),
    "ann_ivfpq_topk" -> (annIvfPqTopK _))

  val oracles: Map[String, String] = Map(
    "embed_outliers" -> embedOutliersOracle,
    "embed_quantize" -> embedQuantizeOracle,
    "ann_lsh_topk" -> annLshTopKOracle,
    "ann_ivf_topk" -> annIvfTopKOracle,
    "dedup_embedding" -> embeddingDedupOracle,
    "dedup_semantic" -> semanticDedupOracle,
    "ann_topk" -> annTopKOracle,
    "ann_range_search" -> annRangeSearchOracle,
    "ann_filtered_topk" -> annFilteredTopKOracle,
    "embed_centroids" -> embedCentroidsOracle,
    "kmeans_assign" -> kmeansAssignOracle,
    "kmeans_fit" -> kmeansFitOracle,
    "embed_pq" -> embedPqOracle,
    "ann_pq_topk" -> annPqTopKOracle,
    "ann_ivfpq_topk" -> annIvfPqTopKOracle)
}
