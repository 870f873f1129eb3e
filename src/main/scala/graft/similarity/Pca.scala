package graft.similarity

import graft.funcs.{r6, rN}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed PCA over the embedding corpus: top principal component
  * by single-pass covariance + fixed-iteration power method, then a
  * corpus projection — the decorrelation/whitening primitive a
  * training-data pipeline uses for embedding drift monitoring,
  * dominant-axis outlier screens, and cheap 1-D semantic ordering
  * (curriculum sort) of a corpus.
  *
  * Scale shape — the textbook two-pass distributed PCA:
  *   1. ONE corpus pass folds every vector into the fixed-size
  *      raw-moment buffer (Σxᵢ, Σxᵢxⱼ) via the native
  *      [[graft.functions.GramMatrix graft_gram]] partial aggregate —
  *      map-side combine, the exchange carries one 16 KB buffer per
  *      task, never a row expansion.
  *   2. The d×d covariance (metadata-sized: 4096 doubles at d = 64) is
  *      assembled and power-iterated ON THE DRIVER — exactly what a
  *      1000-executor job does, because the eigenproblem is O(d²)
  *      regardless of corpus size. This is the [[Graph2.kCenter]]
  *      driver-round precedent: driver work bounded by a constant,
  *      not by data.
  *   3. ONE more corpus pass projects every vector onto the component
  *      (broadcast literal arrays, codegen'd
  *      [[graft.functions.DotProduct graft_dot]] fold) — no shuffle at
  *      all on the projection side.
  *
  * Cross-engine determinism (the [[Graph2.pageRank]] trajectory
  * discipline): moments are 9 dp-quantized exact Long sums; covariance
  * entries and the mean are 9 dp-rounded doubles computed by the same
  * operation sequence as the oracle's CTEs; each power iteration
  * accumulates 12 dp-quantized products through exact scaled-long
  * (≡ DECIMAL(18,12)) sums, rescales by the exact power-of-two 1/64,
  * and rounds the normalized vector to 12 dp — so the WHOLE eigen
  * trajectory is bit-identical to the oracle's 8 unrolled CTE
  * iterations and the final projections hash-match with no tolerance.
  * The power method is DEFINED as 8 iterations from the all-ones
  * start (like PageRank's fixed 8): the output is a well-defined
  * deterministic function, converged to the dominant axis for any
  * spectrum with a gap (sign follows the trajectory, also
  * deterministic).
  *
  * Numeric bounds: |x| ≤ ~5 ⇒ covariance products ≤ 25, iteration
  * products ≤ 25, squares ≤ 625 after the 1/64 rescale — all inside
  * DECIMAL(18,12) and the Long accumulators with ≥ 7 orders of
  * headroom ([[graft.functions.GramMatrix]] scaladoc for the exact
  * overflow bound and the sharding escape hatch).
  */
object Pca {

  private[similarity] val D = 64
  private[similarity] val Iters = 8

  /** std::round(x·p)/p — the Scala mirror of DuckDB ROUND(x, log10 p)
    * and Spark round(x·p, 0)/p: exact truncate-and-compare half-up
    * away from zero (no `floor(x+0.5)` double-add misround). */
  private def rq(x: Double, p: Double): Double = qs(x, p).toDouble / p

  /** The scaled-Long quantization underlying [[rq]]. */
  private def qs(x: Double, p: Double): Long = {
    val s = x * p
    val a = math.abs(s)
    val t = a.toLong
    val n = if (a - t >= 0.5) t + 1 else t
    if (s < 0) -n else n
  }

  // --------------------------------------------------------------- #98
  /** Per-vector projection onto the dominant principal component:
    * (vec_id, label, pc1), pc1 = round₆(Σᵢ round₉(xᵢ−μᵢ)·pcᵢ). */
  def embedPca(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val vecs = Embeddings.vecs(spark, dir).select("vec_id", "label", "v")
    // pass 1: fixed-size moment buffer (one shuffle of ~#tasks buffers)
    val row = vecs.agg(expr("graft_gram(v)").as("m"), count(lit(1)).as("n")).head()
    projectWith(vecs, row.getSeq[Long](0).toArray, row.getLong(1))
  }

  /** Eigensolve from a moment buffer + corpus projection — shared with
    * the live moment-store twin ([[graft.streaming.PcaStream]]), whose
    * per-trigger Long adds reproduce the SAME buffer bit-for-bit
    * (exact scaled-long sums are associative over any slicing). */
  private[graft] def projectWith(
      vecs: org.apache.spark.sql.DataFrame, m: Array[Long], nRows: Long): DataFrame = {
    val (mu, cov) = momentsToCov(m, nRows)
    val v = powerIterate(cov)
    // pass 2: broadcast-literal projection, zero shuffle
    vecs
      .withColumn("mu", typedlit(mu.toSeq))
      .withColumn("pc", typedlit(v.toSeq))
      .withColumn("centered", zip_with(col("v"), col("mu"), (x, mm) => rN(x - mm, 9)))
      .select(col("vec_id"), col("label"), r6(expr("graft_dot(centered, pc)")).as("pc1"))
      .orderBy("vec_id")
  }

  /** Moment buffer → (μ, C), oracle-mirrored op for op. */
  private[graft] def momentsToCov(
      m: Array[Long], nRows: Long): (Array[Double], Array[Array[Double]]) = {
    // an empty corpus folds to an EMPTY buffer (graft_gram never saw a
    // row) — fail loudly instead of indexing into it
    require(m.nonEmpty && nRows > 0, "embed_pca: empty embedding corpus")
    val n = nRows.toDouble
    val d = m(0).toInt
    require(d == D, s"embed_pca expects $D-dim embeddings, got $d")
    val sums = m.slice(1, 1 + d)
    val tri = m.slice(1 + d, m.length)
    val mu = sums.map(s => rq(s.toDouble / 1e9 / n, 1e9))
    def triIdx(i: Int, j: Int): Int = i * d - i * (i - 1) / 2 + (j - i)
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      rq(tri(triIdx(a, b)).toDouble / 1e9 / n - mu(a) * mu(b), 1e9)
    }
    (mu, cov)
  }

  /** The fixed-8-round power method over a quantized matrix, with the
    * exact 12-dp trajectory arithmetic (scaladoc above). */
  private[graft] def powerIterate(cov: Array[Array[Double]]): Array[Double] = {
    val d = cov.length
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to Iters) {
      // w = (C·v)/64 through exact 12-dp accumulators; /64 is an exact
      // power-of-two rescale keeping squares inside DECIMAL(18,12)
      val w = Array.tabulate(d) { i =>
        var acc = 0L
        var j = 0
        while (j < d) { acc = Math.addExact(acc, qs(cov(i)(j) * v(j), 1e12)); j += 1 }
        acc.toDouble / 1e12 / 64.0
      }
      var nacc = 0L
      w.foreach(x => nacc = Math.addExact(nacc, qs(x * x, 1e12)))
      val nrm = rq(math.sqrt(nacc.toDouble / 1e12), 1e12)
      v = w.map(x => rq(x / nrm, 1e12))
    }
    v
  }

  /** Rayleigh quotient λ = vᵀCv through the same exact accumulators:
    * uᵢ = Σⱼ round₁₂(cᵢⱼ·vⱼ) (decimal-exact), λ = Σᵢ round₁₂(vᵢ·uᵢ),
    * 12-dp rounded — for a 12-dp-rounded UNIT v this IS the variance
    * along v. */
  private[graft] def rayleigh(cov: Array[Array[Double]], v: Array[Double]): Double = {
    val d = cov.length
    val u = Array.tabulate(d) { i =>
      var acc = 0L
      var j = 0
      while (j < d) { acc = Math.addExact(acc, qs(cov(i)(j) * v(j), 1e12)); j += 1 }
      acc.toDouble / 1e12
    }
    var acc = 0L
    for (i <- 0 until d) acc = Math.addExact(acc, qs(v(i) * u(i), 1e12))
    rq(acc.toDouble / 1e12, 1e12)
  }

  // -------------------------------------------------------------- #105
  /** Whitened top-2 projection: (vec_id, label, w1, w2) with
    * wᵢ = round₆(⟨centered, vᵢ⟩ / √λᵢ) — decorrelated unit-variance
    * coordinates from one moment pass, the 2-D corpus map / IVF
    * seeding / drift-dashboard primitive. v₂ comes from HOTELLING
    * DEFLATION: C₂ = round₉(C − λ₁·v₁v₁ᵀ) (λ₁ the Rayleigh quotient),
    * then the same 8-round power method — every step on the
    * metadata-sized driver matrix, every step oracle-replayed, so the
    * two-component trajectory hash-matches like the one-component one.
    * Requires a spectrum with λ₂ > 0 (any non-degenerate corpus). */
  def embedWhiten(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    val vecs = Embeddings.vecs(spark, dir).select("vec_id", "label", "v")
    val row = vecs.agg(expr("graft_gram(v)").as("m"), count(lit(1)).as("n")).head()
    val (mu, cov) = momentsToCov(row.getSeq[Long](0).toArray, row.getLong(1))
    val v1 = powerIterate(cov)
    val lam1 = rayleigh(cov, v1)
    require(lam1 > 0, "embed_whiten: degenerate spectrum (lambda1 <= 0)")
    val d = cov.length
    val cov2 = Array.tabulate(d, d) { (i, j) =>
      rq(cov(i)(j) - lam1 * v1(i) * v1(j), 1e9)
    }
    val v2 = powerIterate(cov2)
    val lam2 = rayleigh(cov, v2) // variance along v2 under the ORIGINAL C
    require(lam2 > 0, "embed_whiten: degenerate spectrum (lambda2 <= 0)")
    val s1 = rq(math.sqrt(lam1), 1e12)
    val s2 = rq(math.sqrt(lam2), 1e12)
    vecs
      .withColumn("mu", typedlit(mu.toSeq))
      .withColumn("p1", typedlit(v1.toSeq))
      .withColumn("p2", typedlit(v2.toSeq))
      .withColumn("centered", zip_with(col("v"), col("mu"), (x, mm) => rN(x - mm, 9)))
      .select(col("vec_id"), col("label"),
        r6(expr("graft_dot(centered, p1)") / lit(s1)).as("w1"),
        r6(expr("graft_dot(centered, p2)") / lit(s2)).as("w2"))
      .orderBy("vec_id")
  }

  /** Oracle replays the identical trajectory: BIGINT moment sums from
    * the same 9-dp quantization, the same rounded covariance assembly,
    * 8 unrolled power-iteration CTE triples (DECIMAL(18,12) sums ≡ the
    * scaled-long accumulators), and the same index-ordered projection
    * fold. The gram self-join is n·d(d+1)/2 rows — oracle-side only;
    * the engine under test never expands pairs. Every chained CTE is
    * MATERIALIZED: each iteration references its predecessor twice
    * (via the norm subquery and directly), so DuckDB's default
    * inlining would re-expand the whole chain 2^8-fold (the
    * [[Graph2.pageRankOracle]] lesson). */
  /** 8 unrolled power-iteration CTE triples over `covName`, with CTE
    * names prefixed by `p` (chain reuse for the deflated matrix). */
  private[similarity] def iterChain(p: String, covName: String): String =
    (1 to Iters).map { t =>
      s"""${p}w$t AS MATERIALIZED (
         |  SELECT c.i AS i,
         |    CAST(SUM(CAST(ROUND(c.c * p.v, 12) AS DECIMAL(18,12))) AS DOUBLE)/64 AS w
         |  FROM $covName c JOIN ${p}v${t - 1} p ON c.j = p.i GROUP BY c.i
         |), ${p}n$t AS MATERIALIZED (
         |  SELECT ROUND(SQRT(CAST(SUM(CAST(ROUND(w*w, 12) AS DECIMAL(18,12))) AS DOUBLE)), 12) AS nrm FROM ${p}w$t
         |), ${p}v$t AS MATERIALIZED (
         |  SELECT i, ROUND(w/(SELECT nrm FROM ${p}n$t), 12) AS v FROM ${p}w$t
         |)""".stripMargin
    }.mkString(", ")

  /** Rayleigh-quotient CTE pair: λ = v·(C·v) under `covName` for the
    * eigenvector CTE `vName`, exactly [[rayleigh]]'s arithmetic. */
  private def lamCtes(p: String, covName: String, vName: String): String =
    s"""${p}u AS MATERIALIZED (
       |  SELECT c.i AS i,
       |    CAST(SUM(CAST(ROUND(c.c * p.v, 12) AS DECIMAL(18,12))) AS DOUBLE) AS u
       |  FROM $covName c JOIN $vName p ON c.j = p.i GROUP BY c.i
       |), ${p}lam AS MATERIALIZED (
       |  SELECT ROUND(CAST(SUM(CAST(ROUND(p.v * u.u, 12) AS DECIMAL(18,12))) AS DOUBLE), 12) AS lam
       |  FROM $vName p JOIN ${p}u u ON p.i = u.i
       |)""".stripMargin

  /** Shared moment/covariance prefix: vecs → quantized BIGINT moment
    * sums → μ → symmetric C. The `where` parameter restricts the
    * corpus the moments are estimated on ([[DriftMonitor]]'s
    * reference slice); empty = full table. */
  private[similarity] def basePrefixWhere(where: String): String =
    s"""vecs AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings $where
       |), dims AS (
       |  SELECT unnest(range(0, $D)) AS i
       |), nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM vecs),
       |ex AS MATERIALIZED (
       |  SELECT vec_id, i, v[i+1] AS x FROM vecs CROSS JOIN dims
       |), mu AS MATERIALIZED (
       |  SELECT i,
       |    ROUND(CAST(CAST(SUM(CAST(ROUND(x*1e9, 0) AS BIGINT)) AS BIGINT) AS DOUBLE)/1e9/(SELECT n FROM nn), 9) AS m
       |  FROM ex GROUP BY i
       |), gram AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j,
       |    CAST(SUM(CAST(ROUND((a.x*b.x)*1e9, 0) AS BIGINT)) AS BIGINT) AS sxx
       |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY a.i, b.i
       |), cov0 AS MATERIALIZED (
       |  SELECT g.i, g.j,
       |    ROUND(CAST(g.sxx AS DOUBLE)/1e9/(SELECT n FROM nn) - mi.m*mj.m, 9) AS c
       |  FROM gram g JOIN mu mi ON g.i = mi.i JOIN mu mj ON g.j = mj.i
       |), cov AS MATERIALIZED (
       |  SELECT i, j, c FROM cov0
       |  UNION ALL SELECT j AS i, i AS j, c FROM cov0 WHERE i < j
       |), v0 AS (
       |  SELECT i, CAST(1.0 AS DOUBLE) AS v FROM dims
       |)""".stripMargin

  val embedPcaOracle: String =
    s"""WITH ${basePrefixWhere("")}, ${iterChain("", "cov")},
       |muarr AS (SELECT list(m ORDER BY i) AS mu FROM mu),
       |pcarr AS (SELECT list(v ORDER BY i) AS pc FROM v$Iters)
       |SELECT a.vec_id, a.label,
       |  ROUND(list_reduce(list_transform(range(1, ${D + 1}), i ->
       |    ROUND(a.v[i] - m.mu[i], 9) * p.pc[i]), (x, y) -> x + y), 6) + 0.0 AS pc1
       |FROM vecs a CROSS JOIN muarr m CROSS JOIN pcarr p
       |ORDER BY a.vec_id""".stripMargin

  /** The whitening oracle extends the chain: λ₁ Rayleigh CTEs, the
    * deflated cov2 = round₉(C − λ₁v₁v₁ᵀ), a second prefixed 8-round
    * chain, λ₂ under the ORIGINAL C, and the two whitened projections
    * dividing by round₁₂(√λ). */
  val embedWhitenOracle: String =
    s"""WITH ${basePrefixWhere("")}, ${iterChain("", "cov")}, ${lamCtes("a", "cov", s"v$Iters")},
       |cov2 AS MATERIALIZED (
       |  SELECT c.i, c.j,
       |    ROUND(c.c - (SELECT lam FROM alam) * a.v * b.v, 9) AS c
       |  FROM cov c JOIN v$Iters a ON c.i = a.i JOIN v$Iters b ON c.j = b.i
       |), bv0 AS (
       |  SELECT i, CAST(1.0 AS DOUBLE) AS v FROM dims
       |), ${iterChain("b", "cov2")}, ${lamCtes("c", "cov", s"bv$Iters")},
       |muarr AS (SELECT list(m ORDER BY i) AS mu FROM mu),
       |p1arr AS (SELECT list(v ORDER BY i) AS pc FROM v$Iters),
       |p2arr AS (SELECT list(v ORDER BY i) AS pc FROM bv$Iters)
       |SELECT a.vec_id, a.label,
       |  ROUND(list_reduce(list_transform(range(1, ${D + 1}), i ->
       |    ROUND(a.v[i] - m.mu[i], 9) * p.pc[i]), (x, y) -> x + y)
       |    / ROUND(SQRT((SELECT lam FROM alam)), 12), 6) + 0.0 AS w1,
       |  ROUND(list_reduce(list_transform(range(1, ${D + 1}), i ->
       |    ROUND(a.v[i] - m.mu[i], 9) * q.pc[i]), (x, y) -> x + y)
       |    / ROUND(SQRT((SELECT lam FROM clam)), 12), 6) + 0.0 AS w2
       |FROM vecs a CROSS JOIN muarr m CROSS JOIN p1arr p CROSS JOIN p2arr q
       |ORDER BY a.vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pca" -> (embedPca _),
    "embed_whiten" -> (embedWhiten _))

  val oracles: Map[String, String] = Map(
    "embed_pca" -> embedPcaOracle,
    "embed_whiten" -> embedWhitenOracle)
}
