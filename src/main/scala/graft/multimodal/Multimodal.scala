package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads + typed feature
  * extraction through a batched decoder.
  *
  * The real decode (image/audio libs) is STUBBED — [[DecodeStub]]
  * computes deterministic fake features — but the Spark plumbing is
  * real: a binary column, a typed `Dataset` batch pipeline
  * (mapPartitions = one decoder instance per partition, the same shape
  * a JNI/FFmpeg decoder needs), and a schema contract checked against
  * a SQL oracle.
  */
object Multimodal {

  case class MMRecord(doc_id: Long, payload: Array[Byte])
  case class MMFeature(doc_id: Long, byte_len: Long, content_md5: String,
      fake_mean_pixel: Double, n_frames: Long)

  /** Stand-in for a media decoder: deterministic features from bytes.
    * Replace `decode` with the real library call; the pipeline shape
    * (per-partition batching, typed output) stays. */
  object DecodeStub {
    def decode(payload: Array[Byte]): (Long, String, Double, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(payload).map("%02x".format(_)).mkString
      // Polynomial hash over bytes — matches TextOps.polyHash on ASCII.
      var h = 0L
      payload.foreach { b => h = (h * 31 + (b & 0xffL)) % 1000000007L }
      val meanPixel = BigDecimal(h % 256L / 255.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (payload.length.toLong, hex, meanPixel, payload.length / 100 + 1)
    }
  }

  /** Batched typed decode: one decoder per partition, records streamed
    * through it. */
  def decodeFeatures(records: Dataset[MMRecord]): Dataset[MMFeature] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // per-partition decoder setup would go here (codec init, JNI…)
      it.map { r =>
        val (len, md5hex, mean, frames) = DecodeStub.decode(r.payload)
        MMFeature(r.doc_id, len, md5hex, mean, frames)
      }
    }
  }

  // --------------------------------------------------------------- #40
  /** documents.text → binary payload → batched decode → typed feature
    * frame. Oracle recomputes the same features relationally. */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val records = Tables.documents(spark, dir)
      .repartition(col("doc_id")) // decode batches on every core
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MMRecord]
    decodeFeatures(records).toDF()
      .orderBy("doc_id")
  }

  val mmFeaturesOracle: String =
    """SELECT doc_id,
      |  octet_length(encode(text))::BIGINT AS byte_len,
      |  md5(text) AS content_md5,
      |  ROUND((list_reduce(list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT),
      |    (a, b) -> (a * 31 + b) % 1000000007) % 256) / 255.0, 6) AS fake_mean_pixel,
      |  (octet_length(encode(text)) // 100 + 1)::BIGINT AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- #40p
  /** Frame sampling plumbing: each payload is cut into fixed 100-byte
    * "frames" and every 2nd frame is sampled — the explode/slice shape
    * a video pipeline uses (keyframe stride), with the decode itself
    * still stubbed to a hash. One row per sampled frame, no shuffle:
    * the explode and slicing are per-row projections, so a 100 TB
    * corpus fans out in place and downstream per-frame featurizers
    * parallelize on the exploded rows. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_frames", (length(col("text")) / 100).cast("long") + 1)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(2L))).as("frame_idx"))
      .withColumn("frame",
        expr("substring(text, CAST(frame_idx * 100 + 1 AS INT), 100)"))
      .select(col("doc_id"), col("frame_idx"),
        md5(col("frame").cast("binary")).as("frame_md5"),
        length(col("frame")).cast("long").as("frame_len"))
      .orderBy("doc_id", "frame_idx")

  val frameSampleOracle: String =
    """SELECT d.doc_id, f.frame_idx,
      |  md5(substring(d.text, CAST(f.frame_idx * 100 + 1 AS INT), 100)) AS frame_md5,
      |  CAST(LENGTH(substring(d.text, CAST(f.frame_idx * 100 + 1 AS INT), 100)) AS BIGINT) AS frame_len
      |FROM documents d,
      |  LATERAL (SELECT unnest(generate_series(0, LENGTH(d.text) // 100, 2)) AS frame_idx) f
      |ORDER BY d.doc_id, f.frame_idx""".stripMargin

  // -------------------------------------------------------------- #40q
  case class MMResized(doc_id: Long, orig_len: Long, resized_len: Long,
      resized_md5: String)

  /** Resize plumbing: payload in, smaller payload out, through the
    * same one-resizer-per-partition typed batch shape as
    * [[decodeFeatures]]. The resize itself is STUBBED as a
    * deterministic 2:1 byte decimation (a real libvips/swscale call
    * drops in without touching the pipeline); output carries the
    * resized payload's length and digest so the oracle can check the
    * transform byte-for-byte. */
  def resizePayloads(records: Dataset[MMRecord]): Dataset[MMResized] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        // stub resize: keep every 2nd byte (offsets 0, 2, 4, …)
        val resized = Array.tabulate((r.payload.length + 1) / 2)(i => r.payload(2 * i))
        md.reset()
        val hex = md.digest(resized).map("%02x".format(_)).mkString
        MMResized(r.doc_id, r.payload.length.toLong, resized.length.toLong, hex)
      }
    }
  }

  def mmResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val records = Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MMRecord]
    resizePayloads(records).toDF().orderBy("doc_id")
  }

  val mmResizeOracle: String =
    """SELECT doc_id,
      |  CAST(LENGTH(text) AS BIGINT) AS orig_len,
      |  CAST((LENGTH(text) + 1) // 2 AS BIGINT) AS resized_len,
      |  md5(array_to_string(
      |    list_transform(range(1, LENGTH(text) + 2, 2), i -> substring(text, CAST(i AS INT), 1)),
      |    '')) AS resized_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- #40u
  /** Audio-window plumbing: each payload is cut into OVERLAPPING
    * fixed-size segments (window 200 bytes, hop 100 — the 50%-overlap
    * spectrogram-window shape; frame_sample's frames are disjoint),
    * with a stubbed per-segment energy feature (polynomial hash
    * standing in for RMS; a real PCM decode drops into the same
    * projection). Explode + substring are per-row projections inside
    * whole-stage codegen — no shuffle, a 100 TB corpus fans out in
    * place exactly like [[frameSample]]. */
  def audioSegments(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(spark)
    Tables.documents(spark, dir)
      // empty payload guard: sequence(0, -100, 100) THROWS in Spark
      // (start > stop with positive step) where DuckDB's
      // generate_series returns empty — filter the degenerate row out
      // in both engines instead of diverging on it
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          floor((length(col("text")) - 1) / 100).cast("long") * 100, lit(100L)))
          .as("seg_start"))
      .withColumn("segment",
        expr("substring(text, CAST(seg_start + 1 AS INT), 200)"))
      .select(col("doc_id"), col("seg_start"),
        length(col("segment")).cast("long").as("seg_len"),
        md5(col("segment").cast("binary")).as("seg_md5"),
        // codegen'd byte loop (graft.functions.PolyHash), not an
        // interpreted aggregate() lambda — §5a hot-path rule
        graft.funcs.r6(expr("graft_polyhash(segment, 31)").mod(lit(1000L)) / lit(1000.0))
          .as("fake_rms"))
      .orderBy("doc_id", "seg_start")
  }

  val audioSegmentsOracle: String =
    """SELECT d.doc_id, s.seg_start,
      |  CAST(LENGTH(substring(d.text, CAST(s.seg_start + 1 AS INT), 200)) AS BIGINT) AS seg_len,
      |  md5(substring(d.text, CAST(s.seg_start + 1 AS INT), 200)) AS seg_md5,
      |  ROUND((list_reduce(list_transform(
      |      string_split(substring(d.text, CAST(s.seg_start + 1 AS INT), 200), ''),
      |      ch -> ascii(ch)::BIGINT), (a, b) -> (a * 31 + b) % 1000000007)
      |    % 1000) / 1000.0, 6) AS fake_rms
      |FROM documents d,
      |  LATERAL (SELECT unnest(generate_series(0, ((LENGTH(d.text) - 1) // 100) * 100, 100))
      |    AS seg_start) s
      |WHERE LENGTH(d.text) > 0
      |ORDER BY d.doc_id, s.seg_start""".stripMargin

  // -------------------------------------------------------------- #40v
  case class PHashRow(doc_id: Long, phash: Long)

  /** 56-bit dHash layout of the pHash: an 8×8 grayscale grid, bit r*7+c set iff g(r,c) > g(r,c+1) — seven
    * row-adjacent comparisons per row. 56 bits (not the canonical
    * 9×8 = 64) keeps the fingerprint clear of the BIGINT sign bit:
    * DuckDB refuses `1::BIGINT << 63`, and sign-free fingerprints
    * make the banding shifts identical across engines. */
  private def dhash56(gray: (Int, Int) => Double): Long = {
    var fp = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if (gray(r, c) > gray(r, c + 1)) fp |= 1L << (r * 7 + c)
        c += 1
      }
      r += 1
    }
    fp
  }

  /** Stub pHash through the one-decoder-per-partition seam: the 8×8
    * "grid" is 64 bytes sampled evenly from the payload (position
    * (idx·(n−1))/63) — deterministic byte math standing in for the
    * decode+downscale, so the whole dedup is SQL-expressible and
    * oracle-checked. A real decoder replaces the byte sampling with a
    * block-averaged 8×8 luma grid; the dHash stays. */
  def phashStub(records: Dataset[MMRecord]): Dataset[PHashRow] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val p = r.payload
        val n = p.length
        val fp = dhash56((row, c) => {
          val idx = row * 8 + c
          (p(((idx.toLong * (n - 1)) / 63).toInt) & 0xff).toDouble
        })
        PHashRow(r.doc_id, fp)
      }
    }
  }

  /** Image near-dup via perceptual hash — where multimodal and dedup
    * intersect: stub pHash per payload through the decoder seam, then
    * hamming ≤ 3 pairs via [[graft.dedup.Dedup.simHash]]'s pigeonhole
    * banding (4 × 14-bit bands: ≤3 differing bits leave at least one
    * band identical, so band candidates provably include every
    * qualifying pair; exact bit_count(xor) verifies). Scale shape
    * identical to simHash: fingerprints cached to feed both join
    * sides, equi-join on (band_idx, band_key) — no O(n²) corpus
    * product, and at 100 TB the band table is the persisted index.
    *
    * Corpus: each payload plus a lightly-corrupted copy (every 97th
    * byte rewritten — the re-encode/metadata-strip artifact class a
    * crawl sees re-ingesting the same image) under doc_id+100000.
    * Measured at sf0.01: 487/500 original↔copy pairs at hamming ≤ 3
    * (median 1), ZERO cross pairs — the corpus's token-shuffle text
    * near-dups are correctly NOT matched (byte-position hashing is
    * the wrong tool for bag-of-words similarity, and the zero is the
    * proof; token near-dup is minHashLsh/simHash's job). */
  def mmPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .where(length(col("text")) > 0)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MMRecord]
    val reEncoded = base.map(r => MMRecord(r.doc_id + 100000L,
      r.payload.zipWithIndex.map { case (b, i) =>
        if (i % 97 == 0) 'x'.toByte else b }))
    val hashes = phashStub(base.union(reEncoded)).toDF().localCheckpoint()
    val banded = hashes.select(col("doc_id"), col("phash"),
      explode(expr("transform(sequence(0, 3), b -> struct(b AS band_idx, shiftright(phash, 14*b) & 16383 AS band_key))")).as("band"))
      .select(col("doc_id"), col("phash"), col("band.band_idx"), col("band.band_key"))
    val a = banded.select(col("band_idx"), col("band_key"),
      col("doc_id").as("id_a"), col("phash").as("ph_a"))
    val b = banded.select(col("band_idx"), col("band_key"),
      col("doc_id").as("id_b"), col("phash").as("ph_b"))
    a.join(b, Seq("band_idx", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(expr("ph_a ^ ph_b")).cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  val mmPhashDedupOracle: String =
    """WITH orig AS (SELECT doc_id, text FROM documents WHERE LENGTH(text) > 0),
      |noisy AS (
      |  SELECT doc_id + 100000 AS doc_id,
      |    array_to_string(list_transform(range(1, LENGTH(text) + 1),
      |      i -> CASE WHEN (i - 1) % 97 = 0 THEN 'x'
      |        ELSE substring(text, CAST(i AS INT), 1) END), '') AS text
      |  FROM orig
      |),
      |d AS (SELECT * FROM orig UNION ALL SELECT * FROM noisy),
      |ph AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(range(0, 56), b ->
      |      CASE WHEN
      |        ascii(substring(text, CAST(1 + (((b // 7) * 8 + (b % 7)) * (LENGTH(text) - 1)) // 63 AS INT), 1))
      |        > ascii(substring(text, CAST(1 + (((b // 7) * 8 + (b % 7) + 1) * (LENGTH(text) - 1)) // 63 AS INT), 1))
      |      THEN (1::BIGINT << b) ELSE 0::BIGINT END),
      |      (x, y) -> x + y) AS phash
      |  FROM d
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
      |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= 3
      |ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_features" -> (mmFeatures _),
    "mm_resize" -> (mmResize _),
    "mm_frame_sample" -> (frameSample _),
    "mm_audio_segments" -> (audioSegments _),
    "mm_phash_dedup" -> (mmPhashDedup _))

  val oracles: Map[String, String] = Map(
    "mm_features" -> mmFeaturesOracle,
    "mm_resize" -> mmResizeOracle,
    "mm_frame_sample" -> frameSampleOracle,
    "mm_audio_segments" -> audioSegmentsOracle,
    "mm_phash_dedup" -> mmPhashDedupOracle)
}
