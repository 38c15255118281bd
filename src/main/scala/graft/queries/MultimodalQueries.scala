package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.multimodal.Multimodal
import graft.SparkEntry.t
import graft.queries.SharedSql.{duckFnvU, duckToks, duckU2S}

/** Registry queries of multimodal corpora: image, audio and video frames, their
  * features and curation. Each query registers with its oracle right after its
  * body.
  */
private[graft] object MultimodalQueries extends QueryFamily {

  private def multimodalBytes(s: SparkSession, dir: String): DataFrame =
    Multimodal.byteStats(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("n_chars").cast("long").as("n_chars"))
  query("q_multimodal_bytes", multimodalBytes,
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |CAST(len(text) AS BIGINT) AS n_chars
      |FROM documents""".stripMargin)

  private def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageMeta(Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text")).toDF()
  // FNV-1a replicated in DuckDB: HUGEINT arithmetic mod 2^64 for the
  // wrapping multiply; byte xor touches only the low 8 bits so it runs as
  // BIGINT xor on (h % 256). Valid because the corpus is ASCII
  // (octet_length == len, asserted by q_multimodal_bytes matching), so
  // ord(char) == byte. Verifies the decode-stub plumbing end to end:
  // width/height are floorMod of the signed/shifted hash.
  query("q_multimodal_meta", multimodalMeta,
    """WITH h AS (
      |  SELECT doc_id, octet_length(encode(text)) AS nb, list_reduce(
      |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |      [CAST(ord(text[i]) AS HUGEINT) FOR i IN range(1, len(text)+1)]),
      |    (a, b) -> ((a - (a % 256) + xor(CAST(a % 256 AS BIGINT), CAST(b AS BIGINT))) * 1099511628211) % 18446744073709551616
      |  ) AS hu
      |  FROM documents
      |), hs AS (
      |  SELECT doc_id, nb, hu,
      |    CASE WHEN hu >= 9223372036854775808 THEN CAST(hu - 18446744073709551616 AS BIGINT)
      |         ELSE CAST(hu AS BIGINT) END AS hsv
      |  FROM h
      |)
      |SELECT doc_id AS media_id, 'image/png' AS mime,
      |  CAST(640 + ((hsv % 1280) + 1280) % 1280 AS INT) AS width,
      |  CAST(360 + (hu // 4294967296) % 720 AS INT) AS height,
      |  CAST(nb AS BIGINT) AS n_bytes, hsv AS sha_like
      |FROM hs""".stripMargin)

  /** Frame sampling layout (every 3rd frame of the fake video): the
    * (media_id, frame_index) multiplicity is deterministic — frame count =
    * payload_bytes/1024 + 1 — so the explode/generator plumbing gets a real
    * oracle even though the per-frame features are engine-specific fakes.
    */
  private def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSamples(
        Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"), everyN = 3, dim = 8)
      .toDF()
      .select(col("media_id"), col("frame_index").cast("long").as("frame_index"))
  query("q_multimodal_frames", multimodalFrames,
    """SELECT doc_id AS media_id,
      |CAST(unnest([i FOR i IN range(0, octet_length(encode(text)) // 1024 + 1, 3)]) AS BIGINT) AS frame_index
      |FROM documents""".stripMargin)

  /** REAL decoded-pixel features, oracle-checked end to end: each document
    * becomes a 24×16 PNG whose pixels follow a closed-form mod-256 formula
    * ([[Multimodal.syntheticMedia]]), the engine round-trips it through a
    * real ImageIO encode + decode, and [[Multimodal.features]] computes
    * channel means + an 8-bin luminance histogram from the DECODED raster.
    * PNG is lossless, so the DuckDB oracle replays the identical numbers by
    * regenerating the pixel grid arithmetically — if the decode or the
    * pixel math were fake, the hashes would diverge.
    */
  private def imageFeaturesQ(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMedia(
      t(s, dir, "documents").select(col("doc_id")), "doc_id", 24, 16)
    val f = Multimodal.features(media, dim = 11).toDF()
    val cols = Seq(col("media_id").as("doc_id")) ++
      Seq("mean_r", "mean_g", "mean_b").zipWithIndex.map { case (nm, i) =>
        round(element_at(col("feature"), i + 1).cast("double"), 6).as(nm)
      } ++
      (0 until 8).map(b =>
        round(element_at(col("feature"), b + 4).cast("double"), 6).as(s"h$b"))
    f.select(cols: _*)
  }
  query("q_image_features", imageFeaturesQ,
    """WITH px AS (
      |  SELECT d.doc_id,
      |    CAST((d.doc_id*31 + x.x*7 + y.y*13) % 256 AS INTEGER) AS r,
      |    CAST((d.doc_id*17 + x.x*11 + y.y*5) % 256 AS INTEGER) AS g,
      |    CAST((d.doc_id*29 + x.x*3 + y.y*19) % 256 AS INTEGER) AS b
      |  FROM documents d,
      |       (SELECT unnest(range(24)) AS x) x,
      |       (SELECT unnest(range(16)) AS y) y
      |), lb AS (
      |  SELECT doc_id, r, g, b,
      |    ((r*299 + g*587 + b*114) // 1000) * 8 // 256 AS bin
      |  FROM px
      |)
      |SELECT doc_id,
      |  round(CAST(CAST(CAST(sum(r) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS mean_r,
      |  round(CAST(CAST(CAST(sum(g) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS mean_g,
      |  round(CAST(CAST(CAST(sum(b) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS mean_b,
      |  round(CAST(CAST(CAST(sum(CASE WHEN bin=0 THEN 1 ELSE 0 END) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS h0,
      |  round(CAST(CAST(CAST(sum(CASE WHEN bin=1 THEN 1 ELSE 0 END) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS h1,
      |  round(CAST(CAST(CAST(sum(CASE WHEN bin=2 THEN 1 ELSE 0 END) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS h2,
      |  round(CAST(CAST(CAST(sum(CASE WHEN bin=3 THEN 1 ELSE 0 END) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS h3,
      |  round(CAST(CAST(CAST(sum(CASE WHEN bin=4 THEN 1 ELSE 0 END) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS h4,
      |  round(CAST(CAST(CAST(sum(CASE WHEN bin=5 THEN 1 ELSE 0 END) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS h5,
      |  round(CAST(CAST(CAST(sum(CASE WHEN bin=6 THEN 1 ELSE 0 END) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS h6,
      |  round(CAST(CAST(CAST(sum(CASE WHEN bin=7 THEN 1 ELSE 0 END) AS DOUBLE)/384.0 AS REAL) AS DOUBLE), 6) AS h7
      |FROM lb GROUP BY doc_id""".stripMargin)

  /** Perceptual image dedup: every synthetic PNG is decoded, dHashed
    * ([[Multimodal.dHashes]] — 9×8 pooled BT.601 luminance, adjacent-block
    * comparisons, 64 bits), and mapped to its canonical asset (smallest
    * media_id sharing the hash). The synthetic pixel formula repeats
    * whenever the three channel offsets all wrap (doc_id ≡ mod 256), so the
    * corpus genuinely contains pixel-identical images and the clusters are
    * non-trivial; the DuckDB oracle replays pixels → pooling →
    * cross-multiplied comparisons → bit packing with integer arithmetic
    * only. Near-dup (Hamming ≤ d) pairing is spec'd on perturbed rasters
    * (`MultimodalSpec`) — the banding machinery is [[Dedup.simhashPairs]]'.
    */
  private def imageDhashQ(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMedia(
      t(s, dir, "documents").select(col("doc_id")), "doc_id", 24, 16)
    val hashes = Multimodal.dHashes(media).toDF()
    val canon = hashes.groupBy(col("dhash")).agg(min(col("media_id")).as("canonical_id"))
    hashes.join(canon, "dhash")
      .select(col("media_id").as("doc_id"), col("dhash"), col("canonical_id"))
  }
  // dHash replayed with INTEGER arithmetic only: the q_image_features
  // pixel generator, per-pixel BT.601 luminance, 9x8 block pooling by
  // floor mapping, adjacent-column comparison by cross-multiplying sums
  // against counts (no division), bits packed via two BIGINT halves into
  // one unsigned HUGEINT, reduced to Spark's signed BIGINT
  query("q_image_dhash", imageDhashQ,
    s"""WITH px AS (
       |  SELECT d.doc_id, x.x, y.y,
       |    (CAST((d.doc_id*31 + x.x*7 + y.y*13) % 256 AS BIGINT)*299 +
       |     CAST((d.doc_id*17 + x.x*11 + y.y*5) % 256 AS BIGINT)*587 +
       |     CAST((d.doc_id*29 + x.x*3 + y.y*19) % 256 AS BIGINT)*114) // 1000 AS lum
       |  FROM documents d,
       |       (SELECT unnest(range(24)) AS x) x,
       |       (SELECT unnest(range(16)) AS y) y
       |), blk AS (
       |  SELECT doc_id, (x*9)//24 AS gx, (y*8)//16 AS gy,
       |    SUM(lum) AS s, COUNT(*) AS c
       |  FROM px GROUP BY 1, 2, 3
       |), bits AS (
       |  SELECT a.doc_id, CAST(a.gy*8 + a.gx AS BIGINT) AS bitpos
       |  FROM blk a JOIN blk b ON a.doc_id = b.doc_id AND b.gx = a.gx + 1 AND b.gy = a.gy
       |  WHERE a.gx < 8 AND b.s * a.c > a.s * b.c
       |), hv AS (
       |  SELECT d.doc_id,
       |    CAST(COALESCE(SUM(CASE WHEN bitpos >= 32 THEN CAST(1 AS BIGINT) << (bitpos - 32) END), 0) AS HUGEINT)
       |      * 4294967296 +
       |    CAST(COALESCE(SUM(CASE WHEN bitpos < 32 THEN CAST(1 AS BIGINT) << bitpos END), 0) AS HUGEINT) AS hu
       |  FROM (SELECT DISTINCT doc_id FROM px) d
       |  LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id
       |), h AS (
       |  SELECT doc_id, ${duckU2S("hu")} AS dhash FROM hv
       |)
       |SELECT doc_id, dhash,
       |  MIN(doc_id) OVER (PARTITION BY dhash) AS canonical_id
       |FROM h""".stripMargin)

  /** Real audio-container parse: the synthetic WAV corpus
    * ([[Multimodal.syntheticAudio]]) round-tripped through the JDK's
    * actual RIFF/WAVE reader ([[Multimodal.audioMeta]]). The oracle states
    * the generator's closed-form metadata; the engine must recover it by
    * PARSING the bytes — a malformed container or broken reader fails the
    * row, not the stub.
    */
  private def audioMetaQ(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticAudio(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.audioMeta(media).toDF()
      .select(col("media_id").as("doc_id"), col("sample_rate"), col("channels"),
        col("bits_per_sample"), col("n_samples"), col("duration_us"),
        col("decoded"))
  }
  // closed-form container constants — the engine must recover them by
  // actually parsing the RIFF/WAVE bytes it generated
  query("q_audio_meta", audioMetaQ,
    """SELECT doc_id, 8000 AS sample_rate, 1 AS channels,
      |  16 AS bits_per_sample, CAST(800 AS BIGINT) AS n_samples,
      |  CAST(100000 AS BIGINT) AS duration_us, TRUE AS decoded
      |FROM documents""".stripMargin)

  /** Real signal statistics over DECODED PCM ([[Multimodal.audioFeatures]]):
    * peak, zero crossings, RMS, mean from exact integer sums over the
    * samples read back out of the WAV container. The sawtooth fixture is
    * lossless, so DuckDB replays the decoded stream arithmetically —
    * decode + feature extraction verified end to end, the audio analog of
    * `q_image_features`.
    */
  private def audioFeaturesQ(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticAudio(
      t(s, dir, "documents").select(col("doc_id")), "doc_id")
    Multimodal.audioFeatures(media).toDF()
      .select(col("media_id").as("doc_id"), col("n_samples"), col("peak"),
        col("zero_crossings"), round(col("rms"), 6).as("rms"),
        round(col("mean"), 6).as("mean"))
  }
  // the sawtooth PCM replayed arithmetically: seed from FNV-1a("aud|id"),
  // s[t] = ((s0 + step*t) mod 2^16) - 2^15; features are exact integer
  // sums with one IEEE division (+ sqrt) at the end
  query("q_audio_features", audioFeaturesQ,
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ${duckFnvU("('aud|' || CAST(doc_id AS VARCHAR))")} AS seed
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, CAST(seed % 65536 AS BIGINT) AS s0,
       |    1 + CAST((seed // 65536) % 32749 AS BIGINT) AS step
       |  FROM h
       |), s AS (
       |  SELECT doc_id, t, ((s0 + step * t) % 65536) - 32768 AS v
       |  FROM p, unnest(range(0, 800)) AS u(t)
       |), z AS (
       |  SELECT doc_id, t, v,
       |    lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
       |  FROM s
       |)
       |SELECT doc_id, COUNT(*) AS n_samples, MAX(abs(v)) AS peak,
       |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
       |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       |  round(sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)), 6) AS rms,
       |  round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean
       |FROM z GROUP BY doc_id""".stripMargin)

  /** Multimodal end-to-end curation: a document survives iff (1) its image
    * is its dHash cluster's canonical (perceptual image dedup — first
    * occurrence keeps), (2) its audio RMS sits inside the quality band
    * (decoded-PCM gate), and (3) its text passes the Gopher A1.1 rules.
    * Three modality verdicts — each partial-aggregated or per-partition
    * bounded — meet in `doc_id`-keyed joins; payload bytes (pixels, PCM)
    * never shuffle, only 8-byte ids, hashes, and one double per doc.
    */
  private def curateMultimodalQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val dh = Multimodal.dHashes(Multimodal.syntheticMedia(
      docs.select(col("doc_id")), "doc_id", 24, 16)).toDF()
    val canon = dh.groupBy(col("dhash")).agg(min(col("media_id")).as("canonical_id"))
    val imgKeep = dh.join(canon, "dhash")
      .filter(col("media_id") === col("canonical_id"))
      .select(col("media_id").as("doc_id"))
    val aud = Multimodal.audioFeatures(Multimodal.syntheticAudio(
        docs.select(col("doc_id")), "doc_id")).toDF()
      .filter(col("rms") >= 18910.0 && col("rms") <= 18930.0)
      .select(col("media_id").as("doc_id"), col("rms"))
    // six Gopher flags sans f_stop — the synthetic corpus never carries two
    // distinct stopwords, so the full `keep` would gate vacuously (same
    // adaptation as curateCorpusV2Q)
    val g = TF.gopherFlags(col("text"))
    docs
      .join(imgKeep, Seq("doc_id"), "left_semi")
      .filter(g.getField("f_wc") && g.getField("f_mwl") && g.getField("f_symbol") &&
        g.getField("f_bullet") && g.getField("f_ellipsis") && g.getField("f_alpha"))
      .join(aud, "doc_id")
      .select(col("doc_id"), round(col("rms"), 6).as("rms"))
  }
  // Real decoded-pixel features replayed without a codec: the engine
  // renders each doc as a 24x16 PNG from a closed-form mod-256 pixel
  // formula, ImageIO-decodes it, and computes channel means + an 8-bin
  // BT.601 luminance histogram from the raster. PNG is lossless, so this
  // SQL regenerates the same grid arithmetically; the REAL cast mirrors
  // the engine's Array[Float] storage (round6 of float-of-double on both
  // sides).
  // the three modality verdicts composed: dHash canonical (pixels →
  // pooled luminance → bit pack → min per cluster), decoded-PCM RMS band,
  // Gopher A1.1 keep — all replayed arithmetically over the lossless
  // fixtures, then doc_id-joined exactly like the engine
  query("q_curate_multimodal", curateMultimodalQ,
    s"""WITH px AS (
       |  SELECT d.doc_id, x.x, y.y,
       |    (CAST((d.doc_id*31 + x.x*7 + y.y*13) % 256 AS BIGINT)*299 +
       |     CAST((d.doc_id*17 + x.x*11 + y.y*5) % 256 AS BIGINT)*587 +
       |     CAST((d.doc_id*29 + x.x*3 + y.y*19) % 256 AS BIGINT)*114) // 1000 AS lum
       |  FROM documents d,
       |       (SELECT unnest(range(24)) AS x) x,
       |       (SELECT unnest(range(16)) AS y) y
       |), blk AS (
       |  SELECT doc_id, (x*9)//24 AS gx, (y*8)//16 AS gy,
       |    SUM(lum) AS s, COUNT(*) AS c
       |  FROM px GROUP BY 1, 2, 3
       |), bits AS (
       |  SELECT a.doc_id, CAST(a.gy*8 + a.gx AS BIGINT) AS bitpos
       |  FROM blk a JOIN blk b ON a.doc_id = b.doc_id AND b.gx = a.gx + 1 AND b.gy = a.gy
       |  WHERE a.gx < 8 AND b.s * a.c > a.s * b.c
       |), hv AS (
       |  SELECT d.doc_id,
       |    CAST(COALESCE(SUM(CASE WHEN bitpos >= 32 THEN CAST(1 AS BIGINT) << (bitpos - 32) END), 0) AS HUGEINT)
       |      * 4294967296 +
       |    CAST(COALESCE(SUM(CASE WHEN bitpos < 32 THEN CAST(1 AS BIGINT) << bitpos END), 0) AS HUGEINT) AS hu
       |  FROM (SELECT DISTINCT doc_id FROM px) d
       |  LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id
       |), img AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY hu) AS canon FROM hv)
       |  WHERE doc_id = canon
       |), ah AS (
       |  SELECT doc_id,
       |    ${duckFnvU("('aud|' || CAST(doc_id AS VARCHAR))")} AS seed
       |  FROM documents
       |), ap AS (
       |  SELECT doc_id, CAST(seed % 65536 AS BIGINT) AS s0,
       |    1 + CAST((seed // 65536) % 32749 AS BIGINT) AS step
       |  FROM ah
       |), asm AS (
       |  SELECT doc_id, ((s0 + step * t) % 65536) - 32768 AS v
       |  FROM ap, unnest(range(0, 800)) AS u(t)
       |), aud AS (
       |  SELECT doc_id, sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)) AS rms
       |  FROM asm GROUP BY doc_id
       |  HAVING rms >= 18910 AND rms <= 18930
       |), gt AS (
       |  SELECT doc_id, text, $duckToks AS w FROM documents
       |), gm AS (
       |  SELECT doc_id, len(w) AS words,
       |    coalesce(list_sum([len(x) FOR x IN w]), 0) AS chars,
       |    len(text) - len(replace(text, '#', '')) AS hashes,
       |    (len(text) - len(replace(text, '...', ''))) // 3
       |      + (len(text) - len(replace(text, '…', ''))) AS dots,
       |    greatest(len([l FOR l IN string_split(text, chr(10)) IF len(trim(l)) > 0]), 1) AS nlines,
       |    len([l FOR l IN string_split(text, chr(10)) IF len(trim(l)) > 0 AND regexp_matches(trim(l), '^[-*•]')]) AS bullets,
       |    len([l FOR l IN string_split(text, chr(10)) IF len(trim(l)) > 0 AND regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$')]) AS ells,
       |    len([x FOR x IN w IF regexp_matches(x, '[a-z]')]) AS alphaw
       |  FROM gt
       |), gk AS (
       |  SELECT doc_id FROM gm
       |  WHERE (words >= 50 AND words <= 100000) AND (chars >= words*3 AND chars <= words*10)
       |    AND (hashes*10 <= words AND dots*10 <= words)
       |    AND bullets*10 <= nlines*9 AND ells*10 <= nlines*3
       |    AND alphaw*5 >= words*4
       |)
       |SELECT img.doc_id, round(aud.rms, 6) AS rms
       |FROM img JOIN aud USING (doc_id) JOIN gk USING (doc_id)""".stripMargin)
}
