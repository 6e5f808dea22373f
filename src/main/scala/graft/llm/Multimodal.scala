package graft.llm

import graft.Ckpt.CkptOps
import graft.T
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads as opaque BINARY columns
  * with typed metadata, processed in partition-sized batches.
  *
  * The actual image/audio decoders are NOT in this container, so the
  * decode step is a clearly-marked deterministic STUB (a byte-histogram
  * "feature extractor"); everything around it — the binary column
  * schema, the typed batch boundary (mapPartitions over a Dataset), the
  * fixed-width feature vector contract, the metadata struct — is the
  * real plumbing a decoder plugs into. At 100 TB the same shape holds:
  * payload bytes never leave the executor, features are narrow
  * columns, and the expensive step is batched per partition.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Decoded-media feature row (fixed-width contract). */
  final case class MediaFeatures(
      doc_id: Long, mime: String, n_bytes: Int, features: Array[Float])

  val featureDim = 16

  /** STUB decoder: deterministic byte-bucket histogram, normalized.
    * Replace with a real image/audio codec when the libraries are
    * present — the shape (construct once, then bytes in / fixed-width
    * floats out per call) is the contract the pipeline depends on: a
    * real codec holds buffers/handles whose setup cost must amortize
    * across a partition, which is why [[decoded]] instantiates one of
    * these per partition, never per row.
    */
  final class StubDecoder {
    def decode(payload: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](featureDim)
      payload.foreach(b => hist((b & 0xFF) % featureDim) += 1f)
      val n = math.max(payload.length, 1)
      hist.map(_ / n)
    }
  }

  /** Binary-payload frame: (doc_id, payload BINARY, meta STRUCT). In a
    * real pipeline the payload arrives from the source as bytes; here
    * the text corpus stands in.
    */
  def packed(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(lit("text/plain").as("mime"),
          length(col("text")).as("n_chars"),
          col("lang").as("lang")).as("meta"))

  /** Batched decode: typed mapPartitions over the binary column — ONE
    * decoder instance per partition, rows streamed through it lazily
    * (the iterator is mapped, never materialized, so partition memory
    * stays one row + one feature vector regardless of partition size).
    */
  def decoded(s: SparkSession, d: String): DataFrame = {
    val enc = Encoders.product[MediaFeatures]
    packed(s, d)
      .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      .mapPartitions { rows =>
        val decoder = new StubDecoder
        rows.map { row =>
          val bytes = row.getAs[Array[Byte]]("payload")
          MediaFeatures(row.getAs[Long]("doc_id"), row.getAs[String]("mime"),
            bytes.length, decoder.decode(bytes))
        }
      }(enc)
      .toDF()
  }

  val queries: Map[String, Q] = Map(
    // Decode + feature-stat projection; scalar finals only. LlmSpec
    // asserts schema, determinism, and byte accounting; the oracle
    // replays the stub histogram in SQL (texts are ASCII, so DuckDB's
    // per-char codepoints equal the payload bytes, and FLOAT casts
    // reproduce the stub's float32 divisions bit-for-bit).
    "multimodal_decode" -> ((s, d) =>
      decoded(s, d)
        .select(col("doc_id"), col("mime"), col("n_bytes"),
          round(sqrt(aggregate(transform(col("features"),
            x => x.cast("double") * x), lit(0.0), (a, v) => a + v)), 4)
            .as("feat_norm"))
        .orderBy("doc_id")),

    // Fixed-stride frame sampling over the BINARY payload — the
    // audio/video frame-extraction plumbing (sample windows, hand
    // each to a decoder) as pure codegen'd column work: substr on
    // binary never moves bytes off the executor, no UDF, no decoder
    // needed for the windowing itself. 32-byte frames, stride = frame
    // length (non-overlapping, full coverage: Σ frame_bytes =
    // payload bytes, spec'd); every doc yields ≥1 frame (an empty
    // payload frames to one empty window). Oracle replays the frames
    // over the VARCHAR text — the corpus is ASCII, so string slices
    // and byte slices agree (the multimodal_decode trick).
    "multimodal_frames" -> ((s, d) => {
      val frameLen = 32
      val nFrames = greatest(
        ceil(octet_length(col("payload")) / lit(frameLen.toDouble)).cast("long"),
        lit(1L))
      packed(s, d)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0L), nFrames - 1),
            i => col("payload")
              .substr((i * frameLen + 1).cast("int"), lit(frameLen))))
            .as(Seq("frame_idx", "frame")))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          octet_length(col("frame")).cast("long").as("frame_bytes"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Nearest-neighbor RESIZE to a fixed-length byte thumbnail — the
    // deterministic stub of an image/audio resample, as pure codegen'd
    // column work: output byte i is input byte floor(i·n/64) (the
    // standard NN index map — downsamples long payloads, repeats bytes
    // of short ones), built from 64 one-byte substrs concatenated. No
    // UDF, bytes never leave the executor; a real resampler slots into
    // the SAME shape as a [[decoded]]-style batched mapPartitions.
    // Oracle replays the index map over the VARCHAR text (ASCII corpus
    // ⇒ byte i == char i, the multimodal_decode trick).
    "multimodal_resize" -> ((s, d) => {
      val outLen = 64
      val n = octet_length(col("payload"))
      // i·n in LONG: octet_length is Int, and an Int multiply overflows
      // (ANSI: throws) past ~34 MB payloads — exactly the sizes the
      // binary column is for.
      val resized = concat((0 until outLen).map { i =>
        col("payload")
          .substr(
            floor((lit(i.toLong) * n) / lit(outLen.toDouble)).cast("int") + 1,
            lit(1))
      }: _*)
      packed(s, d)
        .select(col("doc_id"), n.cast("long").as("n_bytes"),
          octet_length(resized).cast("long").as("resized_bytes"),
          md5(resized).as("resized_md5"))
        .orderBy("doc_id")
    }),

    // Perceptual-hash dedup (r9): near-duplicate MEDIA detection by
    // quantized feature signature — the pHash/aHash shape: decode to a
    // fixed-width feature vector, quantize each dim to a coarse level,
    // group identical signatures (content that decodes alike hashes
    // alike, robust to container-level byte differences that defeat
    // exact digests). Levels are floor(f·8) on EXACT arithmetic
    // (float÷float then ·8 — a power of two — in double: every step
    // bit-identical both engines, so even boundary-sitting features
    // quantize identically). Cluster stats via one signature window —
    // signature-bounded state, the LSH-bucket shape at scale.
    "multimodal_phash" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("signature")
      signatures(s, d)
        .withColumn("cluster", min("doc_id").over(w))
        .withColumn("n_same", count(lit(1)).over(w))
        .orderBy("doc_id")
    }),

    // Perceptual NEAR-dup (r14; restructured r15 — driver round 12): multimodal_phash's
    // exact-signature clusters miss a one-bucket re-encode; this is
    // the banded-LSH tier over the SAME 16-level signature — assets
    // sharing any of four 4-char bands are candidates (a
    // near-identical asset agrees on ≥ one band with high
    // probability), verified by the exact per-position level
    // distance, each asset reporting its SINGLE nearest in-threshold
    // neighbor. The signature space COLLAPSES on this corpus (sf0.1:
    // ~30 distinct signatures, one holding 3,670 of 5,000 docs), so
    // all quadratic work runs on DISTINCT signatures — see
    // phashNearDup's scaladoc; the doc-level band join this replaced
    // emitted 87.6M candidate rows here and timed out the r11 bench.
    "multimodal_neardup" -> ((s, d) =>
      phashNearDup(signatures(s, d), bandLen = 4, maxDist = 6)
        .orderBy("doc_id"))
  )

  /** The 16-char quantized-histogram signature per asset — the
    * perceptual-hash string [[queries]]' phash/neardup keys share.
    * One decode pass, 8 levels per histogram bucket. */
  def signatures(s: SparkSession, d: String): DataFrame =
    decoded(s, d)
      .select(col("doc_id"),
        array_join(transform(col("features"), f =>
          least(floor(f.cast("double") * 8), lit(7.0)).cast("int")
            .cast("string")), "").as("signature"))

  /** Banded candidate SIGNATURE pairs over 16-char level signatures:
    * distinct signatures sharing ANY length-`bandLen` band, with the
    * exact per-position level distance Σ|lᵢ−l'ᵢ|. Both directions
    * (sa, sb) are emitted; a pair agreeing on k bands surfaces ONCE —
    * it is kept only at its FIRST agreeing band (pure column math on
    * the two signatures, the RangeBin keep-in-one-bin trick — no
    * `.distinct()` shuffle). The frame is bounded by
    * |distinct signatures|² REGARDLESS of document count: a flooded
    * signature (boilerplate media — the r11 sf0.1 fixture put 3,670
    * of 5,000 docs on one signature) contributes ONE row per side,
    * never doc×doc. Spec'd: MultimodalSpec pins count ≤ k·(k−1) on a
    * collapsed fixture where doc-pair banding would emit millions.
    */
  def phashSigPairs(sigs: DataFrame, bandLen: Int): DataFrame = {
    require(16 % bandLen == 0, s"bandLen must divide 16: $bandLen")
    val nBands = 16 / bandLen
    val reps = sigs.select(col("signature")).distinct()
    val banded = reps.select(col("signature"),
      explode(expr(s"transform(sequence(0, ${nBands - 1}), b -> " +
        s"struct(b AS b, substring(signature, b * $bandLen + 1, $bandLen)" +
        " AS key))")).as("bk"))
      .select(col("signature"), col("bk.b").as("b"), col("bk.key").as("key"))
    banded.as("l").join(banded.as("r"), Seq("b", "key"))
      .filter(col("l.signature") =!= col("r.signature"))
      .select(col("l.signature").as("sa"), col("r.signature").as("sb"),
        col("b"))
      // First agreeing band of (sa, sb) — emit the pair there only.
      .filter(col("b") === expr(
        s"filter(sequence(0, ${nBands - 1}), bb -> " +
          s"substring(sa, bb * $bandLen + 1, $bandLen) = " +
          s"substring(sb, bb * $bandLen + 1, $bandLen))[0]"))
      .select(col("sa"), col("sb"), expr(
        "aggregate(transform(sequence(1, 16), i -> " +
          "abs(ascii(substring(sa, i, 1)) - ascii(substring(sb, i, 1))))," +
          " 0, (acc, x) -> acc + x)").cast("long").as("dist"))
  }

  /** Banded 1-NN near-dup over 16-char level signatures
    * `sigs("doc_id", "signature")`: docs sharing ANY length-`bandLen`
    * band are candidates; among candidates within the exact
    * per-position level distance Σ|lᵢ−l'ᵢ| ≤ `maxDist`, each doc
    * reports its nearest neighbor (ties to the smaller id). Returns
    * (doc_id, best_match, dist) — docs with no in-threshold candidate
    * are absent; output is at most n rows.
    *
    * Scale shape (the r11 fix): dist is a pure function of the
    * SIGNATURE pair, so every quadratic step runs on DISTINCT
    * signatures ([[phashSigPairs]], ≤ |sigs|² candidate rows — truly
    * never asset×asset, even within a shared band). Per-doc answers
    * are then pure group math: two distinct signatures differ in ≥ 1
    * position (dist ≥ 1), so any doc sharing its signature with
    * another doc has its 1-NN IN-group at dist 0 — best = the group's
    * min doc_id (or the runner-up, for the min itself); only
    * singleton-signature docs consult the cross-signature best, whose
    * per-query tiebreak min(struct(dist, mn)) equals the pair-level
    * (dist, cand_id) order because every doc of a tying foreign group
    * is a candidate and the smallest is that group's mn. Group stats
    * come from combinable groupBys (a flooded signature costs map-side
    * combiners, not one hot window partition), and per-signature
    * answers join back on signature — AQE-broadcastable at |sigs|
    * rows. All-integer arithmetic. ≡-to-reference spec'd in
    * PropertySpec (materialized pair scan, no banding).
    */
  def phashNearDup(sigs: DataFrame, bandLen: Int, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    // sigs feeds stats, the runner-up pass, sig-pairs, and the final
    // assembly — materialize once (lazy, off the CacheManager).
    val sg = sigs.ckptLocal
    val stats = sg.groupBy("signature")
      .agg(min("doc_id").as("mn"), count(lit(1)).as("cnt"))
    // Runner-up doc_id per shared signature — the min doc's own 1-NN.
    val second = sg.join(stats, Seq("signature"))
      .filter(col("doc_id") =!= col("mn"))
      .groupBy("signature").agg(min("doc_id").as("second"))
    // Cross-signature best per query signature: nearest foreign
    // signature's min doc, ties (dist, then doc) via lexicographic
    // struct-min — combine-safe, no window.
    val xbest = phashSigPairs(sg, bandLen)
      .filter(col("dist") <= maxDist)
      .join(stats.select(col("signature").as("sb"), col("mn").as("rmn")),
        Seq("sb"))
      .groupBy(col("sa").as("signature"))
      .agg(min(struct(col("dist").as("dist"), col("rmn").as("rmn")))
        .as("best"))
      .select(col("signature"), col("best.rmn").as("xb"),
        col("best.dist").as("xd"))
    sg.join(stats, Seq("signature"))
      .join(second, Seq("signature"), "left")
      .join(xbest, Seq("signature"), "left")
      .select(col("doc_id"),
        when(col("cnt") >= 2,
          when(col("doc_id") === col("mn"), col("second"))
            .otherwise(col("mn")))
          .otherwise(col("xb")).as("best_match"),
        when(col("cnt") >= 2, lit(0L)).otherwise(col("xd")).as("dist"))
      .filter(col("best_match").isNotNull)
  }

  // Zero-count histogram buckets contribute exactly 0.0 to the
  // sum-of-squares, so summing only occupied buckets in index order
  // matches the stub's full 16-slot loop.
  val oracle: Map[String, String] = Map(
    // The signature NEEDS the zero buckets (they quantize to level 0),
    // so the replay grids doc × 16 dims and zero-fills before
    // quantizing — unlike the decode oracle's sum-of-squares shortcut.
    "multimodal_phash" ->
      """WITH chars AS (
        |  SELECT doc_id, ascii(c) % 16 AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
        |        FROM documents)),
        |bc AS (SELECT doc_id, b, count(*) AS cnt FROM chars GROUP BY 1, 2),
        |n AS (SELECT doc_id, strlen(text) AS n FROM documents),
        |grid AS (SELECT n.doc_id, gs.b
        |         FROM n, (SELECT unnest(range(16)) AS b) gs),
        |lv AS (
        |  SELECT g.doc_id, g.b,
        |         CAST(least(floor(CAST(CAST(COALESCE(bc.cnt, 0) AS FLOAT)
        |                / CAST(n.n AS FLOAT) AS DOUBLE) * 8), 7) AS INT)
        |           AS l
        |  FROM grid g
        |  LEFT JOIN bc ON g.doc_id = bc.doc_id AND g.b = bc.b
        |  JOIN n ON g.doc_id = n.doc_id),
        |sig AS (
        |  SELECT doc_id, string_agg(CAST(l AS VARCHAR), '' ORDER BY b)
        |    AS signature
        |  FROM lv GROUP BY doc_id)
        |SELECT doc_id, signature,
        |       min(doc_id) OVER (PARTITION BY signature) AS cluster,
        |       count(*) OVER (PARTITION BY signature) AS n_same
        |FROM sig ORDER BY doc_id""".stripMargin,

    // The phash sig chain, then the same banded candidates and exact
    // per-position level distance.
    "multimodal_neardup" ->
      """WITH chars AS (
        |  SELECT doc_id, ascii(c) % 16 AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
        |        FROM documents)),
        |bc AS (SELECT doc_id, b, count(*) AS cnt FROM chars GROUP BY 1, 2),
        |n AS (SELECT doc_id, strlen(text) AS n FROM documents),
        |grid AS (SELECT n.doc_id, gs.b
        |         FROM n, (SELECT unnest(range(16)) AS b) gs),
        |lv AS (
        |  SELECT g.doc_id, g.b,
        |         CAST(least(floor(CAST(CAST(COALESCE(bc.cnt, 0) AS FLOAT)
        |                / CAST(n.n AS FLOAT) AS DOUBLE) * 8), 7) AS INT)
        |           AS l
        |  FROM grid g
        |  LEFT JOIN bc ON g.doc_id = bc.doc_id AND g.b = bc.b
        |  JOIN n ON g.doc_id = n.doc_id),
        |sig AS (
        |  SELECT doc_id, string_agg(CAST(l AS VARCHAR), '' ORDER BY b)
        |    AS signature
        |  FROM lv GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, signature, g.b,
        |         substr(signature, g.b * 4 + 1, 4) AS key
        |  FROM sig, (SELECT unnest(range(4)) AS b) g),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS doc_id, l.signature AS sa,
        |         r.doc_id AS cand_id, r.signature AS sb
        |  FROM bands l JOIN bands r
        |    ON l.b = r.b AND l.key = r.key AND l.doc_id <> r.doc_id),
        |d AS (
        |  SELECT doc_id, cand_id,
        |         CAST(list_sum([abs(ascii(sa[i]) - ascii(sb[i]))
        |                        for i in range(1, 17)]) AS BIGINT) AS dist
        |  FROM cand),
        |rk AS (
        |  SELECT doc_id, cand_id, dist,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY dist ASC, cand_id ASC) AS rn
        |  FROM d WHERE dist <= 6)
        |SELECT doc_id, cand_id AS best_match, dist
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "multimodal_decode" ->
      """WITH chars AS (
        |  SELECT doc_id, ascii(c) % 16 AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
        |        FROM documents)),
        |bc AS (
        |  SELECT c.doc_id, c.b, count(*) AS cnt FROM chars c GROUP BY 1, 2),
        |f AS (
        |  SELECT bc.doc_id,
        |    list_reduce(
        |      list_transform(
        |        list(CAST(bc.cnt AS FLOAT) / CAST(d.n AS FLOAT) ORDER BY bc.b),
        |        x -> x::DOUBLE * x::DOUBLE),
        |      (x, y) -> x + y) AS ss
        |  FROM bc JOIN (SELECT doc_id, strlen(text) AS n FROM documents) d
        |    USING (doc_id)
        |  GROUP BY bc.doc_id, d.n)
        |SELECT d.doc_id, 'text/plain' AS mime, CAST(d.n AS INT) AS n_bytes,
        |  round(sqrt(f.ss), 4) AS feat_norm
        |FROM (SELECT doc_id, strlen(text) AS n FROM documents) d
        |JOIN f USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // range() can't take lateral column args as a table function, so
    // the per-doc index list comes from unnest(range(...)) in scalar
    // position instead.
    "multimodal_frames" ->
      """WITH idx AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(CAST(ceil(length(text)/32.0) AS BIGINT),
        |                             1))) AS frame_idx
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, frame_idx,
        |    substring(text, CAST(frame_idx*32 + 1 AS BIGINT), 32) AS frame
        |  FROM idx)
        |SELECT doc_id, frame_idx,
        |  CAST(length(frame) AS BIGINT) AS frame_bytes,
        |  md5(frame) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // Same double-division + floor text as the Spark side (i·n exact as
    // doubles below 2^53 ⇒ identical IEEE result ⇒ identical floor).
    "multimodal_resize" -> {
      val terms = (0 until 64).map(i =>
        s"substring(text, CAST(floor(($i * strlen(text)) / 64.0) AS BIGINT) + 1, 1)")
      s"""SELECT doc_id, n_bytes,
        |  CAST(length(r) AS BIGINT) AS resized_bytes, md5(r) AS resized_md5
        |FROM (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |             concat(${terms.mkString(", ")}) AS r
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin
    }
  )
}
