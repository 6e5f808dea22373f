package graft.llm

import graft.Ckpt.CkptOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-corpus curation composed from the §2.12 operators — the
  * shape of a real pretraining-data pipeline over a (doc_id, text)
  * corpus:
  *
  *   1. quality gate   ([[LlmText.qualityScore]] ≥ threshold)
  *   2. exact dedup    (content digest, lowest doc_id survives)
  *   3. near-dup drop  (MinHash+LSH pairs from [[LlmDedup.minhashPairs]]
  *                      → [[LlmDedup.connectedComponents]] → keep each
  *                      component's smallest id; pair-local survivor
  *                      rules miss transitive duplicates — r3's greedy
  *                      higher-id drop kept both endpoints of a
  *                      (1,3),(2,3) vee)
  *   4. accounting     (tokens kept, per-stage drop counts)
  *
  * Every stage is shuffle-bounded column work — no driver state, no
  * all-pairs — so the composition inherits the 100 TB properties of
  * its parts.
  */
object CorpusPipeline {

  /** Curate a (doc_id, text, …) corpus. Returns surviving rows plus
    * `quality` and `n_tokens`.
    *
    * `maxBandDf` (r8) exposes the LSH band-occupancy valve of the
    * minhash stage ([[LlmDedup.minhashPairs]]'s cap on C(df,2) bucket
    * blowup) through the composed pipeline: at web scale ONE
    * boilerplate band bucket (license headers, templated pages) is
    * where the candidate join explodes, and a pipeline that hides its
    * parts' scale knobs can't be driven past the scale where the
    * default works. None = complete candidate generation (the
    * key-registered configuration); capped-vs-uncapped drop parity on
    * a cap above every real bucket's df is asserted in PipelineSpec.
    */
  def curate(docs: DataFrame, minQuality: Double,
      nearDupJaccard: Double, maxBandDf: Option[Int] = None): DataFrame = {
    // 1. quality gate
    val scored = docs
      .withColumn("quality", round(LlmText.qualityScore(col("text")), 4))
      .filter(col("quality") >= minQuality)
    // 2. exact dedup: lowest doc_id per normalized-content digest
    val w = Window.partitionBy("digest").orderBy("doc_id")
    // The post-dedup slice is consumed ~6× downstream (the minhash
    // battery's two join sides + two shingle-verify joins, the
    // component label init, the final keep-join) — checkpoint it once
    // so read→quality→window doesn't re-execute per consumer
    // (measured ~0.9 s of the key's latency at sf0.1). LAZY (r8): an
    // eager checkpoint is a dedicated sequential job before any real
    // work; lazily it materializes as a side effect of the first
    // downstream action (the component loop's first convergence
    // probe), which also rides the minhash shingle pin and the edge
    // list in the SAME job — three formerly-sequential
    // materialization jobs collapsed into one. At cluster scale the
    // same role is persist(DISK_ONLY) or a staging write.
    // NOT coalesced before the checkpoint (r15, measured): narrowing
    // the slice to 8 partitions here reads as pure scheduling savings,
    // but the checkpoint materializes inside the component loop's
    // round-0 probe — whose job EXECUTES this whole upstream pipeline,
    // including the corpus-sized shingle/minhash battery DOWNSTREAM of
    // this boundary. Coalescing cost that work 4× its parallelism
    // (solo min 1.76 → 2.47 s); the r10 round-0-needs-full-parallelism
    // lesson applies to the boundary's consumers, not just the loop.
    val exact = scored
      .withColumn("digest", md5(lower(trim(col("text")))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "digest")
      .ckptLocal
    // 3. near-dup drop: verified pairs → connected components → keep
    //    each component's smallest id (exact, chain-bias-free)
    val pairs = LlmDedup.minhashPairs(exact, nearDupJaccard, maxBandDf)
    val reps = LlmDedup.connectedComponents(exact, pairs)
      .filter(col("doc_id") === col("cluster")).select("doc_id")
    // reps is component-representative-sized (≤ docs, typically ≪) —
    // broadcast it so the keep-join never exchanges the kept slice.
    val kept = exact.join(broadcast(reps), Seq("doc_id"))
    // 4. accounting columns
    kept
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination (r8) — the named pipeline stage between
    * dedup and packing: training documents that overlap an evaluation
    * benchmark leak test answers into the model, so any doc sharing
    * `minSharedShingles` or more distinct token 3-grams with the
    * benchmark set is flagged. Returns EVERY corpus doc with its
    * shared-shingle count and the flag (callers drop
    * `contaminated`); docs under 3 tokens have no shingles and count 0.
    *
    * Shape at 100 TB: the benchmark side collapses to a DISTINCT
    * shingle set — eval benchmarks are tiny next to a training corpus,
    * so that set broadcasts and the overlap join never shuffles the
    * corpus side twice; candidate volume is the corpus's posting list
    * joined against a benchmark-sized build, not doc×doc. (If the
    * "benchmark" were itself corpus-sized, cap shingle df like
    * [[LlmDedup.ngramPairs]] — boilerplate shingles carry no
    * contamination signal either.)
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      minSharedShingles: Int): DataFrame = {
    def postings(df: DataFrame) = graft.T.spread(
        df.filter(size(split(col("text"), " ")) >= 3))
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"), lit(3)))
          .as("sh"))
    val bench = postings(benchmark).select("sh").distinct()
    val shared = postings(docs).join(bench, Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs.select("doc_id").join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minSharedShingles)
          .as("contaminated"))
  }

  /** Benchmark-side contamination audit: for each benchmark doc, the
    * number of training docs sharing at least `minSharedShingles`
    * distinct 3-shingles with it, and the worst overlap. Returns
    * (bench_id, n_hits, max_shared, compromised) for EVERY benchmark
    * doc (clean ones at 0/0/false). The dual of [[decontaminate]]:
    * same distinct-shingle inverted-index join, aggregated per
    * (bench, train) pair first (pair volume bounded by shared
    * shingle mass — cap high-df shingles at web scale), then per
    * benchmark doc.
    */
  def contaminationReport(docs: DataFrame, benchmark: DataFrame,
      minSharedShingles: Int): DataFrame = {
    def postings(df: DataFrame) = graft.T.spread(
        df.filter(size(split(col("text"), " ")) >= 3))
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"), lit(3)))
          .as("sh"))
    val pairs = postings(benchmark)
      .select(col("doc_id").as("bench_id"), col("sh"))
      .join(postings(docs).select(col("doc_id").as("train_id"), col("sh")),
        Seq("sh"))
      .groupBy("bench_id", "train_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minSharedShingles)
    val perBench = pairs.groupBy("bench_id").agg(
      count(lit(1)).as("n_hits"),
      max(col("n_shared")).as("max_shared"))
    benchmark.select(col("doc_id").as("bench_id"))
      .join(perBench, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("compromised"))
  }

  /** Deterministic stratified sample — training-mix weights per
    * stratum (e.g. per language). Content-hash Bernoulli: a row is
    * kept iff its 60-bit md5 prefix falls under its stratum's
    * fraction threshold, so its fate depends only on its own values —
    * same seed → same sample on ANY partitioning or cluster size.
    * (Spark's `df.stat.sampleBy` does NOT have this property: it
    * seeds an RNG per partition, so the sample changes with the
    * partitioning — measured, not assumed.) Strata absent from
    * `fractions` drop.
    *
    * The draw is the [[corpusMix]]/[[trainValTestSplit]] hex-compare
    * contract (r12 — previously `xxhash64 mod 1e6`, which no DuckDB
    * oracle could replay): fractions quantize to PPM (round(v·10⁶) —
    * the documented resolution of a sampling RATE; callers wanting
    * finer than one-in-a-million control are sizing, not sampling),
    * then threshold = ppm·2⁶⁰/10⁶ in exact BigInt, zero-padded to 16
    * hex chars so the lexicographic compare IS the numeric compare —
    * rate 1.0 is the `'1' + 15×'0'` sentinel above every 60-bit draw.
    * Pure per-row column math: no join, no shuffle, no driver state
    * beyond the compiled when-chain.
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String, idCol: String,
      fractions: Map[String, Double], seed: Long): DataFrame = {
    require(fractions.values.forall(v => v >= 0.0 && v <= 1.0),
      s"fractions must be in [0, 1]: $fractions")
    val two60 = BigInt(1) << 60
    val th = fractions.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) =>
        val ppm = BigInt(math.round(v * 1e6))
        when(col(stratumCol) === k,
          lit(f"${(ppm * two60 / 1000000).toLong}%016x")).otherwise(acc)
    }
    docs.filter(concat(lit("0"),
      substring(md5(concat_ws(":", col(idCol), lit(seed))), 1, 15)) < th)
  }

  /** Target-proportion training-mix rebalance — the static data-mixing
    * stage of a pretraining pipeline (fix the domain/language mix at
    * e.g. 50% en / 20% de / … by DOWNSAMPLING overrepresented strata;
    * the DoReMi-style reweighting story with fixed weights).
    *
    * [[stratifiedSample]] applies CALLER-GIVEN fractions; this derives
    * them FROM the data: the largest total hitting the target mix
    * exactly without upsampling is `N = min_i floor(count_i·W/w_i)`
    * (the binding stratum keeps everything, rate 1.0), and stratum i
    * keeps `w_i·N/(W·count_i)` of its rows.
    *
    * Every arithmetic step is exact integer math (BigInt on the
    * driver, mirrored by HUGEINT in the oracle SQL), and the keep
    * decision is a string compare of the row's 60-bit md5 prefix
    * against a per-stratum hex threshold — md5, not xxhash64, so a
    * DuckDB oracle replays the SELECTION bit-for-bit (the first
    * sampling key where the oracle checks the sampled ROWS, not just
    * invariants). Both sides are zero-padded to 16 hex chars so the
    * lexicographic compare IS the numeric compare, including the
    * rate-1.0 sentinel threshold 2^60 = '1000000000000000'.
    *
    * Scale shape: one stratum-count aggregate collected to the driver
    * (bounded: one row per stratum — the langid-profile pattern), then
    * a pure per-row filter with the thresholds compiled into a literal
    * when-chain — no join, no extra shuffle, partitioning-invariant
    * (same seed → same rows on any cluster). Strata absent from
    * `weights` drop, mirroring [[stratifiedSample]].
    */
  def corpusMix(docs: DataFrame, stratumCol: String, idCol: String,
      weights: Map[String, Long], seed: Long): DataFrame = {
    require(weights.values.forall(_ > 0), "weights must be positive")
    val wsum = weights.values.sum
    // bounded-collect: per-stratum counts — |strata| post-agg rows.
    val counts = docs.groupBy(stratumCol).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = weights.filter { case (k, _) => counts.contains(k) }
    require(present.nonEmpty, "no stratum in `weights` present in the data")
    val n = present.map { case (k, w) => BigInt(counts(k)) * wsum / w }.min
    val two60 = BigInt(1) << 60
    val thresholds = present.map { case (k, w) =>
      // ≤ 2^60 by construction (rate ≤ 1) — fits a Long for %016x.
      k -> f"${((BigInt(w) * n * two60) / (BigInt(wsum) * counts(k))).toLong}%016x"
    }
    val th = thresholds.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    docs.filter(concat(lit("0"),
      substring(md5(concat_ws(":", col(idCol), lit(seed))), 1, 15)) < th)
  }

  /** Epoch-weighted corpus upsampling WITH repetition — the "2.5 epochs
    * of Wikipedia, 0.5 epochs of CommonCrawl" semantics of real
    * pretraining data recipes. [[corpusMix]] can only THIN strata
    * toward a target mix; hitting a recipe that wants some stratum
    * seen MORE than once per pass needs repetition, and repetition
    * must be deterministic or two pipeline runs train on different
    * token streams.
    *
    * Epochs are given in integer HUNDREDTHS (250 = 2.5 epochs) so all
    * derivation is exact integer math: a doc in a stratum with E
    * hundredths emits `E div 100` full copies plus one extra copy iff
    * its 60-bit md5 prefix clears the `E mod 100` fractional
    * threshold — the [[corpusMix]] hex-compare, so a DuckDB oracle
    * replays the exact emitted ROWS, repetition included. Copies are
    * numbered 1..n so downstream packing can interleave epochs
    * deterministically.
    *
    * Scale shape: zero aggregation, zero joins — a literal when-chain
    * per row then one `explode(sequence(...))` whose output is
    * row-count × mean-epochs (the training set you asked for, not a
    * blowup). Partitioning-invariant: the copy count is a pure
    * function of (id, stratum, seed). Strata absent from `epochs`
    * drop, mirroring [[corpusMix]]/[[stratifiedSample]].
    */
  def corpusUpsample(docs: DataFrame, stratumCol: String, idCol: String,
      epochsHundredths: Map[String, Long], seed: Long): DataFrame = {
    require(epochsHundredths.values.forall(_ >= 0), "epochs must be >= 0")
    val two60 = BigInt(1) << 60
    // Per-stratum full-copy count and fractional-gate threshold (16-hex
    // zero-padded so lexicographic = numeric, the corpusMix contract).
    val full = epochsHundredths.foldLeft(lit(null).cast("long")) {
      case (acc, (k, e)) =>
        when(col(stratumCol) === k, lit(e / 100)).otherwise(acc)
    }
    val gate = epochsHundredths.foldLeft(lit(null).cast("string")) {
      case (acc, (k, e)) =>
        when(col(stratumCol) === k,
          lit(f"${(BigInt(e % 100) * two60 / 100).toLong}%016x")).otherwise(acc)
    }
    val nCopies = (full + when(concat(lit("0"),
      substring(md5(concat_ws(":", col(idCol), lit(seed))), 1, 15)) < gate,
      1L).otherwise(0L)).as("n_copies")
    docs.select(col(idCol), col(stratumCol), nCopies)
      // sequence(1, 0) in Spark infers step -1 and yields [1, 0] — a
      // zero-copy row must be filtered out BEFORE the explode, not
      // relied on to produce an empty array.
      .filter(col("n_copies") >= 1)
      .select(col(idCol), col(stratumCol),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
  }

  /** Deterministic train/val/test split — the reproducible-slice
    * assignment every training pipeline needs before anything else
    * touches the data. One md5 rank per row, compared against exact
    * integer ppm-of-2^60 cut points: same (id, seed) → same split on
    * any partitioning, any cluster, any engine. Pure per-row column
    * math: no shuffle, no join, no state.
    */
  def trainValTestSplit(docs: DataFrame, idCol: String,
      pctTrain: Int, pctVal: Int, seed: Long): DataFrame = {
    require(pctTrain > 0 && pctVal >= 0 && pctTrain + pctVal < 100,
      "need 0 < train, 0 <= val, train + val < 100 (test takes the rest)")
    val two60 = BigInt(1) << 60
    def hex(pct: Int) = f"${(BigInt(pct) * two60 / 100).toLong}%016x"
    val r = concat(lit("0"),
      substring(md5(concat_ws(":", col(idCol), lit(seed))), 1, 15))
    docs.withColumn("split",
      when(r < lit(hex(pctTrain)), "train")
        .when(r < lit(hex(pctTrain + pctVal)), "val")
        .otherwise("test"))
  }

  /** Greedy sequence packing: group documents into fixed-token-budget
    * training sequences. Distributed form: shard by doc-id hash, pack
    * greedily within each shard by cumulative token count (one window
    * per shard — no global sort, no driver state). A document whose
    * start offset falls in bin k joins sequence k, so a bin can
    * overrun `maxTokens` by at most one document's tokens — the
    * standard pack-then-truncate tradeoff; exact capacity packing is
    * inherently sequential and doesn't distribute.
    *
    * The shard hash is the 48-bit md5 prefix mod `nShards` (r12 —
    * previously xxhash64, which no DuckDB oracle can replay; the
    * [[ppsSample]] u48 parse): shard assignment is the ONLY hash in
    * the operator, so portability here makes the whole packing
    * replayable row-for-row. Any uniform hash works equally well for
    * load balance; md5's extra ns/doc is noise next to the window
    * shuffle.
    *
    * Output: one row per packed sequence — (seq_id, doc_ids sorted,
    * n_docs, n_tokens).
    */
  def packSequences(docs: DataFrame, maxTokens: Int,
      nShards: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("shard", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10)" +
          s" AS BIGINT) % $nShards"))
      .withColumn("start", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", (col("start") / maxTokens).cast("long"))
      .groupBy("shard", "bin")
      .agg(sort_array(collect_list(col("doc_id"))).as("doc_ids"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"))
      .select((col("shard") * 1000000L + col("bin")).as("seq_id"),
        col("doc_ids"), col("n_docs"), col("n_tokens"))
      .orderBy("seq_id")
  }

  /** PII scrubbing: replace emails, phone numbers, IPv4 addresses, and
    * URLs with typed placeholder tokens — the redaction stage a
    * pretraining corpus passes before packing. Chained
    * `regexp_replace` column expressions: codegen'd, streaming-safe,
    * no UDF. Order matters: URLs first (an email-looking userinfo
    * inside a URL should redact as part of the URL), then emails, then
    * phones/IPs.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "https?://[^\\s]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "(?<!\\d)(?:\\+?\\d{1,2}[ .-]?)?(?:\\(\\d{3}\\)|\\d{3})[ .-]?\\d{3}[ .-]?\\d{4}(?!\\d)" -> "<PHONE>")

  def scrubPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    piiPatterns.foldLeft(text) { case (c, (pat, tok)) =>
      regexp_replace(c, pat, tok)
    }

  /** RE2-safe subset of [[piiPatterns]], the patterns a cross-engine
    * oracle can replay verbatim — selected by CONTENT (no lookaround
    * constructs, which RE2/DuckDB rejects), not by position, so
    * inserting or reordering a pattern in [[piiPatterns]] cannot
    * silently desync the Spark key from the generated DuckDB oracle.
    * Today that excludes exactly the phone pattern (`(?<!\d)`/`(?!\d)`
    * digit-boundary lookarounds — spec-covered via `scrub` instead).
    * Patterns are spliced into single-quoted SQL literals by the
    * oracle generator, so quotes are rejected up front rather than
    * corrupting the generated SQL at a distance.
    */
  private def re2Safe(pat: String): Boolean =
    !Seq("(?=", "(?!", "(?<=", "(?<!").exists(pat.contains)

  val piiPatternsPortable: Seq[(String, String)] = {
    val safe = piiPatterns.filter { case (pat, _) => re2Safe(pat) }
    require(safe.forall { case (pat, tok) =>
      !pat.contains("'") && !tok.contains("'") },
      "PII patterns/tokens must not contain single quotes: they are " +
        "interpolated into single-quoted oracle SQL literals")
    safe
  }

  def scrubPiiPortable(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    piiPatternsPortable.foldLeft(text) { case (c, (pat, tok)) =>
      regexp_replace(c, pat, tok)
    }

  /** Corpus-wide scrub: replaces `textCol` in place, adds a flag. */
  def scrub(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("__scrubbed", scrubPii(col(textCol)))
      .withColumn("pii_found", col("__scrubbed") =!= col(textCol))
      .withColumn(textCol, col("__scrubbed"))
      .drop("__scrubbed")

  /** Driver-facing keys for the composed pipeline and its sampling/
    * packing stages. Registering them makes the pipeline visible to
    * the driver's rows/bench gates instead of being API-only.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The composed curation pipeline end-to-end — quality gate → exact
    // dedup → minhash near-dup component drop → accounting — as a
    // driver-facing key, not just an API: the composition is the
    // product story and should be rows/bench-gated like its parts.
    // Oracled since r12 (possible once minhashPairs moved to the
    // portable md5 battery): the DuckDB replay composes the
    // text_quality score, the exact-dedup window, the
    // dedup_minhash banding+Jaccard CTEs over the exact-dedup slice,
    // and dedup_cluster's recursive-CTE components. PipelineSpec
    // still covers the stage semantics; DeterminismSpec/PlanSpec
    // sweep stability and join shape.
    "corpus_curate" -> ((s, d) =>
      curate(graft.T.documents(s, d), minQuality = 1.0,
          nearDupJaccard = 0.35)
        .select(col("doc_id"), col("lang"), col("quality"),
          col("n_tokens"))
        .orderBy("doc_id")),

    // Budgeted selection (r15): keep the best-quality documents whose
    // cumulative token count fits a budget (25% of the corpus here) —
    // the "fill the training mix from the top of the quality ranking"
    // op every data-constrained run performs after scoring. The greedy
    // prefix of the (quality desc, doc_id) order; the budget is
    // integer math against the corpus total (4·cum ≤ total), so both
    // engines agree exactly.
    "corpus_select_budget" -> ((s, d) =>
      selectBudget(graft.T.documents(s, d), num = 1, den = 4)
        .orderBy("doc_id")),

    // Training-mix downsample: en halved, zh kept, the rest thinned —
    // arbitrary but fixed weights; same seed → same sample on any
    // partitioning (DeterminismSpec sweeps this key like every other).
    // Oracled since r12: the md5 hex-threshold draw replays
    // bit-for-bit (previously xxhash64 — no DuckDB equivalent).
    "sample_stratified" -> ((s, d) =>
      stratifiedSample(graft.T.documents(s, d), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.8, "es" -> 0.8, "fr" -> 0.8,
              "zh" -> 1.0), seed = 42L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")),

    // Fixed-budget sequence packing; doc_ids joined to a string (the
    // ARRAY-free house rule for driver-facing finals, like
    // agg_collect). Oracled since r12: the md5-prefix shard hash
    // replays bit-for-bit (previously xxhash64).
    "pack_sequences" -> ((s, d) =>
      packSequences(graft.T.documents(s, d), maxTokens = 512, nShards = 8)
        .select(col("seq_id"), array_join(col("doc_ids"), ",").as("doc_ids"),
          col("n_docs"), col("n_tokens"))
        .orderBy("seq_id")),
    // Exact-k uniform sample (r8): order by a content hash, take k —
    // "give me exactly 100 random-but-reproducible docs" (eval slices,
    // spot-check samples, few-shot pools). sample_stratified's
    // hash-Bernoulli keeps a FRACTION (k only in expectation); this
    // keeps an exact count. md5 (not xxhash64) so DuckDB replays the
    // ranking bit-for-bit. Plan shape is the whole trick:
    // orderBy(hash).limit(k) compiles to TakeOrderedAndProject — each
    // partition forwards only its local top-k, one constant-size
    // reduce, NO global sort shuffle (asserted in PlanSpec). Same
    // hash → same k docs on any partitioning or cluster size.
    "sample_uniform_k" -> ((s, d) =>
      graft.T.documents(s, d)
        .withColumn("sample_key",
          md5(concat_ws(":", col("doc_id"), lit(42))))
        .orderBy("sample_key").limit(100)
        .select(col("doc_id"), col("lang"), col("sample_key"))
        .orderBy("doc_id")),

    // Exact-k PER STRATUM (r9): the balanced-eval-set sampler — k docs
    // from EVERY language regardless of stratum skew (Bernoulli
    // sampling per stratum can't pin counts; a global top-k
    // [sample_uniform_k] follows the corpus mix). Deterministic: rank
    // = md5(id:seed) within the stratum, the corpus_mix/sample_split
    // hash contract, so the same (id, seed) picks the same rows on any
    // partitioning or engine. Shape: one stratum window over hash-
    // ranked rows — at 100 TB strata are the natural partitions, and
    // rank ≤ k prunes everything else at the window (never a global
    // sort); for extreme per-stratum volumes swap in a per-partition
    // top-k pre-prune (TakeOrdered economics), same contract.
    "sample_stratified_k" -> ((s, d) =>
      graft.T.documents(s, d)
        .withColumn("sample_key",
          md5(concat_ws(":", col("doc_id"), lit(42))))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("lang").orderBy("sample_key")))
        .filter(col("rk") <= 20)
        .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
        .orderBy("lang", "rk")),

    // Class-balanced downsample (r14): every language keeps exactly
    // min-stratum-count docs — the "balance the classes before
    // training" primitive (a classifier fit on 80/5/5/5/5 lang mass
    // learns the prior, not the task). Same md5(doc_id:42) selection
    // contract as sample_stratified_k, so the draw is deterministic
    // and partitioning-invariant; the binding count comes from a
    // 5-row per-lang count frame (min over a window on that frame —
    // single-partition is free at |langs| rows) broadcast-joined back
    // on lang, so there is no crossJoin and no new scan. Scale shape:
    // one lang-window shuffle + one node-sized broadcast join.
    "sample_balanced" -> ((s, d) =>
      balancedSample(graft.T.documents(s, d))
        .orderBy("lang", "rk")),

    // Target-mix rebalance (r8): derive per-language keep rates that
    // hit a 50/20/15/10/5 en/de/fr/es/zh mix exactly (in expectation)
    // without upsampling — de is the binding stratum on the fixture
    // (rate 1.0, keeps all rows). Fully oracled: integer thresholds +
    // md5 selection replay bit-for-bit in DuckDB, unlike the xxhash64
    // sampling keys.
    "corpus_mix" -> ((s, d) =>
      corpusMix(graft.T.documents(s, d), "lang", "doc_id",
          Map("en" -> 50L, "de" -> 20L, "fr" -> 15L, "es" -> 10L,
              "zh" -> 5L), seed = 42L)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // Epoch-weighted upsampling (r9): de seen 2.5×, fr 2×, en 1.5×,
    // es 1.2×, zh halved — repetition AND thinning in one recipe.
    // Fully oracled row-for-row, copies included.
    "corpus_upsample" -> ((s, d) =>
      corpusUpsample(graft.T.documents(s, d), "lang", "doc_id",
          Map("en" -> 150L, "de" -> 250L, "fr" -> 200L, "es" -> 120L,
              "zh" -> 50L), seed = 42L)
        .orderBy("doc_id", "copy")),

    // Deterministic 80/10/10 train/val/test split (r9). Fully oracled:
    // the assignment replays bit-for-bit.
    "sample_split" -> ((s, d) =>
      trainValTestSplit(graft.T.documents(s, d), "doc_id",
          pctTrain = 80, pctVal = 10, seed = 42L)
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id")),

    // Benchmark decontamination: the doc_id%17 slice plays the eval
    // benchmark, the rest is the training corpus; ≥5 shared distinct
    // 3-gram shingles flags a doc (99/470 docs at sf0.01 — a real
    // split, not a degenerate one). Fully oracled: shingling is plain
    // string math, no hashing.
    "corpus_decontaminate" -> ((s, d) => {
      val docs = graft.T.documents(s, d)
      decontaminate(docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0), minSharedShingles = 5)
        .orderBy("doc_id")
    }),

    // Benchmark-side contamination audit (r14): the dual view of
    // corpus_decontaminate — for every BENCHMARK item, how many
    // training docs overlap it (≥ k shared 3-shingles) and how hard
    // the worst one does. Decontaminate answers "what do I drop from
    // training"; this answers the eval owner's question, "which of my
    // benchmark items are already compromised and by how much".
    // Same distinct-shingle posting join (inverted index, never
    // doc×doc); the (bench, train) pair aggregate is bounded by
    // genuinely-shared shingle mass, the df-cap lever at web scale.
    "corpus_contamination" -> ((s, d) => {
      val docs = graft.T.documents(s, d)
      contaminationReport(docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0), minSharedShingles = 5)
        .orderBy("bench_id")
    }),

    // Per-source corpus dashboard (r9): the report a data curator
    // reads before touching mix weights — volume (docs/tokens), size
    // distribution (exact median — order statistics, engine-portable),
    // language spread, dominant-language share. One two-phase hash
    // aggregate over a narrow projection; every stat is shuffle-
    // bounded by |sources| output rows. The dominant language uses
    // agg_mode's two-level tie-break (max count, then min lang) via
    // max_by on the (count, reversed-lang) pair — deterministic.
    "corpus_report" -> ((s, d) => {
      val docs = graft.T.documents(s, d)
        .select(col("source"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("toks"))
      val langCounts = docs.groupBy("source", "lang")
        .agg(count(lit(1)).as("lc"))
      // agg_mode's ranked-argmax: rank langs per source by (count
      // desc, lang asc) — the window runs over ≤ |langs| counted rows
      // per source, never docs.
      val dominant = langCounts
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(col("lc").desc, col("lang").asc)))
        .groupBy("source")
        .agg(max(when(col("rk") === 1, col("lang"))).as("top_lang"),
          count(lit(1)).as("n_langs"))
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("toks").as("total_tokens"),
          expr("percentile(n_chars, 0.5D)").as("med_chars"),
          round(sum(when(col("lang") === "en", 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("en_share"))
        .join(dominant, Seq("source"))
        .select("source", "n_docs", "total_tokens", "med_chars",
          "n_langs", "top_lang", "en_share")
        .orderBy("source")
    }),

    // PPS sampling (r10): keep probability ∝ document weight (here
    // n_chars — token-budget-proportional selection, the "sample by
    // contribution, not by count" rule a mix designer reaches for
    // when long documents should dominate the sample the way they
    // dominate the token budget). num/den = 1/10 → max keep
    // probability 10% at the heaviest doc.
    "sample_pps" -> ((s, d) =>
      ppsSample(graft.T.documents(s, d), "doc_id", "n_chars",
          num = 1, den = 10, seed = 42)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("p_keep"))
        .orderBy("doc_id"))
  )

  /** Probability-proportional-to-size (PPS) Bernoulli sampling: keep
    * each row with probability `(num/den) · weight / max(weight)` —
    * heavier rows proportionally likelier, the heaviest at exactly
    * num/den. The keep decision is EXACT INTEGER arithmetic on the
    * row's 48-bit md5 prefix: keep iff
    * `u48 · maxW · den < weight · num · 2^48`, cross-multiplied so no
    * division or transcendental ever runs — the same draw on any
    * partitioning, any engine (DuckDB replays it in HUGEINT; here the
    * products ride DECIMAL(36,0) — provably inside Spark's 38-cap, so
    * overflow-to-NULL row drops are impossible; weights beyond the
    * documented 1e12 bound raise_error instead). `p_keep` is emitted
    * for
    * observability (one exactly-rounded double division). The max
    * weight is a ONE-ROW broadcast (the corpus-totals crossJoin
    * pattern, PlanSpec-allowlisted) — at 100 TB this is a metadata
    * aggregate, and the filter itself is a narrow scan with zero
    * data-sized shuffles. ≡-to-local-BigInt-fold spec'd in
    * PropertySpec. */
  /** Class-balanced exact downsample over `docs("doc_id", "lang", …)`:
    * every language keeps exactly min-stratum-count docs, selected by
    * the deterministic md5(doc_id:42) ranking (doc_id tiebreak).
    * Returns (doc_id, lang, rk, minc). The binding count is a min
    * over the |langs|-row count frame (single-partition window is
    * free at that size) broadcast-joined back on lang — an equi-join,
    * no crossJoin; one lang-window shuffle total. Balance invariant
    * (every stratum's kept count equals the global min) is
    * property-pinned in PropertySpec.
    */
  def balancedSample(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val minc = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      .withColumn("minc", min(col("cnt")).over(w.partitionBy()))
      .select(col("lang"), col("minc"))
    docs
      .withColumn("sample_key",
        md5(concat_ws(":", col("doc_id"), lit(42))))
      .withColumn("rk", row_number().over(
        w.partitionBy("lang").orderBy("sample_key", "doc_id")))
      .join(broadcast(minc), Seq("lang"))
      .filter(col("rk") <= col("minc"))
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"),
        col("minc"))
  }

  /** Greedy quality-ranked selection under a token budget of
    * `num/den` of the corpus total: rank docs by (round-4 quality
    * desc, doc_id), keep the longest prefix whose cumulative token
    * count satisfies den·cum ≤ num·total (all-integer — no float
    * budget boundary). Returns (doc_id, quality, n_tok, cum_tokens).
    *
    * Scale shape — the global running total WITHOUT a global window:
    * a single unpartitioned window is one task holding the corpus, so
    * the prefix sum runs TWO-LEVEL instead (the classic distributed
    * scan): coarse quality buckets (floor(q·8) — a monotone function
    * of the sort key, so bucket-desc order refines to the global
    * order) aggregate to a |buckets|-row frame whose exclusive
    * running sum IS computed on one task (constant-sized — the only
    * unpartitioned window in the plan, PlanSpec-pinned shape), then
    * each doc adds its within-bucket running sum partitioned BY
    * bucket. pre(bucket) + within ≡ the global prefix sum exactly —
    * the oracle computes the ONE-WINDOW form, so the decomposition is
    * cross-checked, not replayed. Ordering by a round-4-fenced
    * transcendental is sound here because text_quality's oracle
    * already proves the rounded values bit-match cross-engine
    * (the corpus_curate gate precedent). The corpus total rides the
    * broadcast ONE-ROW crossJoin (corpus-totals pattern,
    * PlanSpec-allowlisted).
    */
  def selectBudget(docs: DataFrame, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"budget fraction must be in (0, 1]: $num/$den")
    val scored = graft.T.spread(docs).select(col("doc_id"),
      round(LlmText.qualityScore(col("text")), 4).as("quality"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
      .ckptLocal // feeds total, bucket totals, and the final
    val tot = scored.agg(sum(col("n_tok")).as("total"))
    val bucketed = scored
      .withColumn("bkt", floor(col("quality") * 8).cast("long"))
    val wpre = Window.orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = bucketed.groupBy("bkt").agg(sum(col("n_tok")).as("bt"))
      .withColumn("pre", coalesce(sum(col("bt")).over(wpre), lit(0L)))
      .select("bkt", "pre")
    val win = Window.partitionBy("bkt")
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(pre, Seq("bkt"))
      .withColumn("cum_tokens", col("pre") + sum(col("n_tok")).over(win))
      .crossJoin(broadcast(tot))
      .filter(col("cum_tokens") * den <= col("total") * num)
      .select(col("doc_id"), col("quality"), col("n_tok"), col("cum_tokens"))
  }

  def ppsSample(df: DataFrame, idCol: String, weightCol: String,
      num: Int, den: Int, seed: Int): DataFrame = {
    // den = 0 would make the filter vacuously true (u48·maxW·0 < w·…)
    // and p_keep Infinity — a silent keep-everything; fail loudly.
    require(num > 0 && den > 0, s"num/den must be positive, got $num/$den")
    // Precision budget (r11, closing the r10 advice): Spark caps
    // DECIMAL products at precision 38 and non-ANSI overflow yields
    // NULL — a NULL comparison silently DROPS the row instead of
    // failing. The old (20,0)·(18,0)·int shape hit 39+ and relied on
    // real weights being small. Now every factor is bounded so both
    // products PROVABLY fit: u48 < 2⁴⁸ is DECIMAL(15,0) by
    // construction; num/den ≤ 1e6 (compile-side require) ride
    // DECIMAL(7,0); weights are runtime-guarded into DECIMAL(12,0)
    // with a raise_error — out-of-bounds weights ERROR loudly rather
    // than vanish. 15+12+1+7+1 = 36 ≤ 38 on the left,
    // 12+7+1+15+1 = 36 on the right.
    require(num <= 1000000 && den <= 1000000,
      s"num/den must be ≤ 1e6 (DECIMAL(7,0) budget), got $num/$den")
    // STATIC raise message (r18 — T.scaledLong's lesson): the error
    // branch never executes on in-contract data, but a concat +
    // value-cast expression tree compiles into every call site's
    // generated code. The message names the recovery query for the
    // offending value (r18 advice: the static form dropped the value
    // the old concat carried).
    def bounded(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(c.isNull || c < 0 || c > 999999999999L,
        raise_error(lit(s"ppsSample: $weightCol outside [0, 1e12) — " +
          s"recover the rows with: WHERE $weightCol IS NULL OR " +
          s"$weightCol < 0 OR $weightCol > 999999999999")))
        .otherwise(c.cast("decimal(12,0)"))
    val maxW = df.agg(max(col(weightCol)).as("max_w"))
    val two48 = lit(281474976710656L).cast("decimal(15,0)")
    val u48 = expr(
      s"CAST(conv(substring(md5(concat_ws(':', $idCol, $seed)), 1, 12)" +
        ", 16, 10) AS DECIMAL(15,0))")
    df.crossJoin(broadcast(maxW))
      .withColumn("u48", u48)
      .filter(col("u48") * bounded(col("max_w")) *
          lit(den).cast("decimal(7,0)") <
        bounded(col(weightCol)) * lit(num).cast("decimal(7,0)") * two48)
      .withColumn("p_keep", round(
        col(weightCol).cast("double") * num /
          (col("max_w").cast("double") * den), 6))
      .drop("u48", "max_w")
  }

  val oracle: Map[String, String] = Map(
    // INDEPENDENT formulation: ONE global running-sum window over the
    // (quality desc, doc_id) order — the operator computes the same
    // prefix sum two-level (bucket pre-sums + within-bucket windows),
    // so a decomposition bug (wrong bucket boundary, off-by-one frame)
    // cannot agree with this. Window sums of BIGINT go HUGEINT in
    // DuckDB — cast before output. The quality expression is
    // text_quality's round-4-fenced text, already hash-proven.
    "corpus_select_budget" ->
      """WITH q0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    round(ln(len(toks) + 1)
        |      * (1 - len(list_filter(toks, s -> s IN
        |          ('the', 'a', 'of', 'and', 'to', 'in')))::DOUBLE / len(toks))
        |      * (len(list_distinct(toks))::DOUBLE / len(toks)), 4) AS quality,
        |    len(toks) AS n_tok
        |  FROM q0),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM t),
        |c AS (
        |  SELECT doc_id, quality, CAST(n_tok AS BIGINT) AS n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY quality DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, quality, n_tok, cum_tokens
        |FROM c, tot WHERE cum_tokens * 4 <= total * 1
        |ORDER BY doc_id""".stripMargin,

    // The full curation pipeline, stage by stage (r12): quality =
    // text_quality's rounded expression (the ln is fenced by round —
    // the same rounded values the text_quality oracle already
    // hash-matches); exact dedup = dedup_exact's ranked window over
    // the gated slice; near-dup pairs = dedup_minhash's portable
    // banding + Jaccard CTEs rebuilt over the exact-dedup survivors
    // (`ex` — LlmDedup.duckNgramCtes is relation-parameterized for
    // exactly this); components = dedup_cluster's recursive min-label
    // closure with `ex` as the singleton base; keep = component
    // representative (cluster = own id).
    "corpus_curate" ->
      s"""WITH RECURSIVE q0 AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, text,
        |    round(ln(len(toks) + 1)
        |      * (1 - len(list_filter(toks, s -> s IN
        |          ('the', 'a', 'of', 'and', 'to', 'in')))::DOUBLE / len(toks))
        |      * (len(list_distinct(toks))::DOUBLE / len(toks)), 4) AS quality
        |  FROM q0),
        |ex AS (
        |  SELECT doc_id, lang, text, quality FROM (
        |    SELECT *, row_number() OVER (
        |        PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
        |    FROM q WHERE quality >= 1.0)
        |  WHERE rn = 1),
        |${LlmDedup.duckNgramCtes("ex")},
        |${LlmDedup.duckMinhashCandCtes},
        |pairs AS (
        |  SELECT j.d1, j.d2 FROM jac j
        |  JOIN cand c ON j.d1 = c.d1 AND j.d2 = c.d2
        |  WHERE j.j >= 0.35),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM ex
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |comp AS (SELECT src AS doc_id, min(dst) AS cluster
        |         FROM reach GROUP BY src)
        |SELECT e.doc_id AS doc_id, e.lang AS lang, e.quality AS quality,
        |       len(string_split(e.text, ' ')) AS n_tokens
        |FROM ex e JOIN comp c ON e.doc_id = c.doc_id
        |WHERE c.cluster = e.doc_id
        |ORDER BY e.doc_id""".stripMargin,
    // Identical ranked-argmax for the dominant lang; sums cast off
    // HUGEINT; quantile_cont = Spark's exact percentile (agg_outlier
    // precedent).
    "corpus_report" ->
      """WITH docs AS (
        |  SELECT source, lang, n_chars,
        |         len(string_split(text, ' ')) AS toks
        |  FROM documents),
        |lc AS (SELECT source, lang, count(*) AS lc
        |       FROM docs GROUP BY 1, 2),
        |dom AS (
        |  SELECT source,
        |         max(CASE WHEN rk = 1 THEN lang END) AS top_lang,
        |         count(*) AS n_langs
        |  FROM (SELECT *, row_number() OVER (PARTITION BY source
        |          ORDER BY lc DESC, lang ASC) AS rk FROM lc)
        |  GROUP BY source),
        |base AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(toks) AS BIGINT) AS total_tokens,
        |         quantile_cont(n_chars, 0.5) AS med_chars,
        |         round(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |                    AS DOUBLE) / count(*), 6) AS en_share
        |  FROM docs GROUP BY source)
        |SELECT b.source AS source, n_docs, total_tokens, med_chars,
        |       n_langs, top_lang, en_share
        |FROM base b JOIN dom USING (source)
        |ORDER BY b.source""".stripMargin,

    // Same ppm→threshold integer derivation in HUGEINT (exact,
    // mirrors the driver-side BigInt), same 16-char zero-padded hex
    // compare; the VALUES carry the ppm quantization of the key's
    // fractions (0.5/0.8/1.0 → 500000/800000/1000000).
    "sample_stratified" ->
      """WITH fr AS (SELECT * FROM (VALUES ('en', 500000), ('de', 800000),
        |                ('es', 800000), ('fr', 800000), ('zh', 1000000))
        |              AS t(lang, ppm)),
        |th AS (SELECT lang,
        |  printf('%016x', CAST(CAST(ppm AS HUGEINT)
        |    * 1152921504606846976 // 1000000 AS BIGINT)) AS thresh
        |  FROM fr)
        |SELECT doc_id, lang, n_chars FROM documents d JOIN th USING (lang)
        |WHERE '0' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15)
        |      < thresh
        |ORDER BY doc_id""".stripMargin,

    // Same integer threshold derivation in HUGEINT (exact, mirrors the
    // driver-side BigInt), same 16-char zero-padded hex compare.
    "corpus_mix" ->
      """WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |wt AS (SELECT * FROM (VALUES ('en', 50), ('de', 20), ('fr', 15),
        |                             ('es', 10), ('zh', 5)) AS t(lang, w)),
        |j AS (SELECT wt.lang, w, c FROM wt JOIN cnt USING (lang)),
        |n AS (SELECT min(c * 100 // w) AS n FROM j),
        |th AS (SELECT lang,
        |  printf('%016x', CAST(CAST(w AS HUGEINT) * (SELECT n FROM n)
        |    * 1152921504606846976 // (100 * c) AS BIGINT)) AS thresh
        |  FROM j)
        |SELECT doc_id, lang FROM documents d JOIN th USING (lang)
        |WHERE '0' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15)
        |      < thresh
        |ORDER BY doc_id""".stripMargin,
    // Same hundredths→(full, fractional-threshold) integer derivation;
    // generate_series(1, 0) is empty in DuckDB so zero-copy rows
    // vanish without the Spark-side explicit filter.
    "corpus_upsample" ->
      """WITH ep AS (SELECT * FROM (VALUES ('en', 150), ('de', 250),
        |                 ('fr', 200), ('es', 120), ('zh', 50)) AS t(lang, e)),
        |n AS (SELECT doc_id, d.lang, e // 100 +
        |  CASE WHEN '0' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15)
        |       < printf('%016x', CAST(CAST(e % 100 AS HUGEINT)
        |           * 1152921504606846976 // 100 AS BIGINT))
        |  THEN 1 ELSE 0 END AS n_copies
        |  FROM documents d JOIN ep USING (lang))
        |SELECT doc_id, lang,
        |       unnest(generate_series(1, n_copies)) AS copy
        |FROM n ORDER BY doc_id, copy""".stripMargin,
    "sample_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN '0' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15)
        |         < printf('%016x', CAST(CAST(80 AS HUGEINT)
        |             * 1152921504606846976 // 100 AS BIGINT)) THEN 'train'
        |       WHEN '0' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15)
        |         < printf('%016x', CAST(CAST(90 AS HUGEINT)
        |             * 1152921504606846976 // 100 AS BIGINT)) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same 48-bit md5 prefix parsed as an integer ('0x'-cast), same
    // cross-multiplied integer comparison in HUGEINT (exact), same
    // single-division p_keep; the max weight is a scalar subquery.
    "sample_pps" ->
      """WITH mw AS (SELECT max(n_chars) AS max_w FROM documents),
        |s AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'),
        |                             1, 12) AS BIGINT) AS HUGEINT) AS u48
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |       round(CAST(n_chars AS DOUBLE) * 1
        |             / (CAST(max_w AS DOUBLE) * 10), 6) AS p_keep
        |FROM s, mw
        |WHERE u48 * CAST(max_w AS HUGEINT) * 10
        |      < CAST(n_chars AS HUGEINT) * 1 * 281474976710656
        |ORDER BY doc_id""".stripMargin,
    // Same 48-bit md5-prefix shard, same per-shard doc_id-ordered
    // cumulative-token window (ROWS ≡ Spark's RANGE default — doc_id
    // is unique), same start//maxTokens binning (start ≥ 0, so
    // truncation = floor on both engines), ordered string_agg for the
    // sorted id list.
    "pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 8
        |      AS shard
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, n_tok, shard,
        |         sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) - n_tok AS start
        |  FROM d)
        |SELECT CAST(shard * 1000000 + (start // 512) AS BIGINT) AS seq_id,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |         AS doc_ids,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM w GROUP BY shard, start // 512 ORDER BY seq_id""".stripMargin,

    "sample_uniform_k" ->
      """SELECT doc_id, lang, sample_key FROM (
        |  SELECT doc_id, lang,
        |         md5(CAST(doc_id AS VARCHAR) || ':42') AS sample_key
        |  FROM documents ORDER BY sample_key LIMIT 100)
        |ORDER BY doc_id""".stripMargin,
    "sample_stratified_k" ->
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

    // Same md5 ranking with the doc_id tiebreak, same min-over-counts
    // binding stratum. count(*) margins are integers throughout.
    "sample_balanced" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |m AS (SELECT lang, min(cnt) OVER () AS minc FROM c),
        |r AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'),
        |                    doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.rk, CAST(m.minc AS BIGINT) AS minc
        |FROM r JOIN m ON r.lang = m.lang
        |WHERE r.rk <= m.minc
        |ORDER BY r.lang, r.rk""".stripMargin,
    "corpus_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |     for i in range(1, len(toks) - 1)])) AS sh
        |  FROM t),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 17 = 0),
        |ov AS (
        |  SELECT c.doc_id, count(*) AS n_shared
        |  FROM sh c JOIN bench b ON c.sh = b.sh
        |  WHERE c.doc_id % 17 <> 0 GROUP BY 1)
        |SELECT d.doc_id, coalesce(ov.n_shared, 0) AS n_shared,
        |       coalesce(ov.n_shared, 0) >= 5 AS contaminated
        |FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
        |WHERE d.doc_id % 17 <> 0
        |ORDER BY d.doc_id""".stripMargin,

    // The decontaminate shingle replay, aggregated the other way:
    // per (bench, train) pair first, then per benchmark doc.
    "corpus_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |     for i in range(1, len(toks) - 1)])) AS sh
        |  FROM t),
        |pairs AS (
        |  SELECT b.doc_id AS bench_id, c.doc_id AS train_id,
        |         count(*) AS n_shared
        |  FROM sh b JOIN sh c ON b.sh = c.sh
        |  WHERE b.doc_id % 17 = 0 AND c.doc_id % 17 <> 0
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |pb AS (
        |  SELECT bench_id, count(*) AS n_hits, max(n_shared) AS max_shared
        |  FROM pairs GROUP BY 1)
        |SELECT d.doc_id AS bench_id,
        |       CAST(coalesce(pb.n_hits, 0) AS BIGINT) AS n_hits,
        |       CAST(coalesce(pb.max_shared, 0) AS BIGINT) AS max_shared,
        |       coalesce(pb.n_hits, 0) > 0 AS compromised
        |FROM documents d LEFT JOIN pb ON d.doc_id = pb.bench_id
        |WHERE d.doc_id % 17 = 0
        |ORDER BY bench_id""".stripMargin
  )

  /** Per-stage retention report for a curation run (one row). */
  def report(docs: DataFrame, minQuality: Double,
      nearDupJaccard: Double): DataFrame = {
    val total = docs.count()
    val kept = curate(docs, minQuality, nearDupJaccard)
    kept.agg(
      lit(total).as("n_input"),
      count(lit(1)).as("n_kept"),
      sum(col("n_tokens")).as("tokens_kept"),
      round(count(lit(1)).cast("double") / total, 4).as("retention"))
  }
}
