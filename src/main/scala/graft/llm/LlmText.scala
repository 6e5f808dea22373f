package graft.llm

import graft.Ckpt.CkptOps
import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.12 Text analysis for training-data pipelines: tf-idf, corpus
  * stats, quality scoring, n-gram language ID, and content
  * fingerprinting. All pure relational/column pipelines — explode +
  * groupBy + window — so every one of them is a shuffle-bounded
  * map-reduce at 100 TB, no driver state, no UDFs.
  */
object LlmText {
  type Q = (SparkSession, String) => DataFrame

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Composite quality score over a text column (higher = better):
    * log-length × (1 − stopword ratio) × type-token ratio. Pure column
    * expression — reused by `text_quality` and the corpus curation
    * pipeline ([[CorpusPipeline]]).
    */
  def qualityScore(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = split(text, " ")
    val nTok = size(toks)
    val stopRatio = size(filter(toks, t => t.isin(stopwords: _*)))
      .cast("double") / nTok
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    log(nTok + 1) * (lit(1) - stopRatio) * ttr
  }

  /** Distinct (doc_id, lang, trigram) pairs — document-frequency
    * semantics, shared by profile training and scoring. explode_outer:
    * avoids InferFiltersFromGenerate duplicating the trigram transform
    * below the exchange (see LlmDedup note).
    */
  /** Per-doc DISTINCT character trigrams via the native one-pass
    * [[graft.functions.CharNgrams]] expression (r19): the old
    * column-math form ran an interpreted transform-lambda + substring
    * per POSITION of every document and then paid a corpus-sized
    * `.distinct()` exchange to reach the per-doc gram set both
    * consumers (profile trainer: document frequency; scorer: distinct
    * per-doc matches) actually aggregate over. First-occurrence
    * emission makes the rows per-(doc, g) distinct at the source —
    * gram SET identical, one whole exchange + aggregate pair deleted,
    * and the Generate's input expression is codegen-resident.
    */
  private def trigrams(docs: DataFrame): DataFrame = {
    T.spread(docs).select(col("doc_id"), col("lang"),
      explode_outer(call_function("graft_char_ngrams", col("text"), lit(3)))
        .as("g"))
  }

  /** Trained language model — top-50 trigrams per language with their
    * document frequencies, ~250 (plang, g, cnt) rows — built once per
    * dataset and kept on the driver (model-sized, not data-sized).
    * Deterministic (count + lexicographic tiebreak), so cached and
    * fresh profiles are identical and the full train+score oracle
    * replay still matches.
    */
  private val langProfileCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(String, String, Long)]]()
  private def langProfile(s: SparkSession, d: String): Seq[(String, String, Long)] =
    langProfileCache.computeIfAbsent(d, _ => {
      val docs = T.documents(s, d).filter(length(col("text")) >= 3)
      val wp = Window.partitionBy("lang").orderBy(desc("cnt"), asc("g"))
      trigrams(docs).groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 50)
        .select(col("lang"), col("g"), col("cnt"))
        // bounded-collect: lang-ID model — ≤50 trigrams per language.
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq
    })

  val queries: Map[String, Q] = Map(
    // tf-idf with top-5 terms per doc (deterministic tiebreak on term).
    "text_tfidf" -> ((s, d) => {
      val docs = T.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(desc("tfidf"), asc("term"))
      tf.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("tfidf", round(col("tf") *
          log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", "term")
    }),

    // Collocations (r15): corpus-wide PMI-scored adjacent bigrams —
    // pointwise mutual information ln(p(xy)/(p(x)p(y))) over exact
    // integer counts, the classic "which word pairs are a UNIT"
    // readout (multi-word expressions, named entities, boilerplate
    // phrases) a corpus analysis runs before tokenizer/vocab
    // decisions. Every count is one combinable groupBy (bigram volume
    // = corpus tokens, never vocab²); the two corpus totals ride ONE
    // broadcast one-row frame (allowlisted corpus-totals shape);
    // gating and ordering are INTEGER (pair count + lexicographic) —
    // the ln appears only in the round-6-fenced output, never in a
    // rank or filter (§7.5). Unigram probabilities use token mass Nt,
    // bigram probability uses bigram mass Nb, both exact.
    "text_collocations" -> ((s, d) => {
      // Eager: totals, unigrams and bigrams run as concurrent stages
      // over this frame (see Ckpt.eager).
      val docs = graft.Ckpt.eager(T.spread(T.documents(s, d))
        .select(split(col("text"), " ").as("ts")))
      val tot = docs.agg(
        sum(size(col("ts"))).cast("long").as("nt"),
        sum(greatest(size(col("ts")) - 1, lit(0))).cast("long").as("nb"))
      val uc = docs.select(explode(col("ts")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      // Native adjacent-pair expansion (r19): the transform-lambda
      // probed the token array twice per pair through interpreted
      // dispatch; graft_adjacent_pairs emits the same pairs from one
      // codegen'd loop.
      val bc = docs.filter(size(col("ts")) >= 2)
        .select(explode(call_function("graft_adjacent_pairs", col("ts")))
          .as("b"))
        .groupBy(col("b.a").as("w1"), col("b.b").as("w2"))
        .agg(count(lit(1)).as("pair_count"))
        .filter(col("pair_count") >= 3)
      bc.join(uc.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
        .join(uc.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("pair_count"),
          round(log(
            (col("pair_count").cast("double") * col("nt").cast("double") *
              col("nt").cast("double")) /
            (col("nb").cast("double") * col("c1").cast("double") *
              col("c2").cast("double"))), 6).as("pmi"))
        .orderBy("w1", "w2")
    }),

    // Corpus stats per language.
    "text_stats" -> ((s, d) =>
      T.documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          round(avg(col("n_tok")), 2).as("avg_toks"),
          max(col("n_tok")).as("max_toks"))
        .orderBy("lang")),

    // Per-document quality scoring: token counts, mean token length,
    // stopword ratio, type-token ratio, composite score.
    "text_quality" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks)
      val totalChars = length(regexp_replace(col("text"), " ", ""))
      val nStop = size(filter(toks, t => t.isin(stopwords: _*)))
      val ttr = size(array_distinct(toks)).cast("double") / nTok
      val stopRatio = nStop.cast("double") / nTok
      T.documents(s, d)
        .select(col("doc_id"),
          nTok.cast("long").as("n_tok"),
          round(totalChars.cast("double") / nTok, 4).as("mean_tok_len"),
          round(stopRatio, 4).as("stop_ratio"),
          round(ttr, 4).as("ttr"),
          round(qualityScore(col("text")), 4).as("quality"))
        .orderBy("doc_id")
    }),

    // Language ID via character-trigram profiles LEARNED FROM THE
    // CORPUS (top-50 trigrams per language by document frequency), then
    // presence-scored per doc. Train + score are both relational; the
    // PROFILE is the trained model — a data artifact like the IVF
    // quantizer ([[LlmVector]]), built once per dataset ([[langProfile]])
    // and broadcast into every scoring run. Scoring still explodes and
    // distincts the full corpus per query (the real per-query work);
    // with the profile cached that frame has ONE consumer, so the
    // localCheckpoint the two-consumer r5 shape needed is gone too.
    "text_langid" -> ((s, d) => {
      val s2 = s
      import s2.implicits._
      val docs = T.documents(s, d).filter(length(col("text")) >= 3)
      val profile = langProfile(s, d).toDF("plang", "g", "cnt")
      val wd = Window.partitionBy("doc_id").orderBy(desc("score"), asc("plang"))
      val best = trigrams(docs).select("doc_id", "g")
        .join(broadcast(profile), "g")
        .groupBy("doc_id", "plang").agg(sum(col("cnt")).as("score"))
        .withColumn("rn", row_number().over(wd)).filter(col("rn") === 1)
        .select(col("doc_id"), col("plang"))
      docs.select("doc_id", "lang").join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("plang"), lit("unknown")).as("predicted"))
        .orderBy("doc_id")
    }),

    // Corpus vocabulary: term frequency + document frequency + rank +
    // cumulative corpus coverage for the top-100 terms — the analysis
    // a tokenizer/BPE training run starts from ("how many types cover
    // 95% of tokens"). One explode + one groupBy + two windows, all
    // shuffle-bounded; the top-k cut keeps the output constant-size
    // regardless of corpus scale.
    "text_vocab" -> ((s, d) => {
      val docs = T.documents(s, d)
      val terms = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val counts = terms.groupBy("term")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      // top-k FIRST via orderBy+limit (TakeOrderedAndProject — each
      // partition contributes its local top-100, no global sort), THEN
      // the rank/cumulative windows run over 100 rows. A global window
      // over the full vocabulary would funnel every term through one
      // reducer; cum_share at rank r only needs the tf of ranks ≤ r,
      // so the cut loses nothing.
      val top = counts.orderBy(desc("tf"), asc("term")).limit(100)
      val total = counts.agg(sum(col("tf")).as("total_tf"))
      val wRank = Window.orderBy(desc("tf"), asc("term"))
      top.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(wRank))
        .withColumn("cum_share", round(
          (sum(col("tf")).over(wRank.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double")) / col("total_tf"), 6))
        .select("term", "tf", "df", "rank", "cum_share")
        .orderBy("rank")
    }),

    // Token counting under two tokenizers: whitespace and a BPE-ish
    // pre-tokenizer regex (letter runs / digits / punctuation runs —
    // the shape subword tokenizers pre-split on). Ratio ≈ tokens per
    // word, a standard cost estimate for LLM training data.
    "text_tokens" -> ((s, d) => {
      val bpeish = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]+"
      T.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit(bpeish), lit(0)))
            .cast("long").as("bpeish_tokens"))
        .withColumn("ratio", round(col("bpeish_tokens").cast("double") /
          col("ws_tokens"), 4))
        .orderBy("doc_id")
    }),

    // Repetition scoring (r8): duplicate-3-gram fraction per document —
    // the Gopher-style within-doc repetition rule (a doc whose n-grams
    // repeat heavily is boilerplate/spam, independent of the
    // cross-doc dedup family). rep3 = 1 − distinct3/total3; the
    // distinct count reuses the native one-pass Shingles expression
    // (first-occurrence dedup ≡ list_distinct's count), total3 is
    // plain arithmetic — pure narrow column math, no shuffle before
    // the terminal sort. Docs under 3 tokens score NULL (no 3-grams),
    // flag false.
    "text_repetition" -> ((s, d) => {
      val toks = split(col("text"), " ")
      T.documents(s, d)
        .select(col("doc_id"),
          (size(toks) - 2).cast("long").as("total3"),
          when(size(toks) >= 3,
            size(call_function("graft_shingles", col("text"), lit(3))))
            .otherwise(0).cast("long").as("distinct3"))
        .withColumn("rep3", when(col("total3") >= 1,
          round(lit(1.0) - col("distinct3").cast("double") / col("total3"), 4)))
        .withColumn("is_repetitive",
          coalesce(col("rep3") >= 0.02, lit(false)))
        .orderBy("doc_id")
    }),

    // Content fingerprints: order-insensitive content hash + an
    // order-sensitive prefix hash (both md5 — portable).
    "text_fingerprint" -> ((s, d) => {
      val toks = split(col("text"), " ")
      T.documents(s, d)
        .select(col("doc_id"),
          md5(array_join(sort_array(array_distinct(toks)), " ")).as("content_fp"),
          md5(array_join(slice(toks, 1, 3), " ")).as("prefix_fp"))
        .orderBy("doc_id")
    }),

    // Context chunking (r8): overlapping token windows of size 32,
    // stride 24 — the RAG-indexing / long-doc-context-prep shape
    // (every chunk carries `overlap = size - stride` tokens of its
    // predecessor so no boundary sentence is split without a copy).
    // One narrow posexplode per doc — chunk count = ceil(n/stride) is
    // O(tokens), NOT a shuffle; the terminal sort is the only
    // exchange. Chunks are keyed (doc_id, chunk_id) so downstream
    // dedup/packing treats them as first-class documents.
    "text_chunk" -> ((s, d) => {
      val sz = 32
      val stride = 24
      T.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(0), size(col("toks")) - 1, lit(stride))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          least(lit(sz), size(col("toks")) - col("col"))
            .cast("long").as("n_tokens"),
          array_join(slice(col("toks"), col("col") + 1, lit(sz)), " ")
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }),

    // PII redaction ([[CorpusPipeline.piiPatternsPortable]]): urls →
    // emails → IPs replaced with typed placeholders, plus a touched
    // flag — the scrub stage a pretraining corpus passes before
    // packing. Runs over the planted-PII jsonl fixture (the sf corpus
    // has no PII-shaped text, so only the fixture exercises real
    // replacements); chained codegen'd regexp_replace, no UDF. The
    // full pattern set (incl. the lookaround phone regex RE2 can't
    // replay) is spec-covered via CorpusPipeline.scrub.
    "text_pii" -> ((s, _) => {
      val path = graft.operators.ScanOps.ensureJsonl()
      s.read.schema("doc_id LONG, text STRING, source STRING").json(path)
        .select(col("doc_id"),
          CorpusPipeline.scrubPiiPortable(col("text")).as("text_clean"),
          (CorpusPipeline.scrubPiiPortable(col("text")) =!= col("text"))
            .as("pii_found"))
        .orderBy("doc_id")
    }),

    // Canonical text normalization (r8): Unicode NFC → lowercase →
    // whitespace collapse → trim, the transform every downstream hash
    // (dedup_*, text_fingerprint) silently assumes — composed vs
    // decomposed accents are DIFFERENT strings to xxhash64/md5 until
    // NFC folds them. NFC runs through the native codegen'd
    // [[graft.functions.NfcNormalize]] expression (Spark has no
    // built-in; a UDF here would put a codegen barrier in front of
    // the whole corpus). The sf corpus text is ASCII (already NFC),
    // so a decomposed/spacing suffix is planted per row to exercise
    // the composition path on real data — both engines append the
    // same bytes, so the oracle replays it.
    "text_normalize" -> ((s, d) => {
      // "Cafe" + combining acute (U+0301) + doubled spaces + NBSP-free
      // tail; NFC composes e+0301 → é, the regex collapses the runs.
      val planted = concat(col("text"), lit(" Café  NAÏVE\tx "))
      T.documents(s, d)
        .select(col("doc_id"),
          regexp_replace(
            lower(call_function("graft_nfc", planted)),
            "\\s+", " ").as("text_norm"))
        .withColumn("text_norm", trim(col("text_norm")))
        .withColumn("n_chars_norm", length(col("text_norm")).cast("long"))
        .orderBy("doc_id")
    }),

    // Corpus-LM perplexity scoring (r9): the quality filter one tier
    // above text_quality's surface stats — train an add-one-smoothed
    // bigram LM on the corpus ITSELF, score each doc by its mean
    // negative log-prob (cross entropy) and perplexity. Docs whose
    // token transitions the corpus has never seen score high — the
    // classic gibberish/boilerplate separator (the real pipeline swaps
    // in a held-out KenLM; the Spark shape is identical).
    //
    // Scale shape: unigram counts are vocab-sized (broadcast-able);
    // bigram counts shuffle on the bigram key, bounded by corpus token
    // volume with map-side combine; per-doc scoring joins the doc's
    // DISTINCT bigrams (weighted by multiplicity — the join carries
    // distinct-per-doc rows, not token instances) against the count
    // tables. Σ m·ln(p) is the one double accumulation — ~dozen terms
    // per doc, fenced by round (§7.5).
    "text_perplexity" -> ((s, d) => {
      val docs = T.documents(s, d)
      // Bigrams straight off the token ARRAY (zip of the shifted
      // slices) — NARROW per-row work, where a lead() window would
      // shuffle every token instance on doc_id first. Local timing is
      // unchanged at this corpus size (the count tables dominate), but
      // at 100 TB the deleted exchange is token-volume-sized — the
      // difference between touching every token once and twice.
      val toksArr = T.spread(docs)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
      val toks = toksArr.select(col("doc_id"),
        explode(col("ts")).as("tok"))
      // Native adjacent-pair expansion (r19): zip_with over two
      // slice() copies of the token array was an interpreted
      // higher-order pass with two O(k) array copies per row;
      // graft_adjacent_pairs emits the same pairs from one codegen'd
      // loop, copy-free.
      val bi = toksArr
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"),
          explode(call_function("graft_adjacent_pairs", col("ts"))).as("p"))
        .select(col("doc_id"), col("p.a").as("tok"),
          col("p.b").as("nxt"))
      // Per-doc multiplicities FIRST: all downstream joins carry one
      // row per (doc, bigram), not per token instance. Checkpointed
      // (lazy) because TWO consumers hang off it — itself and the
      // corpus bigram counts derived FROM it (Σ m per bigram ≡
      // counting instances, one token-volume explode pass instead of
      // the r9 form's two); same for the unigram counts, consumed by
      // the scoring join AND the vocab-size aggregate. Measured 1.36
      // → ~1.0 s at sf0.1; at 100 TB each deleted re-execution is a
      // full corpus tokenization pass.
      val bid = bi.groupBy("doc_id", "tok", "nxt")
        .agg(count(lit(1)).as("m"))
        .ckptLocal
      val bic = bid.groupBy("tok", "nxt").agg(sum("m").as("cb"))
      val uni = toks.groupBy("tok").agg(count(lit(1)).as("cu"))
        .ckptLocal
      val vsz = uni.agg(count(lit(1)).as("vsz"))
      bid.join(bic, Seq("tok", "nxt"))
        .join(uni, Seq("tok"))
        .crossJoin(broadcast(vsz))
        .select(col("doc_id"), col("m"),
          (col("m").cast("double") *
            log((col("cb") + 1).cast("double") /
                (col("cu") + col("vsz")).cast("double"))).as("mlp"))
        .groupBy("doc_id")
        .agg(sum("m").as("n_bigrams"),
          round(-sum(col("mlp")) / sum("m"), 6).as("xent"),
          round(exp(-sum(col("mlp")) / sum("m")), 4).as("ppl"))
        .orderBy("doc_id")
    }),

    // One BPE merge iteration (r9): the candidate ranking at the heart
    // of subword-tokenizer training — count adjacent symbol pairs
    // within words, weighted by corpus word frequency, rank the merge
    // candidates. (Full BPE loops this with a re-segmentation per
    // merge; iteration 1 over character symbols is deterministic and
    // oracle-able, and the Spark shape — weighted pair counts off a
    // word-frequency table — IS the per-iteration workload.) Adjacent
    // char pairs are 2-char substrings, so pair extraction is a narrow
    // index-lambda over each DISTINCT word: the heavy count rides the
    // (word, n) frequency table (vocab-sized), never token instances.
    "text_bpe_merges" -> ((s, d) => bpeMergeTable(T.documents(s, d))),

    // BPE ENCODE (r11) — apply the corpus-learned merge table back to
    // the corpus: the tokenization step between learning merges and
    // packing sequences. Per word: greedy lowest-rank-first,
    // leftmost-first sequential merging (graft_bpe, a codegen'd native
    // expression — the loop is inherently iterative, so no column-math
    // form exists; see BpeEncode.scala). The merge table is a TOP-10
    // driver collect (model-sized, the langProfile/IVF-centroid
    // pattern) broadcast into the generated code; the encode itself is
    // one narrow pass over the corpus — zero shuffles before the
    // terminal sort at any scale. The learned pairs split on the
    // first CODE POINT (offsetByCodePoints, not substring(0,1)): a
    // pair starting with a supplementary character must not shear
    // into a lone surrogate the code-point symbols can never match.
    "text_bpe_encode" -> ((s, d) => {
      val docs = T.documents(s, d)
      // bounded-collect: the BPE merge table — nMerges rows by design.
      val merges = bpeMergeTable(docs).orderBy("rank").collect()
        .map(_.getString(1)).map { p =>
          val k = p.offsetByCodePoints(0, 1)
          s"${p.substring(0, k)} ${p.substring(k)}"
        }
      bpeEncode(docs, merges.toSeq).orderBy("doc_id")
    })
  )

  /** Learned BPE-ish merge table: top-10 character pairs by corpus
    * frequency over the distinct-word frequency table (each word
    * counted with its multiplicity, pairs from 2-char substrings).
    * Deterministic (count desc, pair asc). Shared by
    * `text_bpe_merges` (which serves it) and `text_bpe_encode` (which
    * applies it).
    */
  def bpeMergeTable(docs: DataFrame): DataFrame = {
    val words = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    words.filter(length(col("word")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(word) - 1), " +
          "i -> substring(word, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("n").as("cnt"))
      .orderBy(desc("cnt"), asc("pair")).limit(10)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("cnt"), asc("pair"))))
      .select("rank", "pair", "cnt")
      .orderBy("rank")
  }

  /** Apply a ranked merge table ("left right" entries, rank order) to
    * `docs`' text — greedy sequential BPE per word (the [[graft.functions.BpeEncode]]
    * contract). Returns (doc_id, n_subwords, encoded); works for
    * arbitrary multi-char symbol tables, not just the char-pair table
    * the key feeds it (PropertySpec exercises chained merges).
    */
  def bpeEncode(docs: DataFrame, merges: Seq[String]): DataFrame = {
    // T.spread: the single-file fixture scan is one input partition;
    // fan out before the per-row merge loop (the portableBandPostings
    // shape — a bucketed production table wouldn't need it).
    // n_subwords comes out of the expression's struct — counted from
    // the symbol lists in the same pass, never reverse-engineered
    // from the '.'-joined string (input text containing '.' would
    // over-count there).
    T.spread(docs).select(col("doc_id"),
        call_function("graft_bpe",
          coalesce(col("text"), lit("")), lit(merges.toArray)).as("r"))
      .select(col("doc_id"),
        col("r").getField("n_subwords").as("n_subwords"),
        col("r").getField("encoded").as("encoded"))
  }

  val oracle: Map[String, String] = Map(
    // Bigrams via list_zip of the shifted slices (UNNEST order within
    // a doc is irrelevant — everything re-aggregates); ln() is natural
    // log in both engines (DuckDB's log() is log10 — avoid); the
    // double math is the identical expression tree on identical exact
    // integer counts, fenced by round. CAST(sum AS BIGINT) dodges the
    // HUGEINT→float64 pandas trap.
    "text_perplexity" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |toks AS (SELECT doc_id, unnest(l) AS tok FROM d),
        |bi AS (
        |  SELECT doc_id, p[1] AS tok, p[2] AS nxt
        |  FROM d, UNNEST(list_zip(l[1:len(l)-1], l[2:len(l)])) AS t(p)),
        |bid AS (
        |  SELECT doc_id, tok, nxt, count(*) AS m FROM bi GROUP BY 1, 2, 3),
        |bic AS (SELECT tok, nxt, count(*) AS cb FROM bi GROUP BY 1, 2),
        |uni AS (SELECT tok, count(*) AS cu FROM toks GROUP BY 1),
        |v AS (SELECT count(*) AS vsz FROM uni),
        |sc AS (
        |  SELECT doc_id, m,
        |         CAST(m AS DOUBLE) *
        |           ln(CAST(cb + 1 AS DOUBLE) / CAST(cu + vsz AS DOUBLE))
        |           AS mlp
        |  FROM bid JOIN bic USING (tok, nxt) JOIN uni USING (tok)
        |       CROSS JOIN v)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        |       round(-sum(mlp) / sum(m), 6) AS xent,
        |       round(exp(-sum(mlp) / sum(m)), 4) AS ppl
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same 2-char-substring pair extraction over the distinct-word
    // frequency table; top-10 by (count desc, pair asc).
    "text_bpe_merges" ->
      """WITH words AS (
        |  SELECT w AS word, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |pairs AS (
        |  SELECT p.pair, sum(n) AS cnt FROM (
        |    SELECT n, unnest(list_transform(
        |      generate_series(1, length(word) - 1),
        |      i -> substr(word, i, 2))) AS pair
        |    FROM words WHERE length(word) >= 2) p
        |  GROUP BY p.pair)
        |SELECT row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rank,
        |       pair, CAST(cnt AS BIGINT) AS cnt
        |FROM pairs ORDER BY cnt DESC, pair ASC LIMIT 10""".stripMargin,

    // Full sequential replay of the graft_bpe contract: the SAME
    // top-10 learned pair table (the text_bpe_merges CTE), then a
    // recursive CTE applying ONE merge per level — the lowest-ranked
    // applicable adjacent pair, leftmost first, exactly the
    // expression's loop. `[rank, pos]` candidate lists sort
    // lexicographically, so list_sort(...)[1] IS the (rank, leftmost)
    // argmin; '|'-keyed pair lookup is unambiguous because THIS key's
    // merge symbols are single corpus chars ([a-z]) — the general
    // multi-char API (where a '|' inside a symbol could alias keys)
    // is pinned componentwise by the PropertySpec fold instead, the
    // same key-config-vs-API split as every fixture-shaped oracle
    // here. A word's final state is its
    // max-step row (QUALIFY). coalesce around array_to_string: the
    // empty word's empty symbol list must contribute '' to the
    // string_agg, not vanish (split keeps empties on both engines).
    "text_bpe_encode" ->
      """WITH RECURSIVE words AS (
        |  SELECT w AS word, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |pairs AS (
        |  SELECT p.pair, sum(n) AS cnt FROM (
        |    SELECT n, unnest(list_transform(
        |      generate_series(1, length(word) - 1),
        |      i -> substr(word, i, 2))) AS pair
        |    FROM words WHERE length(word) >= 2) p
        |  GROUP BY p.pair),
        |m AS (
        |  SELECT row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rank,
        |         substr(pair, 1, 1) AS l, substr(pair, 2, 1) AS r
        |  FROM pairs ORDER BY cnt DESC, pair ASC LIMIT 10),
        |ml AS (SELECT list(l || '|' || r ORDER BY rank) AS mlist FROM m),
        |t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS l
        |      FROM documents),
        |w AS (
        |  SELECT doc_id, i AS wi, l[i] AS word
        |  FROM t, unnest(generate_series(1, len(l))) AS s(i)),
        |enc AS (
        |  SELECT doc_id, wi,
        |         list_transform(generate_series(1, length(word)),
        |           i -> substr(word, i, 1)) AS syms,
        |         0 AS step
        |  FROM w
        |  UNION ALL
        |  SELECT doc_id, wi,
        |         list_slice(syms, 1, best[2] - 1)
        |           || [syms[best[2]] || syms[best[2] + 1]]
        |           || list_slice(syms, best[2] + 2, len(syms)),
        |         step + 1
        |  FROM (
        |    SELECT doc_id, wi, syms, step,
        |           list_sort(list_filter(
        |             list_transform(generate_series(1, len(syms) - 1),
        |               p -> CASE WHEN list_position(mlist,
        |                             syms[p] || '|' || syms[p + 1]) > 0
        |                    THEN [list_position(mlist,
        |                             syms[p] || '|' || syms[p + 1]), p]
        |                    END),
        |             x -> x IS NOT NULL))[1] AS best
        |    FROM enc CROSS JOIN ml)
        |  WHERE best IS NOT NULL),
        |fin AS (
        |  SELECT doc_id, wi, syms
        |  FROM enc
        |  QUALIFY row_number()
        |    OVER (PARTITION BY doc_id, wi ORDER BY step DESC) = 1)
        |SELECT doc_id,
        |       CAST(sum(len(syms)) AS BIGINT) AS n_subwords,
        |       string_agg(coalesce(array_to_string(syms, '.'), ''),
        |                  ' ' ORDER BY wi) AS encoded
        |FROM fin GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // generate_series is end-INCLUSIVE (matches Spark's sequence);
    // list slicing toks[a:b] is 1-based inclusive and clamps at the
    // list end exactly like Spark's slice(toks, a, len).
    "text_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(0, len(toks) - 1, 24)) AS start
        |  FROM t)
        |SELECT doc_id,
        |       start // 24 AS chunk_id,
        |       least(32, len(toks) - start) AS n_tokens,
        |       array_to_string(toks[start + 1 : start + 32], ' ')
        |         AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "text_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tfc AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
        |dfc AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln((n_docs + 1)::DOUBLE / (df + 1)), 6) AS tfidf
        |  FROM tfc JOIN dfc USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, term ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 5
        |ORDER BY doc_id, term""".stripMargin,
    // Same exact integer counts and the same left-associated double
    // chain inside ln (round-6 fences the last-ulp libm-vs-JVM drift;
    // gate and order are integer/lexicographic).
    "text_collocations" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS ts FROM documents),
        |tot AS (
        |  SELECT CAST(sum(len(ts)) AS BIGINT) AS nt,
        |         CAST(sum(greatest(len(ts) - 1, 0)) AS BIGINT) AS nb
        |  FROM t),
        |uc AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(ts) AS w FROM t) GROUP BY 1),
        |bc AS (
        |  SELECT b['w1'] AS w1, b['w2'] AS w2, count(*) AS pair_count
        |  FROM (SELECT unnest([{'w1': ts[i], 'w2': ts[i+1]}
        |                       for i in range(1, len(ts))]) AS b
        |        FROM t WHERE len(ts) >= 2)
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT w1, w2, pair_count,
        |  round(ln((CAST(pair_count AS DOUBLE) * CAST(tot.nt AS DOUBLE)
        |            * CAST(tot.nt AS DOUBLE)) /
        |           (CAST(tot.nb AS DOUBLE) * CAST(u1.c AS DOUBLE)
        |            * CAST(u2.c AS DOUBLE))), 6) AS pmi
        |FROM bc
        |JOIN uc u1 ON bc.w1 = u1.w
        |JOIN uc u2 ON bc.w2 = u2.w, tot
        |ORDER BY w1, w2""".stripMargin,
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(avg(n_chars), 2) AS avg_chars,
        |  round(avg(len(string_split(text, ' '))), 2) AS avg_toks,
        |  max(len(string_split(text, ' '))) AS max_toks
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    length(replace(text, ' ', '')) AS total_chars
        |  FROM documents)
        |SELECT doc_id,
        |  len(toks) AS n_tok,
        |  round(total_chars::DOUBLE / len(toks), 4) AS mean_tok_len,
        |  round(len(list_filter(toks, t -> t IN
        |    ('the', 'a', 'of', 'and', 'to', 'in')))::DOUBLE / len(toks), 4)
        |    AS stop_ratio,
        |  round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS ttr,
        |  round(ln(len(toks) + 1)
        |    * (1 - len(list_filter(toks, t -> t IN
        |        ('the', 'a', 'of', 'and', 'to', 'in')))::DOUBLE / len(toks))
        |    * (len(list_distinct(toks))::DOUBLE / len(toks)), 4) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, text FROM documents WHERE length(text) >= 3),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, g FROM (
        |    SELECT doc_id, lang,
        |      unnest([substring(text, i, 3)
        |              for i in range(1, length(text) - 1)]) AS g
        |    FROM docs)),
        |profile AS (
        |  SELECT lang AS plang, g, cnt FROM (
        |    SELECT lang, g, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY lang
        |                         ORDER BY count(*) DESC, g ASC) AS rn
        |    FROM grams GROUP BY lang, g)
        |  WHERE rn <= 50),
        |dg AS (SELECT doc_id, g FROM grams),
        |scores AS (
        |  SELECT doc_id, plang, sum(cnt) AS score
        |  FROM dg JOIN profile USING (g) GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, plang FROM (
        |    SELECT doc_id, plang,
        |      row_number() OVER (PARTITION BY doc_id
        |                         ORDER BY score DESC, plang ASC) AS rn
        |    FROM scores)
        |  WHERE rn = 1)
        |SELECT d.doc_id, d.lang, coalesce(b.plang, 'unknown') AS predicted
        |FROM docs d LEFT JOIN best b ON d.doc_id = b.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "text_vocab" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |counts AS (
        |  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        |  FROM terms GROUP BY term),
        |ranked AS (
        |  SELECT term, tf, df,
        |    row_number() OVER (ORDER BY tf DESC, term ASC) AS "rank",
        |    round(sum(tf) OVER (ORDER BY tf DESC, term ASC
        |                        ROWS UNBOUNDED PRECEDING)::DOUBLE
        |          / (SELECT sum(tf) FROM counts), 6) AS cum_share
        |  FROM counts)
        |SELECT term, tf, df, "rank", cum_share FROM ranked
        |WHERE "rank" <= 100 ORDER BY "rank"""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+'))
        |    AS bpeish_tokens,
        |  round(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+'))::DOUBLE
        |        / len(string_split(text, ' ')), 4) AS ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    // 1 cast to DOUBLE explicitly: a bare 1.0 literal is DECIMAL in
    // DuckDB and would route the subtraction through decimal rules
    // instead of the double math Spark does.
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS total3,
        |    CAST(CASE WHEN len(toks) >= 3 THEN len(list_distinct(
        |      [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |       for i in range(1, len(toks) - 1)])) ELSE 0 END
        |      AS BIGINT) AS distinct3
        |  FROM t)
        |SELECT doc_id, total3, distinct3,
        |  CASE WHEN total3 >= 1 THEN
        |    round(CAST(1 AS DOUBLE) - distinct3::DOUBLE / total3, 4)
        |  END AS rep3,
        |  coalesce((CASE WHEN total3 >= 1 THEN
        |    round(CAST(1 AS DOUBLE) - distinct3::DOUBLE / total3, 4)
        |  END) >= 0.02, false) AS is_repetitive
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
        |      ' ')) AS content_fp,
        |  md5(array_to_string(list_slice(string_split(text, ' '), 1, 3),
        |      ' ')) AS prefix_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_pii" ->
      s"""SELECT doc_id, $duckScrub AS text_clean,
         |  $duckScrub <> text AS pii_found
         |FROM read_json('${graft.operators.ScanOps.jsonlPath}',
         |  format='newline_delimited',
         |  columns={'doc_id':'BIGINT','text':'VARCHAR','source':'VARCHAR'})
         |ORDER BY doc_id""".stripMargin,
    // Same decomposed suffix via chr(769)=U+0301, chr(776)=U+0308,
    // chr(9)=tab; utf8proc's NFC == the JDK's NFC (both implement the
    // Unicode canonical-composition algorithm).
    "text_normalize" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         text || ' Cafe' || chr(769) || '  NAI' || chr(776) ||
        |           'VE' || chr(9) || 'x ' AS t
        |  FROM documents)
        |SELECT doc_id,
        |       trim(regexp_replace(lower(nfc_normalize(t)),
        |                           '\s+', ' ', 'g')) AS text_norm,
        |       length(trim(regexp_replace(lower(nfc_normalize(t)),
        |                           '\s+', ' ', 'g'))) AS n_chars_norm
        |FROM p ORDER BY doc_id""".stripMargin
  )

  /** The oracle's scrub expression is GENERATED from the same pattern
    * list the Spark side applies ([[CorpusPipeline.piiPatternsPortable]]
    * — RE2-safe by construction), so the two engines can never drift:
    * nested regexp_replace with the 'g' flag (DuckDB replaces only the
    * first match by default; Spark always replaces all).
    */
  private lazy val duckScrub: String =
    CorpusPipeline.piiPatternsPortable.foldLeft("text") {
      case (expr, (pat, tok)) => s"regexp_replace($expr, '$pat', '$tok', 'g')"
    }
}
