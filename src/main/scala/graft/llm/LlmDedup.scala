package graft.llm

import graft.Ckpt.CkptOps
import graft.T
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.12 Deduplication for LLM training-data pipelines: exact hash,
  * MinHash+LSH, SimHash, and blocked n-gram Jaccard. No reference
  * analogue (the reference dedups only by cube revision); these are the
  * operators a 100 TB corpus pipeline needs.
  *
  * Scale design (SURVEY.md §7.6): NOTHING here is all-pairs.
  *   - exact: one hash + one shuffle on the hash.
  *   - minhash: signatures are per-row column math; candidate pairs
  *     come from one groupBy on (band, band-hash) + a C(df, 2) bucket
  *     expansion (r19 — previously a band equi-join) — only docs
  *     sharing a band bucket ever meet. Verification joins shingle
  *     sets for candidates only.
  *   - simhash: map-reduce bit-vote (explode + one groupBy), then the
  *     same grouped bucket expansion on 12-bit sub-keys.
  *   - ngram: exact Jaccard is quadratic per block — kept only as the
  *     within-language baseline; minhash is the scale path.
  */
object LlmDedup {
  type Q = (SparkSession, String) => DataFrame

  /** Token 3-gram shingle set (distinct), for docs with ≥3 tokens —
    * via the native one-pass [[graft.functions.Shingles]] expression
    * (tokenize + n-gram + first-occurrence dedup in one loop; the old
    * column-math form re-probed the token array three times per
    * shingle through an interpreted lambda — ~0.3 s of every consumer
    * at sf0.1). Output is string-identical to the column-math form
    * (asserted in VectorExprSpec).
    *
    * Shape matters here: the cheap token-count gate goes BEFORE the
    * spread and the expensive shingle projection AFTER it. Filtering on
    * `size(shingles)` instead would hand the optimizer a predicate it
    * happily pushes below the repartition — the whole shingle
    * expression then runs on the unparallelized single-file scan AND
    * again above the exchange (same pathology as the explode_outer
    * note in [[ngramPairs]]; measured 2.6× on dedup_cluster).
    */
  private def shingled(docs: DataFrame): DataFrame = {
    T.spread(docs.filter(size(split(col("text"), " ")) >= 3))
      .withColumn("shingles",
        call_function("graft_shingles", col("text"), lit(3)))
  }

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  val numHashes = 16
  val rowsPerBand = 2 // 8 bands of 2 → catches pairs down to J ≈ 0.4

  val queries: Map[String, Q] = Map(
    // Exact content dedup: md5 of normalized text, keep lowest doc_id
    // per hash group. One shuffle on the digest.
    "dedup_exact" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("digest").orderBy("doc_id")
      T.documents(s, d)
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("digest"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "digest")
        .orderBy("doc_id")
    }),

    // MinHash + LSH banding: near-dup pairs with verified Jaccard.
    // (Keys sort for the driver's deterministic compare; the pair
    // GENERATORS return unsorted frames so iterative consumers like
    // connectedComponents don't pay a range-exchange + sampling job
    // for an ordering they immediately destroy.)
    // Worst-case candidate volume Σ_bucket C(df, 2) is data-sized
    // (degenerate: one boilerplate bucket of 100k docs ⇒ 5e9 pairs) —
    // maxBandDf is the valve; None here because the pair OUTPUT of a
    // true near-dup flood is itself C(k,2), so completeness and
    // subquadratic work are mutually exclusive for this key by
    // contract (unlike the 1-NN-shaped multimodal_neardup, which
    // collapses to distinct signatures instead).
    "dedup_minhash" -> ((s, d) =>
      minhashPairs(T.documents(s, d), 0.35).orderBy("d1", "d2")),

    // SimHash: 48-bit weighted bit-vote fingerprint, banded candidate
    // join, Hamming-distance verification. Tight threshold: this
    // corpus's small shared vocabulary clusters fingerprints, so a
    // loose Hamming bound floods (139k pairs at ≤12 under the old
    // 64-bit battery; ~real dups at ≤3). Oracled since r12: the
    // md5-prefix token hash replays bit-for-bit. Worst-case candidate
    // volume Σ_bucket C(df, 2) — a 12-bit band over a clustered
    // fingerprint space collapses like any LSH bucket — maxBandDf is
    // the valve (spec'd); None here: pair output, same completeness
    // contract as dedup_minhash above.
    "dedup_simhash" -> ((s, d) =>
      simhashPairs(T.documents(s, d), maxHamming = 3).orderBy("d1", "d2")),

    // Exact n-gram Jaccard via an inverted shingle index: candidate
    // pairs are generated by an equi-join on the shingle (only docs
    // that SHARE a shingle ever meet — any pair with J > 0 is reachable,
    // so this is exact and complete, unlike attribute blocking), then
    // |A∩B| falls out of a count per pair and |A∪B| = n1 + n2 − n∩.
    // Candidate volume is Σ_s C(df_s, 2); at web scale, cap shingle df
    // (a shingle in thousands of docs is boilerplate, not signal).
    "dedup_ngram" -> ((s, d) =>
      ngramPairs(T.documents(s, d), 0.2, None).orderBy("d1", "d2")),

    // Shingle CONTAINMENT (r14): |A∩B|/|A| — the asymmetric overlap
    // that catches what symmetric Jaccard structurally cannot: a
    // short doc quoted or excerpted inside a long one scores
    // containment ≈ 1 while its Jaccard stays tiny (the union is
    // dominated by the long side). The quotation/excerpt tier of the
    // dedup family, directed (doc → container). Same inverted
    // shingle index as dedup_ngram — candidates share a shingle,
    // never doc×doc; worst case Σ_s df_s·(df_s−1) is data-sized
    // (degenerate: one shingle in every doc ⇒ n(n−1) ordered pairs),
    // so maxShingleDf is the valve at web scale — None here, the
    // complete oracle-facing config on a fixture whose max df is
    // corpus-vocabulary-bounded.
    "dedup_containment" -> ((s, d) =>
      containmentPairs(T.documents(s, d), minContainment = 0.8,
        minShingles = 3)
        .orderBy("doc_id", "container_id")),

    // Span-level duplication signal (r9): per doc, the fraction of its
    // DISTINCT 3-gram shingles that also occur in at least one OTHER
    // doc — the substring-dedup quality signal (a doc that is mostly
    // corpus-repeated spans is boilerplate even when no single pair
    // crosses a Jaccard threshold; pair-level dedup_ngram can't see
    // diffuse many-source repetition). Shape: posting df is one
    // two-phase count over DISTINCT (doc, shingle) rows; the join back
    // carries (doc, shingle, df) — corpus-shingle-bounded, never
    // doc×doc; at web scale cap df like dedup_ngram (boilerplate
    // shingles saturate the signal anyway: min(df,2) is all we read).
    "text_dup_spans" -> ((s, d) => {
      val sh = shingled(T.documents(s, d))
        .select(col("doc_id"),
          explode(array_distinct(col("shingles"))).as("sh"))
      // df attached via ONE groupBy(sh) + re-explode of the grouped
      // doc list (r19, the ngramPairs restructure): the old
      // postings ⋈ df-aggregate join evaluated the shingle pipeline
      // once per side and paid the join; df = size of the group's
      // doc list is the same count, and every posting comes back out
      // of the explode exactly once with its df attached — no join,
      // shingling runs once.
      sh.groupBy("sh").agg(collect_list(col("doc_id")).as("ds"))
        .select(size(col("ds")).as("df"), explode(col("ds")).as("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_shingles"), col("n_dup"),
          round(col("n_dup").cast("double") / col("n_shingles"), 4)
            .as("dup_ratio"))
        .withColumn("flagged", col("dup_ratio") >= 0.5)
        .orderBy("doc_id")
    }),

    // Near-dup CLUSTERING: pairs → connected components → one kept
    // representative per component. The step every pair-producing dedup
    // needs before it can actually drop documents; pair-local survivor
    // rules miss transitive duplicates (see [[connectedComponents]]).
    "dedup_cluster" -> ((s, d) => {
      val docs = T.documents(s, d)
      connectedComponents(docs, ngramPairs(docs, 0.2, None))
        .withColumn("keep", col("doc_id") === col("cluster"))
        .orderBy("doc_id")
    }),

    // URL dedup (r10): the FIRST dedup any web corpus runs — before
    // looking at content at all, collapse fetches of the same page
    // reached through cosmetically different URLs (scheme/host case,
    // www. prefix, trailing slash, tracking query params, fragments).
    // URLs are SYNTHESIZED deterministically from `documents` (the
    // fixture carries no url column): four canonical-equal variants
    // keyed on doc_id % 4 over a doc_id % 50 page space, so both the
    // variant collapse and the genuine cross-doc duplicates are
    // exercised, and the oracle rebuilds the same strings. Every 5th
    // doc instead gets an UNDERSCORED host (r11) — java.net.URI
    // rejects it, so those rows take [[urlDedup]]'s `unparsed:`
    // fallback, putting BOTH canonicalization branches under the
    // oracle (exact-equal unparsed URLs still collapse; the oracle
    // replays the URI host contract as a character-class check).
    "dedup_url" -> ((s, d) => {
      val pathPart = concat(lit("/"), col("lang"), lit("/item-"),
        (col("doc_id") % 50).cast("string"))
      val hostBase = concat(col("source"), lit(".example.com"))
      val url =
        when(col("doc_id") % 5 === 4,
          concat(lit("https://img_"), hostBase, pathPart))
        .when(col("doc_id") % 4 === 0,
          concat(lit("https://www."), hostBase, pathPart))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://"), hostBase, pathPart, lit("/")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://"), upper(hostBase), pathPart,
            lit("?utm_source=feed")))
        .otherwise(concat(lit("https://"), hostBase, pathPart, lit("#frag")))
      urlDedup(T.documents(s, d).select(col("doc_id"), url.as("url")))
        .orderBy("doc_id")
    }),

    // Chunk-level dedup (r10): remove globally-duplicated PASSAGES
    // while keeping the documents — the dedup tier between exact
    // (whole-doc) and near-dup (drop-one-of-pair). Doc-level rules
    // cannot touch a boilerplate header pasted into thousands of
    // otherwise-distinct pages; chunk dedup keeps ONE copy of each
    // repeated passage corpus-wide (the "keep one copy" exact
    // substring-dedup rule) and rebuilds every document from its
    // surviving chunks.
    "dedup_chunks" -> ((s, d) =>
      chunkDedup(T.documents(s, d), 16).orderBy("doc_id"))
  )

  /** Chunk-level exact dedup over `documents(doc_id, text, …)`:
    * split each doc into NON-OVERLAPPING `chunkSize`-token windows
    * (non-overlap makes removal well-defined — every token belongs to
    * exactly one chunk), hash each chunk (md5 — the cross-engine
    * digest), and keep only the corpus-wide FIRST occurrence of each
    * hash in (doc_id, chunk_id) order; every doc is then rebuilt from
    * its surviving chunks in position order. Returns (doc_id,
    * n_chunks, n_kept, kept_text).
    *
    * Scale shape: one chunk-explode (corpus-sized, narrow), one
    * window ranked by hash (single shuffle on the hash key — the
    * dedup), one groupBy(doc) rebuild (second shuffle). No driver
    * state; the rebuild's collect_list is per-doc chunk-count bounded
    * (docs/chunkSize), never corpus-sized. At 100 TB the hash shuffle
    * carries one ~40-byte row per chunk — the same volume class as
    * the shingle index, with no pair blow-up anywhere.
    * ≡-to-local-fold spec'd in PropertySpec. */
  def chunkDedup(docs: DataFrame, chunkSize: Int): DataFrame = {
    // NULL text ≡ empty text: without the coalesce, split(NULL) nulls
    // the position sequence and posexplode (a generator) emits ZERO
    // rows — the document would vanish from the output instead of
    // being rebuilt. An empty doc is one empty chunk (deterministic;
    // all empty docs share it, the first keeps it).
    val chunks = docs
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("toks"))
      .select(col("doc_id"), col("toks"), posexplode(
        sequence(lit(0), size(col("toks")) - 1, lit(chunkSize))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        array_join(slice(col("toks"), col("col") + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
    val ranked = chunks
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("chunk_text").cast("binary")))
          .orderBy(col("doc_id"), col("chunk_id"))))
      .withColumn("keep", col("rk") === 1)
    ranked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("chunk_id"), col("chunk_text"))))),
          x => x.getField("chunk_text")), " ").as("kept_text"))
  }

  /** URL-canonicalization dedup over `(doc_id, url)`: `canonical` =
    * lowercased host without a leading `www.` plus the path without a
    * trailing slash — query strings and fragments dropped entirely
    * (they address the same fetched page; tracking params are the
    * classic web-corpus inflator). `keep` marks the smallest doc_id
    * per canonical URL. Parsing is Spark's codegen'd `parse_url`
    * (HOST/PATH), the dedup is one window-min over the canonical key —
    * a single narrow shuffle at any corpus size, run BEFORE content
    * dedup so the expensive shingling never sees the URL-duplicate
    * mass. ≡-to-local-canonicalization spec'd in PropertySpec. */
  def urlDedup(df: DataFrame): DataFrame = {
    val host = parse_url(col("url"), lit("HOST"))
    val path = parse_url(col("url"), lit("PATH"))
    val canonical = concat(
      regexp_replace(lower(host), "^www\\.", ""),
      regexp_replace(path, "/$", ""))
    // Unparseable-URL guard: java.net.URI (behind parse_url) returns
    // NULL host for authorities real crawls contain (underscored
    // subdomains, malformed escapes), and `concat` of a NULL host
    // nulls the whole canonical — Window.partitionBy would then pool
    // EVERY unparseable URL into one NULL group and silently mark all
    // but one as duplicates. Fall back to the raw URL as its own
    // canonical: exact-equal unparseable URLs still collapse, distinct
    // ones never cross-match.
    val guarded = coalesce(canonical, concat(lit("unparsed:"), col("url")))
    df.withColumn("canonical", guarded)
      .withColumn("keep", col("doc_id") === min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("canonical")))
  }

  /** Connected components over a near-dup pair list: every document's
    * `cluster` is the smallest doc_id reachable through the pair
    * relation (pairless docs are their own singleton), so "keep one
    * per cluster" is simply `doc_id == cluster`.
    *
    * Why not a pair-local rule: dropping e.g. every pair's larger id
    * misses transitive duplicates — with pairs (1,3) and (2,3) only,
    * doc 2 never appears as a larger id and survives alongside doc 1
    * even though 1 and 2 sit in the same component via 3 (spec'd in
    * LlmSpec).
    *
    * Shape: min-label propagation over the PAIR-ENDPOINT subgraph
    * only. A doc in no pair is its own singleton and can never change
    * label, so the iteration carries just the near-dup endpoints
    * (duplicate clusters ≪ corpus — at 100 TB this is the difference
    * between shuffling a corpus-sized label frame per round and a
    * dup-subgraph-sized one); singletons are restored with one final
    * left join. Each round is edge-sized equi-joins + min-groupBys
    * plus a node-sized jump join — bounded shuffles, no driver-side
    * graph. Rounds needed = O(log of the largest component's
    * diameter); near-dup components are tiny and shallow, not a
    * social graph, so this converges in a couple of rounds —
    * `maxRounds` is a documented backstop, not a tuning knob.
    *
    * The propagation loop itself is [[LlmGraph.componentsWithRounds]]
    * (r10 — previously a private two-hops-per-probe loop here): one
    * shared fixpoint core for both the near-dup path and the
    * co-occurrence-graph key, so this path inherits the pointer-jump
    * acceleration (O(log diameter) probe rounds), the lazy-checkpoint
    * round boundary (one planning pass per round), and the in-loop
    * AQE/codegen/partition tuning. Near-dup components are shallow —
    * the jump rarely fires more than once — but a degenerate
    * chained-near-dup corpus (every doc a near-dup of the next) now
    * converges in log rounds instead of diameter rounds.
    */
  def connectedComponents(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    // Checkpoint the PAIR LIST before mirroring it (r11): the
    // both-directions union otherwise embeds the whole candidate+verify
    // pipeline TWICE in the edge plan, and driver-side planning — not
    // execution — is what the phase profile showed dominating the
    // composed keys (LlmGraph plans the edge tree eagerly at its own
    // checkpoint: 0.86 s for the doubled minhash tree vs 0.38 s for
    // the same tree once; corpus_curate 2.15 → 1.5 s quiet once both
    // halves of this fix landed). Lazy: the narrow (d1, d2, j) rows
    // materialize inside the loop's round-0 probe job, which also
    // stops the union re-EXECUTING the verify joins per direction.
    val p = pairs.ckptLocal
    val edges = p.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(p.select(col("d2").as("src"), col("d1").as("dst")))
    val labels = LlmGraph.components(edges, maxRounds)
      .select(col("node").as("doc_id"), col("comp").as("cluster"))
    docs.select("doc_id").join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** Exact n-gram Jaccard pairs via the inverted shingle index.
    *
    * - explode_outer, NOT explode: plain explode makes the optimizer
    *   infer a non-empty-array filter and push the whole interpreted
    *   shingling expression below the exchange — tripling the work on
    *   the unparallelized input (measured 6× slower). The arrays are
    *   never empty here (≥3-token filter), so the variants agree.
    * - |A| rides along as size(shingles) on every posting row instead
    *   of a separate per-doc count aggregate: the round-2 shape joined
    *   a `sz` frame back on BOTH pair sides, so the whole interpreted
    *   shingling subtree was evaluated 4× per run; carrying n inline
    *   halves that and drops two joins.
    * - `maxShingleDf`: candidate volume is Σ_s C(df_s, 2) — one
    *   boilerplate shingle shared by 100k docs yields 5e9 candidate
    *   pairs. The cap drops postings for shingles above it BEFORE
    *   pair generation (df from a same-shuffle window count, no extra
    *   aggregate subtree). With the cap active the reported J is a
    *   LOWER BOUND: capped shingles leave the intersection count but
    *   stay in the set sizes, so boilerplate overlap stops inflating
    *   similarity — the deliberate recall/cost tradeoff at web scale.
    *   None = exact and complete (the oracle-checked configuration).
    */
  def ngramPairs(docs: DataFrame, minJaccard: Double,
      maxShingleDf: Option[Int]): DataFrame = {
    val all = shingled(docs)
      .select(col("doc_id"), size(col("shingles")).as("n"),
              explode_outer(col("shingles")).as("sh"))
    // Candidate pairs via ONE groupBy(sh) + the native C(df,2)
    // expansion, NOT a posting self-join (r19, guide §2.3 "aggregate
    // before you shuffle" / §2.4 "remove shuffles outright"): the
    // join's two sides alias differently so ReuseExchange never fires
    // and the whole shingle+explode pipeline evaluated once PER SIDE,
    // and the planner additionally broadcast the entire ~posting-sized
    // build side at sf0.1 (SMJ with two sort passes at scale). The
    // grouped form runs the shingling once, shuffles each posting
    // exactly once, and the pair list spills out of the codegen'd
    // graft_pairs loop — identical pair set: doc_ids are unique within
    // a shingle group (shingles are per-doc distinct), so the
    // array_sort puts d1 < d2 by construction, one row per shared
    // shingle per pair, exactly what the d1 < d2 join filter kept.
    // (groupBy would treat a NULL sh as a real group, unlike the old
    // equi-join — the ≥3-token gate means explode_outer never emits
    // one; see the [[shingled]] scaladoc.)
    // The df cap becomes a size filter on the grouped list — the old
    // same-shuffle window count pass disappears with the join.
    val grouped = all
      .groupBy("sh")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n"))))
        .as("ds"))
    val capped = maxShingleDf match {
      case Some(cap) => grouped.filter(size(col("ds")) <= cap)
      case None => grouped
    }
    capped
      .select(explode(call_function("graft_pairs", col("ds"))).as("pr"))
      .select(col("pr.u.doc_id").as("d1"), col("pr.u.n").as("n1"),
              col("pr.v.doc_id").as("d2"), col("pr.v.n").as("n2"))
      .groupBy("d1", "d2", "n1", "n2").agg(count(lit(1)).as("n_inter"))
      .withColumn("j", round(col("n_inter").cast("double") /
        (col("n1") + col("n2") - col("n_inter")), 4))
      .filter(col("j") >= minJaccard)
      .select("d1", "d2", "j")
  }

  /** Directed shingle-containment pairs over `docs("doc_id", "text")`:
    * for every ordered pair sharing a 3-shingle,
    * containment = |A∩B| / |A| (A = the contained side's DISTINCT
    * shingle set); pairs with round-6 containment ≥ `minContainment`
    * and |A| ≥ `minShingles` survive. Returns
    * (doc_id, container_id, n_shingles, shared, containment) —
    * doc_id is the CONTAINED side. Candidates ride the dedup_ngram
    * inverted shingle index: volume is Σ_s df_s·(df_s−1)/2, never n² —
    * but that bound is DATA-sized (one boilerplate shingle in 100k
    * docs yields 1e10 candidates), so `maxShingleDf` drops
    * postings above the cap BEFORE pair generation, exactly
    * [[ngramPairs]]' valve (df from a same-shuffle window count).
    * Under the cap the reported containment is a LOWER bound: capped
    * shingles leave `shared` but stay in |A|, so boilerplate overlap
    * stops manufacturing containment. None = exact and complete (the
    * oracle-checked configuration). ≡-to-reference spec'd in
    * PropertySpec (materialized shingle SETS, no postings); the cap's
    * kill-boilerplate/keep-signal behavior in LlmSpec.
    *
    * Containment is DIRECTIONAL but the shared-shingle count is
    * SYMMETRIC, so pairs generate UNORDERED (`d1 < d2`, the
    * [[ngramPairs]] rule) and each grouped row emits BOTH directed
    * containments post-aggregation (r16, measured 2.62 → 1.83 s
    * min-of-5 same-session at sf0.1): the r15 ordered-pair form
    * (`d1 =!= d2`) pushed every candidate through the pair
    * aggregation twice — at Σ df² candidate volume, halving the
    * aggregated rows is the dominant term, and the two directed
    * output rows cost one |pairs|-sized explode after the heavy
    * shuffle instead of before it.
    */
  def containmentPairs(docs: DataFrame, minContainment: Double,
      minShingles: Int, maxShingleDf: Option[Int] = None): DataFrame = {
    val posts = shingled(docs)
      .select(col("doc_id"), size(col("shingles")).as("n"),
        explode(col("shingles")).as("sh"))
    // Same r19 restructure as [[ngramPairs]]: one groupBy(sh) + the
    // native graft_pairs expansion replaces the posting self-join
    // (shingling once instead of once per join side, each posting
    // shuffled exactly once, no broadcast of the posting frame), and
    // the df cap becomes a size filter on the grouped list. Pair set
    // identical — unique doc_ids per shingle group, array_sort ⇒
    // d1 < d2 by construction.
    val grouped = posts
      .groupBy("sh")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n"))))
        .as("ds"))
    val capped = maxShingleDf match {
      case Some(cap) => grouped.filter(size(col("ds")) <= cap)
      case None => grouped
    }
    capped
      .select(explode(call_function("graft_pairs", col("ds"))).as("pr"))
      .select(col("pr.u.doc_id").as("d1"), col("pr.u.n").as("n1"),
              col("pr.v.doc_id").as("d2"), col("pr.v.n").as("n2"))
      .groupBy("d1", "d2", "n1", "n2").agg(count(lit(1)).as("shared"))
      .select(explode(array(
        struct(col("d1").as("doc_id"), col("d2").as("container_id"),
          col("n1").as("nn")),
        struct(col("d2").as("doc_id"), col("d1").as("container_id"),
          col("n2").as("nn")))).as("p"), col("shared"))
      .select(col("p.doc_id"), col("p.container_id"),
        col("p.nn").cast("long").as("n_shingles"), col("shared"),
        round(col("shared").cast("double") / col("p.nn").cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= minContainment &&
        col("n_shingles") >= minShingles)
  }

  /** Streaming exact dedup: the continuous-ingest form of
    * `dedup_exact`. `dropDuplicates` on the content digest keeps the
    * FIRST-seen doc per digest across micro-batches in a state store;
    * the event-time watermark bounds that state (a digest older than
    * the watermark can be evicted — re-arrivals beyond it are the
    * at-least-once tradeoff every streaming dedup makes). Cross-batch
    * behavior is asserted in StreamingSpec over MemoryStream.
    *
    * NOTE: the batch `dedup_exact` keeps the LOWEST doc_id via a ranked
    * window; ranking windows don't exist in streaming, so first-seen is
    * the streaming-native survivor rule. Over a replayed ordered log
    * the two coincide.
    */
  def streamingExactDedup(docs: DataFrame, watermark: String): DataFrame =
    docs
      .withColumn("digest", md5(lower(trim(col("text")))))
      .withWatermark("ts", watermark)
      .dropDuplicates("digest")
      .select("doc_id", "digest")

  /** Band-occupancy valve shared by the LSH pipelines: drop (band,
    * key) BUCKETS whose df exceeds the cap BEFORE pair expansion.
    * Candidate volume per bucket is C(df, 2), so ONE boilerplate
    * bucket holding 100k near-identical docs (license headers,
    * templated pages) otherwise yields 5e9 pairs. Since the r19
    * grouped-postings restructure the bucket df IS the grouped list's
    * size — the old same-shuffle window count pass is gone with the
    * self-join. Members of a capped bucket can still meet through
    * their OTHER bands; losing the all-pairs expansion of mega-buckets
    * is the deliberate boilerplate-vs-cost tradeoff at web scale.
    * None = complete (the key-registered, oracle-facing
    * configuration).
    */
  private def capGroups(grouped: DataFrame, cap: Option[Int]): DataFrame =
    cap match {
      case Some(c) => grouped.filter(size(col("ds")) <= c)
      case None => grouped
    }

  /** MinHash+LSH near-dup pipeline over any (doc_id, text) frame.
    * Candidate pairs travel as bare (d1, d2) ids — deduping before the
    * shingle sets are joined back keeps the wide array payloads out of
    * the candidate shuffle (they'd otherwise ride through the distinct
    * once per matching band).
    */
  def minhashPairs(docs: DataFrame, threshold: Double,
      maxBandDf: Option[Int] = None): DataFrame = {
    val numBands = numHashes / rowsPerBand
    // Materialized once: consumed 3× (the minhash battery input + both
    // shingle-verify join sides, whose d1/d2 exchange keys differ so
    // ReuseExchange can't share them) — without the boundary the
    // shingling pipeline re-evaluates per consumer (~0.4 s of the key
    // at sf0.1; at scale: DISK_ONLY or a staging write, same as every
    // iterative pin in this package). LAZY localCheckpoint, NOT
    // Pins.repin/persist (r11, reversing the r7 choice with new
    // evidence): ANY live CacheManager entry taxes the DRIVER on every
    // subsequent query compilation in the session — useCachedData
    // walks each new plan canonicalizing subtree after subtree against
    // the cached plan, and for the self-join-heavy trees downstream of
    // this boundary that walk measured ~0.5 s/invocation of pure
    // planning (phase-profiled r11: swapping the pin for a checkpoint
    // took corpus_curate 2.02 → 1.62 s and dedup_minhash 0.74 → 0.57 s
    // quiet). The checkpoint gives the same evaluate-once sharing with
    // a plan-invisible RDD leaf: zero cache entries, zero
    // canonicalization tax, still cold (honest) per invocation. The
    // r7 concerns remain satisfied — no session-lifetime cache leak
    // (the RDD is GC-reclaimed), no warm-cache reuse across Bench
    // runs, and PlanSpec's join-shape audits read the candidate joins
    // ABOVE this boundary, which the leaf leaves visible.
    val sets = shingled(docs).select(col("doc_id"), col("shingles"))
      .ckptLocal
    // Whole signature in ONE codegen'd pass — each shingle hashed once,
    // k affine minima tracked in a tight loop — via the PORTABLE
    // 48-bit-md5 battery ([[graft.functions.Minhash48]], r12;
    // previously the xxhash64 [[graft.functions.MinhashSig]]): every
    // step is exact integer math a DuckDB oracle replays bit-for-bit
    // (the stream_neardup/portableBandPostings family), which moves
    // this key out of the no-oracle set. The md5 base costs ~100 ns
    // more per shingle than xxhash64 — measured noise next to the
    // candidate join — and the LSH s-curve is hash-family-independent
    // (the planted-recall property and the ≡-exact-pairwise
    // ScalaCheck property re-pin recall unchanged).
    val sh = sets.select(col("doc_id"),
      call_function("graft_minhash48", col("shingles"), lit(numHashes)).as("mh"))
    // Band key = the band's row-minima joined to a string (the
    // portableBandPostings key shape — replayable, unlike a 64-bit
    // band hash); explode to (band, key).
    val banded = sh.select(
      col("doc_id"),
      posexplode(array((0 until numBands).map { b =>
        concat_ws(":", lit(b) +: (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("mh"), i + 1)): _*)
      }: _*)).as(Seq("band", "bkey")))
    // Candidates via ONE groupBy(band, bkey) + graft_pairs (r19, the
    // ngramPairs restructure): the banded self-join evaluated the
    // whole minhash battery once per side — past the sets checkpoint,
    // but the 16-minima signature pass is the expensive half — and
    // paid two band-key exchanges (broadcast at sf0.1). doc_ids are
    // unique within a bucket (one posting per doc per band), so
    // array_sort ⇒ d1 < d2 by construction; the distinct still
    // collapses pairs that share several bands.
    val cand = capGroups(banded.groupBy("band", "bkey")
        .agg(array_sort(collect_list(col("doc_id"))).as("ds")), maxBandDf)
      .select(explode(call_function("graft_pairs", col("ds"))).as("pr"))
      .select(col("pr.u").as("d1"), col("pr.v").as("d2"))
      .distinct() // each candidate once, any band
    cand
      .join(sets.select(col("doc_id").as("d1"), col("shingles").as("s1")), Seq("d1"))
      .join(sets.select(col("doc_id").as("d2"), col("shingles").as("s2")), Seq("d2"))
      .withColumn("j", round(jaccard(col("s1"), col("s2")), 4))
      .filter(col("j") >= threshold)
      .select("d1", "d2", "j")
  }

  /** Cross-engine-REPLAYABLE minhash band postings (r11) — the
    * stateless front end of `stream_neardup`. One posting row
    * (doc_id, band, bkey) per (doc, band); docs sharing a bkey are
    * near-dup candidates (the [[minhashPairs]] banding economics).
    *
    * Same signature battery as [[minhashPairs]] (since r12 — before
    * that the batch path ran an xxhash64 battery and was no-oracle
    * for it): the per-shingle base hash is the 48-bit md5 prefix
    * (the [[CorpusPipeline.ppsSample]] u48 trick), with the k
    * minhash rows as affine transforms `(aᵢ·u48 + bᵢ) & (2⁴⁸−1)` of
    * that ONE digest — every step exact 64-bit integer math a DuckDB
    * oracle replays bit-for-bit. aᵢ·u48 < 2⁶²: no overflow on either
    * engine. md5 is computed ONCE per shingle into an array; the k
    * minima re-scan only that 48-bit array. Odd aᵢ make each
    * transform a bijection mod 2⁴⁸, so the per-row minima are
    * independent-enough rankings of an already-md5-mixed space —
    * the standard LSH s-curve (8 bands × 2 rows).
    *
    * Scale shape: per-row column math + an 8-way posexplode — zero
    * shuffles, streaming-safe (no aggregation), corpus-linear.
    * `carry` names input columns to keep on the postings (e.g. the
    * event-time column a streaming caller watermarks on).
    */
  def portableBandPostings(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val numBands = numHashes / rowsPerBand
    // T.spread only when the plan is batch: the repartition fans the
    // single-file fixture scan out before the per-row md5+minima work
    // (the standard [[shingled]] shape); a streaming caller's
    // micro-batches are already partitioned by the source.
    // graft_minhash48 (r11): the SAME math as the interpreted
    // `transform`-built u48 array + 16 `array_min(transform(...))`
    // passes this stage shipped with — md5 hex prefix, affine rows,
    // 48-bit mask — but hashed once per shingle in one codegen'd
    // loop (VectorExprSpec pins elementwise equality; the oracle's
    // hash compare is the cross-engine gate that it stayed
    // bit-identical).
    val base = if (docs.isStreaming) docs else T.spread(docs)
    val sig = base.filter(size(split(col("text"), " ")) >= 3)
      .withColumn("mh", call_function("graft_minhash48",
        call_function("graft_shingles", col("text"), lit(3)),
        lit(numHashes)))
    sig
      .select(col("doc_id") +: carry.map(col) :+ posexplode(
        array((0 until numBands).map { b =>
          concat_ws(":", lit(b) +: (0 until rowsPerBand).map(r =>
            element_at(col("mh"), rowsPerBand * b + r + 1)): _*)
        }: _*)): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
  }

  /** SimHash bit width. 48 since r12 (was 64): the token hash is the
    * 48-bit md5 prefix — the portable u48 family every oracled hash in
    * this codebase draws from — so the whole fingerprint pipeline
    * replays bit-for-bit in DuckDB (xxhash64, the old 64-bit base, has
    * no equivalent there). 48 bits of sign votes is still far past the
    * discrimination this fingerprint needs (the banded verify gates on
    * Hamming ≤ 3 anyway); the band structure stays 4 bands, now 12
    * bits each, preserving the pigeonhole guarantee that any pair
    * within Hamming ≤ 3 shares at least one clean band.
    */
  val simhashBits = 48

  /** SimHash fingerprints via map-reduce bit votes: +1 when a
    * token-hash bit is set, −1 otherwise; the sign of each bit's sum is
    * the fingerprint bit. One groupBy — linear, shuffle on doc_id only.
    */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), expr(
        "CAST(conv(substring(md5(t), 1, 12), 16, 10) AS BIGINT)").as("h"))
    val votes = (0 until simhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v_$b")
    }
    tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until simhashBits).map { b =>
          when(col(s"v_$b") > 0, lit(1L << b)).otherwise(0L)
        }.reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pipeline: fingerprint, 4×12-bit band blocking,
    * Hamming verification.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
      maxBandDf: Option[Int] = None): DataFrame = {
    val fp = simhashFingerprints(docs)
    // 4 bands of 12 bits: near-identical fingerprints share ≥1 band.
    val banded = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map { b =>
        shiftrightunsigned(col("simhash"), 12 * b).bitwiseAND(0xFFFL)
      }: _*)).as(Seq("band", "bkey")))
    // Candidates via ONE groupBy(band, bkey) + graft_pairs (r19, the
    // ngramPairs restructure): the banded self-join evaluated the
    // WHOLE fingerprint pipeline — token explode + 48-bit-vote
    // aggregate over every token — once per join side (no
    // ReuseExchange across the differently-aliased sides; the r18
    // before-plan shows the scan→explode→48-sum aggregate verbatim
    // twice). One grouped pass runs it once, shuffles each banded
    // posting exactly once, and no posting-frame broadcast. doc_ids
    // are unique within a bucket (one posting per doc per band), so
    // array_sort on (doc_id, simhash) structs ⇒ d1 < d2 by
    // construction — identical pair set to the join's d1 < d2 filter;
    // the distinct still collapses pairs sharing several bands.
    val cand = capGroups(banded.groupBy("band", "bkey")
        .agg(array_sort(collect_list(
          struct(col("doc_id"), col("simhash")))).as("ds")), maxBandDf)
      .select(explode(call_function("graft_pairs", col("ds"))).as("pr"))
      .select(col("pr.u.doc_id").as("d1"), col("pr.v.doc_id").as("d2"),
        col("pr.u.simhash").as("h1"), col("pr.v.simhash").as("h2"))
    cand.distinct()
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
  }

  val oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """WITH h AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS digest,
        |    row_number() OVER (PARTITION BY md5(lower(trim(text)))
        |                       ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, digest FROM h WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_ngram" ->
      s"""WITH ${duckNgramCtes()}
        |SELECT d1, d2, j FROM jac WHERE j >= 0.2 ORDER BY d1, d2""".stripMargin,

    // The same shingle CTEs (unreferenced ones are free), a DIRECTED
    // posting join, and the same rounded-containment gate.
    "dedup_containment" ->
      s"""WITH ${duckNgramCtes()},
        |dint AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT d1 AS doc_id, d2 AS container_id,
        |         CAST(x.n AS BIGINT) AS n_shingles,
        |         CAST(shared AS BIGINT) AS shared,
        |         round(CAST(shared AS DOUBLE) / CAST(x.n AS DOUBLE), 6)
        |           AS containment
        |  FROM dint JOIN sz x ON d1 = x.doc_id)
        |SELECT doc_id, container_id, n_shingles, shared, containment
        |FROM c WHERE containment >= 0.8 AND n_shingles >= 3
        |ORDER BY doc_id, container_id""".stripMargin,

    // Bit-for-bit replay of the 48-bit simhash (r12): per token
    // INSTANCE (multiplicity counts — a repeated token votes each
    // occurrence, matching the Spark explode), u48 = the md5-prefix
    // parse, one ±1 vote per bit via a 48-row cross join re-aggregated
    // to the sign; fingerprint = Σ 2^b over positive bits; 4×12-bit
    // band blocking; Hamming = bit_count(xor) gated at 3. Every step
    // is exact BIGINT math. hamming is cast to INTEGER to match
    // Spark's bit_count type.
    "dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(t), 1, 12))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents)),
        |bits AS (SELECT unnest(range(48)) AS b),
        |votes AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM tok CROSS JOIN bits GROUP BY doc_id, b),
        |fp AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
        |                       ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, simhash, band,
        |         (simhash >> (12 * band)) & 4095 AS bkey
        |  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band) bands),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
        |         l.simhash AS h1, r.simhash AS h2
        |  FROM banded l JOIN banded r
        |    ON l.band = r.band AND l.bkey = r.bkey
        |   AND l.doc_id < r.doc_id)
        |SELECT d1, d2,
        |       CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(h1, h2)) <= 3
        |ORDER BY d1, d2""".stripMargin,

    // Portable minhash LSH replay ([[duckMinhashCandCtes]]): candidate
    // pairs share a band key, then the exact shingle-set Jaccard (the
    // jac CTE — same integer ratio the Spark verify join computes)
    // gates at the threshold. A candidate pair sharing no shingle has
    // J = 0 and is absent from jac — and below the threshold on the
    // Spark side — so the inner join loses nothing.
    "dedup_minhash" ->
      s"""WITH ${duckNgramCtes()},
        |$duckMinhashCandCtes
        |SELECT j.d1, j.d2, j.j FROM jac j
        |JOIN cand c ON j.d1 = c.d1 AND j.d2 = c.d2
        |WHERE j.j >= 0.35 ORDER BY j.d1, j.d2""".stripMargin,

    // Reuses the shingle CTEs' t/sh prefix; df over the distinct
    // postings, ratio re-derived per doc.
    "text_dup_spans" ->
      s"""WITH ${duckNgramCtes()},
        |dfp AS (SELECT sh AS shv, count(*) AS df FROM sh GROUP BY sh),
        |per AS (
        |  SELECT doc_id, count(*) AS n_shingles,
        |         CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_dup
        |  FROM sh JOIN dfp ON sh.sh = dfp.shv
        |  GROUP BY doc_id)
        |SELECT doc_id, n_shingles, n_dup,
        |       round(CAST(n_dup AS DOUBLE) / n_shingles, 4) AS dup_ratio,
        |       round(CAST(n_dup AS DOUBLE) / n_shingles, 4) >= 0.5
        |         AS flagged
        |FROM per ORDER BY doc_id""".stripMargin,
    // Transitive closure via a recursive CTE reproduces min-label
    // propagation's fixed point exactly: cluster = min reachable id.
    "dedup_cluster" ->
      s"""WITH RECURSIVE ${duckNgramCtes()},
        |pairs AS (SELECT d1, d2 FROM jac WHERE j >= 0.2),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        |SELECT src AS doc_id, min(dst) AS cluster, min(dst) = src AS keep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // Same deterministic URL synthesis from `documents`, then the same
    // canonicalization by regex: host = authority before /?#: (ports
    // excluded like parse_url HOST... the synthesized URLs carry none),
    // path = segment before ?#. Window-min replays `keep`. The
    // `unparsed:` fallback branch is replayed via the URI host
    // CONTRACT (r11): java.net.URI yields a NULL host when the
    // registered name strays outside the RFC 3986 unreserved set —
    // the oracle checks the regex-extracted host against
    // [A-Za-z0-9.-] and falls back to the raw URL exactly like the
    // operator (the %5==4 underscored-host fixture rows exercise it).
    "dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST(doc_id % 5 AS INT) = 4
        |         THEN 'https://img_' || source || '.example.com/'
        |              || lang || '/item-' || CAST(doc_id % 50 AS VARCHAR)
        |    ELSE CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN 'https://www.' || source || '.example.com/'
        |                  || lang || '/item-' || CAST(doc_id % 50 AS VARCHAR)
        |      WHEN 1 THEN 'https://' || source || '.example.com/'
        |                  || lang || '/item-' || CAST(doc_id % 50 AS VARCHAR) || '/'
        |      WHEN 2 THEN 'https://' || upper(source || '.example.com') || '/'
        |                  || lang || '/item-' || CAST(doc_id % 50 AS VARCHAR)
        |                  || '?utm_source=feed'
        |      ELSE 'https://' || source || '.example.com/'
        |           || lang || '/item-' || CAST(doc_id % 50 AS VARCHAR) || '#frag'
        |    END END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, url,
        |    CASE WHEN NOT regexp_matches(regexp_extract(url,
        |             'https?://([^/?#:]+)', 1), '^[A-Za-z0-9.-]+$')
        |         THEN 'unparsed:' || url
        |    ELSE regexp_replace(lower(regexp_extract(url,
        |        'https?://([^/?#:]+)', 1)), '^www\.', '')
        |      || regexp_replace(regexp_extract(url,
        |        'https?://[^/?#]+(/[^?#]*)', 1), '/$', '') END AS canonical
        |  FROM u)
        |SELECT doc_id, url, canonical,
        |       doc_id = min(doc_id) OVER (PARTITION BY canonical) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,

    // Same non-overlapping 16-token chunking as text_chunk's slicing
    // pattern (list slice is 1-based inclusive and clamps, matching
    // Spark's slice), same first-occurrence rule via ranked window,
    // ordered string_agg rebuild; all-dropped docs coalesce to ''
    // (Spark's empty-array join). coalesce(text, '') mirrors the
    // operator's NULL guard (r11 advice): unnest(generate_series(NULL))
    // would otherwise emit zero rows and the doc would vanish from the
    // oracle side only.
    "dedup_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(0, len(toks) - 1, 16)) AS start
        |  FROM t),
        |ch AS (
        |  SELECT doc_id, start // 16 AS chunk_id,
        |         array_to_string(toks[start + 1 : start + 16], ' ')
        |           AS chunk_text
        |  FROM c),
        |r AS (
        |  SELECT doc_id, chunk_id, chunk_text,
        |         row_number() OVER (PARTITION BY md5(chunk_text)
        |                            ORDER BY doc_id, chunk_id) = 1 AS keep
        |  FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_kept,
        |       coalesce(string_agg(CASE WHEN keep THEN chunk_text END, ' '
        |                           ORDER BY chunk_id), '') AS kept_text
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )

  /** Shared oracle CTE chain: `rel`(doc_id, text) → shingles (`sh`) →
    * pairwise Jaccard (`jac`), reused by dedup_ngram, text_dup_spans,
    * dedup_cluster, dedup_minhash, and (over its exact-dedup slice)
    * CorpusPipeline's corpus_curate — which is why the relation is a
    * parameter rather than a hard-coded `documents`.
    */
  private[graft] def duckNgramCtes(rel: String = "documents"): String =
    s"""t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM $rel WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |     for i in range(1, len(toks) - 1)])) AS sh
      |  FROM t),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT d1, d2,
      |    round(n_inter::DOUBLE / (x.n + y.n - n_inter), 4) AS j
      |  FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id)""".stripMargin

  /** Bit-for-bit replay of the portable minhash LSH banding over the
    * `sh` CTE of [[duckNgramCtes]] (the stream_neardup oracle's math):
    * 48-bit md5 prefix per shingle ('0x…'::BIGINT — HUGEINT rejects
    * the literal), 16 affine rows masked to 48 bits (products < 2⁶²,
    * exact BIGINT both engines), 8 band keys of 2 row-minima each;
    * `cand` holds the distinct candidate pairs sharing a band key.
    * Verified pairs = `cand` ∩ `jac` at the caller's threshold.
    */
  // lazy: referenced from the `oracle` map, which this object
  // initializes BEFORE reaching this declaration — a strict val would
  // interpolate as null there.
  private[graft] lazy val duckMinhashCandCtes: String =
    """h AS (SELECT doc_id,
      |        ('0x' || substring(md5(sh), 1, 12))::BIGINT AS u48
      |      FROM sh),
      |p AS (SELECT unnest(range(16)) AS i),
      |m AS (SELECT doc_id, i,
      |        min(((2 * i + 3) * u48 + 1000003 * i)
      |            & 281474976710655) AS m
      |      FROM h CROSS JOIN p GROUP BY doc_id, i),
      |bk AS (SELECT doc_id,
      |         CAST(i // 2 AS VARCHAR) || ':' ||
      |           string_agg(CAST(m AS VARCHAR), ':' ORDER BY i) AS bkey
      |       FROM m GROUP BY doc_id, i // 2),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |         FROM bk a JOIN bk b ON a.bkey = b.bkey
      |           AND a.doc_id < b.doc_id)""".stripMargin
}
