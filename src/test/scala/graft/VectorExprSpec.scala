package graft

import org.apache.spark.sql.functions._

/** Native DotProduct expression: bit-identical to the higher-order
  * formulation, null-element handling, and actually codegen'd.
  */
class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  private def hoDot = (a: String, b: String) =>
    aggregate(zip_with(col(a), col(b), (x, y) => x.cast("double") * y),
      lit(0.0), (acc, v) => acc + v)

  test("graft_dot ≡ higher-order aggregate(zip_with) bit-for-bit") {
    val emb = T.embeddings(spark, sf)
    val paired = emb.select(col("vec_id").as("v1"), col("embedding").as("e1"))
      .crossJoin(emb.select(col("vec_id").as("v2"), col("embedding").as("e2")))
      .filter(col("v1") < col("v2")).limit(500)
    val diff = paired
      .withColumn("a", call_function("graft_dot", col("e1"), col("e2")))
      .withColumn("b", hoDot("e1", "e2"))
      .filter(col("a") =!= col("b")) // exact double comparison
      .count()
    assert(diff == 0)
  }

  test("a new session has all 12 native functions before any query builder runs") {
    val fresh = spark.newSession()
    val registered = fresh.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    val natives = Seq("graft_dot", "graft_minhash", "graft_shingles", "graft_nfc",
      "graft_bpe", "graft_minhash48", "graft_sum128", "graft_pairs",
      "graft_variant_gets", "graft_json_valid", "graft_char_ngrams",
      "graft_adjacent_pairs")
    assert(natives.filterNot(registered).isEmpty)
    val dot = fresh.range(1)
      .select(call_function("graft_dot", array(lit(1f), lit(2f)), array(lit(3f), lit(4f))))
      .collect()(0).getDouble(0)
    assert(dot == 1.0 * 3 + 2.0 * 4)
    val valid = fresh.sql("""SELECT graft_json_valid('{"a": 1}'), graft_json_valid('{"a":')""")
      .collect()(0)
    assert(valid.getBoolean(0) && !valid.getBoolean(1), valid)
  }

  test("null elements contribute zero") {
    val df = Seq((Seq[java.lang.Float](1f, null, 3f), Seq[java.lang.Float](2f, 5f, 4f)))
      .toDF("a", "b")
    val got = df.select(call_function("graft_dot", col("a"), col("b")))
      .collect()(0).getDouble(0)
    assert(got == 1.0 * 2 + 3.0 * 4)
  }

  test("null array input yields null, and codegen path is exercised") {
    val df = Seq((Option.empty[Seq[Float]], Some(Seq(1f, 2f)))).toDF("a", "b")
    val row = df.select(call_function("graft_dot", col("a"), col("b"))).collect()(0)
    assert(row.isNullAt(0))
    // whole-stage codegen must not fall back for a simple projection —
    // the `*(n)` prefix marks a WholeStageCodegen span in simpleString
    val plan = T.embeddings(spark, sf)
      .select(call_function("graft_dot", col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_dot"), plan)
  }

  test("graft_shingles: one-pass shingles equal the column-math form, stay codegen'd") {
    // equivalence oracle: the old interpreted formulation, element for
    // element (split semantics incl. repeated/trailing spaces, distinct
    // keeps FIRST occurrence, <3 tokens -> empty)
    val texts = Seq("a b c d e", "a b c a b c a b", "x  y z ", "one two",
      "", "a a a a")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val legacy = df.select(col("doc_id"),
      when(size(toks) >= 3, array_distinct(
        transform(sequence(lit(0), size(toks) - 3), i =>
          concat_ws(" ", element_at(toks, i + 1),
            element_at(toks, i + 2), element_at(toks, i + 3)))))
        .otherwise(array().cast("array<string>")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = df.select(col("doc_id"),
      call_function("graft_shingles", col("text"), lit(3)).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    texts.indices.foreach(i =>
      assert(native(i.toLong) == legacy(i.toLong),
        s"doc $i ('${texts(i)}'): ${native(i.toLong)} vs ${legacy(i.toLong)}"))
    // driver-side helper agrees too
    assert(graft.functions.Shingles.shinglesOf("a b c d e", 3) ==
      Seq("a b c", "b c d", "c d e"))
    // stays inside whole-stage codegen over a parquet scan
    val plan = T.documents(spark, sf)
      .select(call_function("graft_shingles", col("text"), lit(3)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_shingles"), plan)
  }

  test("graft_minhash: one-pass signature matches per-seed reference, stays codegen'd") {
    val docs = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("a b c", "b c d", "c d e")),          // identical set
      (3L, Seq("x y z")),
      (4L, Seq.empty[String])).toDF("doc_id", "shingles")
    val got = docs
      .select(col("doc_id"), call_function("graft_minhash",
        col("shingles"), lit(16)).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // expression output == the driver-side reference helper, per doc
    assert(got(1L) == graft.functions.MinhashSig
      .signatureOf(Seq("a b c", "b c d", "c d e"), 16))
    assert(got(3L) == graft.functions.MinhashSig.signatureOf(Seq("x y z"), 16))
    // MinHash contract: identical sets → identical signatures;
    // disjoint sets → (overwhelmingly) different signatures
    assert(got(1L) == got(2L))
    assert(got(1L) != got(3L))
    // empty set → all-MaxValue sentinel minima, length k
    assert(got(4L).forall(_ == Long.MaxValue) && got(4L).size == 16)
    // the projection must stay inside whole-stage codegen (over a
    // parquet scan — a local relation would fold to LocalTableScan)
    val plan = T.documents(spark, sf)
      .select(call_function("graft_minhash",
        split(col("text"), " "), lit(16)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_minhash"), plan)
  }

  test("graft_nfc: composes decomposed sequences, identity on normal text, codegen'd") {
    // e + U+0301 → é; I + U+0308 → Ï; ASCII unchanged; empty ok;
    // null passes through (UnaryExpression null-safe path)
    val df = Seq(
      (1L, Some("Café")), (2L, Some("NAÏVE")),
      (3L, Some("plain ascii")), (4L, Some("")), (5L, None))
      .toDF("id", "t")
    val got = df.select(col("id"), call_function("graft_nfc", col("t")))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got == Map(1L -> "Café", 2L -> "NAÏVE",
      3L -> "plain ascii", 4L -> "", 5L -> null), got.toString)
    // already-NFC strings take the allocation-free fast path and
    // compare reference-equal through compute()
    val s = org.apache.spark.unsafe.types.UTF8String.fromString("abc")
    assert(graft.functions.NfcNormalize.compute(s) eq s)
    // stays inside whole-stage codegen over a parquet scan
    val plan = T.documents(spark, sf)
      .select(call_function("graft_nfc", col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_nfc"), plan)
  }

  test("graft_pairs ≡ the interpreted flatten/transform/slice lambda, " +
    "pair-for-pair") {
    // Real baskets (the supportEdges input shape) plus the edge sizes:
    // empty, singleton, and a pair. Order must match the lambda's
    // (i < j lexicographic) exactly — consumers groupBy afterwards,
    // but the contract is the stronger one.
    val baskets = T.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .unionByName(Seq(
        (-1L, Seq.empty[Long]), (-2L, Seq(7L)), (-3L, Seq(3L, 9L)))
        .toDF("l_orderkey", "ps"))
    val lambda = expr("flatten(transform(ps, (x, i) -> " +
      "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))")
    val diff = baskets
      .select(col("ps"), call_function("graft_pairs", col("ps")).as("a"),
        lambda.as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff == 0)
  }

  test("graft_pairs over STRUCT arrays ≡ the interpreted lambda, " +
    "pair-for-pair (the r19 grouped-posting candidate shape)") {
    // The grouped-posting form every dedup candidate stage now rides:
    // collect_list of (doc_id, n)-style structs per blocking key,
    // sorted, expanded to C(k, 2) pairs. Same lambda reference as the
    // long case; edge sizes (empty, singleton, pair) included.
    val groups = T.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(
        struct(col("l_partkey").as("doc_id"),
          (col("l_partkey") % 7).as("n")))).as("ds"))
      .unionByName(Seq(
        (-1L, Seq.empty[(Long, Long)]), (-2L, Seq((7L, 0L))),
        (-3L, Seq((3L, 1L), (9L, 2L))))
        .toDF("l_orderkey", "raw")
        .select(col("l_orderkey"), expr(
          "transform(raw, x -> struct(x._1 AS doc_id, x._2 AS n))").as("ds")))
    val lambda = expr("flatten(transform(ds, (x, i) -> " +
      "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS u, y AS v))))")
    val diff = groups
      .select(call_function("graft_pairs", col("ds")).as("a"), lambda.as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff == 0)
  }

  test("graft_char_ngrams ≡ array_distinct(transform(substring)) — the " +
    "interpreted trigram form — element-for-element, incl. multi-byte") {
    val docs = T.documents(spark, sf)
      .select(col("text"))
      .unionByName(Seq("", "ab", "abc", "语言模型测试", "aaaa a",
        "ababab").toDF("text"))
    // The lambda reference is only DEFINED for length >= 3 — exactly
    // the production precondition (both trigrams consumers filter
    // length(text) >= 3). sequence(1, len-2) DESCENDS for shorter
    // strings and emits junk partial grams; the native expression
    // returns [] there, asserted separately below.
    val lambda = expr("if(length(text) >= 3, " +
      "array_distinct(transform(sequence(1, length(text) - 2), " +
      "i -> substring(text, i, 3))), " +
      "cast(array() as array<string>))")
    val diff = docs
      .select(call_function("graft_char_ngrams", col("text"), lit(3)).as("a"),
        lambda.as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff == 0)
    assert(graft.functions.CharNgrams.ngramsOf("", 3).isEmpty)
    assert(graft.functions.CharNgrams.ngramsOf("ab", 3).isEmpty)
  }

  test("graft_adjacent_pairs ≡ the zip_with(slice, slice) lambda, " +
    "pair-for-pair") {
    val toks = T.documents(spark, sf)
      .select(split(col("text"), " ").as("ts"))
      .unionByName(Seq(Seq.empty[String], Seq("x"), Seq("x", "y"))
        .toDF("ts"))
    // The lambda reference is only DEFINED for size >= 2 — exactly the
    // production precondition (both call sites filter size(ts) >= 2;
    // slice with length -1 THROWS on shorter arrays). The native
    // expression returns [] there, asserted via the guarded branch.
    val lambda = expr("if(size(ts) >= 2, " +
      "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1), " +
      "(x, y) -> struct(x AS a, y AS b)), " +
      "cast(array() as array<struct<a:string,b:string>>))")
    val diff = toks
      .select(call_function("graft_adjacent_pairs", col("ts")).as("a"),
        lambda.as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff == 0)
  }

  test("every native expression's generated stage COMPILES (fallback=false)") {
    // The r11 graft_bpe lesson, applied to the whole family: a janino
    // failure silently drops the stage to interpreted eval, plan
    // strings still advertise codegen, and local-relation tests fold
    // to pre-evaluated LocalTableScans — so only a forced evaluation
    // over a real scan with fallback=false actually proves the
    // generated code compiles.
    val prevFb = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = T.documents(spark, sf)
      val n = docs
        .select(
          call_function("graft_shingles", col("text"), lit(3)).as("sh"),
          call_function("graft_nfc", col("text")).as("nf"))
        .select(
          call_function("graft_minhash", col("sh"), lit(16)).as("mh"),
          call_function("graft_minhash48", col("sh"), lit(16)).as("mh48"),
          length(col("nf")).as("ln"))
        .filter(size(col("mh")) === 16 && size(col("mh48")) === 16 &&
          col("ln") >= 0)
        .count()
      assert(n > 0)
      val embs = T.embeddings(spark, sf)
      val d = embs.select(call_function("graft_dot",
          col("embedding"), col("embedding")).as("d"))
        .agg(sum(col("d"))).collect().head.getDouble(0)
      assert(d > 0)
      // graft_sum128's update/merge/evaluate expressions all ride the
      // same forced-codegen gate (HashAggregateExec stages).
      val s = docs.select(col("n_chars"))
        .agg(call_function("graft_sum128", col("n_chars")).as("s"))
        .collect().head.getDecimal(0)
      assert(s.signum() > 0)
      // graft_pairs: forced through a real scan + explode + agg.
      val np = T.lineitem(spark, sf)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(call_function("graft_pairs", col("ps"))).as("pr"))
        .filter(col("pr.u") < col("pr.v"))
        .count()
      assert(np > 0)
      // graft_char_ngrams + graft_adjacent_pairs (r19): forced-codegen
      // gate over a real scan, results referenced so nothing prunes.
      val ntx = T.documents(spark, sf)
        .select(
          call_function("graft_char_ngrams", col("text"), lit(3)).as("g3"),
          call_function("graft_adjacent_pairs",
            split(col("text"), " ")).as("ap"))
        .filter(size(col("g3")) >= 0 && size(col("ap")) >= 0)
        .count()
      assert(ntx > 0)
      // graft_pairs over struct arrays (r19): same forced-codegen gate
      // for the generated computeStructs call.
      val nps = T.lineitem(spark, sf)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(struct(col("l_partkey").as("d"),
          lit(1L).as("n")))).as("ds"))
        .select(explode(call_function("graft_pairs", col("ds"))).as("pr"))
        .filter(col("pr.u.d") < col("pr.v.d"))
        .count()
      assert(nps > 0)
      // graft_variant_gets + graft_json_valid (r15): the single-parse
      // battery over a real events scan, results referenced by a
      // filter so the projection can't be pruned away.
      val nv = T.events(spark, sf)
        .select(call_function("graft_variant_gets", col("props"),
            lit("k:bigint:k_num"), lit("k:string:k_str"),
            lit("missing:bigint:m")).as("vg"),
          call_function("graft_json_valid", col("props")).as("jv"))
        .filter(col("vg.k_num") >= 0 &&
          col("vg.k_str").isNotNull && col("vg.m").isNull && col("jv"))
        .count()
      assert(nv > 0)
    } finally prevFb match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("graft_minhash48 ≡ the interpreted md5-prefix column-math, bit for bit") {
    // The portable battery MUST stay bit-identical to the
    // conv(substring(md5(s),1,12),16,10) + affine array_min
    // formulation it replaced — that math is what stream_neardup's
    // DuckDB oracle replays, so any divergence here is a silent
    // cross-engine break the hash compare would catch a round later.
    val mask = lit((1L << 48) - 1)
    val docs = T.documents(spark, sf).limit(50)
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("sh", call_function("graft_shingles", col("text"), lit(3)))
    val legacyCols = (0 until 16).map { i =>
      array_min(transform(
        transform(col("sh"), s =>
          conv(substring(md5(s), 1, 12), 16, 10).cast("long")),
        u => (u * lit(2L * i + 3) + lit(1000003L * i)).bitwiseAND(mask)))
        .as(s"m$i")
    }
    val rows = docs.select(
      (col("doc_id") +:
        call_function("graft_minhash48", col("sh"), lit(16)).as("mh") +:
        legacyCols): _*)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val native = r.getSeq[Long](1)
      val legacy = (0 until 16).map(i => r.getLong(2 + i))
      assert(native == legacy, s"doc ${r.getLong(0)}: $native vs $legacy")
    }
    // driver-side helper agrees with a hand value: md5("a b c") prefix
    assert(graft.functions.Minhash48.signatureOf(Seq("a b c"), 1) ==
      Seq(java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest("a b c".getBytes("UTF-8")).take(6)
          .map(b => f"$b%02x").mkString, 16) * 3 & ((1L << 48) - 1)))
  }

  test("graft_bpe: sequential lowest-rank/leftmost merges, codegen'd") {
    // (t,h) < (h,e): "the" merges t+h first, so (h,e) never applies;
    // (a,a) then (aa,a) chains: "aaaaa" -> aa, then [aa,a,a,a] has
    // (a,a) at pos 1 (rank 3 < rank 4 of (aa,a)) -> [aa,aa,a], then
    // only (aa,a) applies at the LEFT pair -> [aa,aaa]. Empty words
    // (double space) must survive as '' between single spaces.
    val merges = Seq("t h", "h e", "a a", "aa a")
    val texts = Seq("the ththe aaaaa", "a  het", "xyz theaaa", "")
    val expect = Seq("th.e th.th.e aa.aaa", "a  he.t", "x.y.z th.e.aaa", "")
    val nSub = Seq(7L, 3L, 6L, 0L)
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        call_function("graft_bpe", col("text"), lit(merges.toArray)).as("r"))
      .select(col("doc_id"), col("r.encoded"), col("r.n_subwords"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    texts.indices.foreach(i =>
      assert(got(i.toLong) == ((expect(i), nSub(i))),
        s"'${texts(i)}': ${got(i.toLong)}"))
    // driver-side helper agrees
    assert(graft.functions.BpeEncode.encodeOf("the aaaaa",
      Seq(("t", "h"), ("h", "e"), ("a", "a"), ("aa", "a"))) ==
      "th.e aa.aaa")
    // no merges -> every code point its own subword
    assert(graft.functions.BpeEncode.encodeOf("dog", Seq.empty) == "d.o.g")
    // n_subwords counts symbols, not separator chars: input text
    // containing '.' must not inflate it ('a.b' -> 3 subwords whose
    // join 'a...b' has 3 dots)
    assert(graft.functions.BpeEncode.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("a.b"),
      Array.empty).getLong(1) == 3L)
    // stays inside whole-stage codegen over a parquet scan — and the
    // generated code must actually COMPILE: fallback=false makes a
    // janino failure throw instead of silently dropping the stage to
    // interpreted eval (the r11 addReferenceObj getName bug, which
    // the plan-string assertion alone cannot catch)
    val prevFb = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = T.documents(spark, sf)
        .select(call_function("graft_bpe", col("text"),
          lit(Array("t h"))).as("r"))
      assert(df.queryExecution.executedPlan.toString
        .contains("*(1) Project [graft_bpe"), df.queryExecution.toString)
      // force the expression through the compiled stage: a bare
      // count() would let the optimizer PRUNE the graft_bpe
      // projection (the noop-sink lesson) and compile a stage that
      // never contains it — vacuously green
      assert(df.select(sum(length(col("r.encoded")))).collect()
        .head.getLong(0) > 0)
    } finally prevFb match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }
}
