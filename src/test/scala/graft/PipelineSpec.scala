package graft

import graft.plans.CubePipeline
import graft.sources.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The reference's whole ETL composed end-to-end on the golden fixture:
  * GENESIS cube flat file → distributed parse → nested fact documents →
  * partitioned JSON export → read-back (SURVEY.md §1.1: cube → facts →
  * index). Each stage is an operator tested elsewhere; this asserts the
  * composition.
  */
class PipelineSpec extends SparkSpec {

  test("LLM corpus pipeline composes: curate → scrub → sample → pack") {
    import graft.llm.CorpusPipeline
    import spark.implicits._
    // real corpus + one planted PII doc so every stage has work to do
    val docs = T.documents(spark, sf).select("doc_id", "text", "lang")
      .unionByName(Seq(
        (100001L, "contact bob@example.com or visit https://x.example/data now", "en"))
        .toDF("doc_id", "text", "lang"))
    val curated = CorpusPipeline.curate(docs, minQuality = 1.0,
      nearDupJaccard = 0.35)
    assert(curated.filter(col("quality") < 1.0).count() == 0)
    assert(curated.select(md5(lower(trim(col("text"))))).distinct().count()
      == curated.count(), "curated corpus must be exact-dup free")
    val scrubbed = CorpusPipeline.scrub(curated, "text")
    assert(scrubbed.filter(col("pii_found")).count() >= 1)
    assert(scrubbed.filter(col("text").contains("@") ||
      col("text").contains("https://")).count() == 0, "PII must be redacted")
    val sampled = CorpusPipeline.stratifiedSample(scrubbed, "lang", "doc_id",
      Map("en" -> 1.0, "de" -> 0.5), seed = 7)
    val scrubbedEn = scrubbed.filter(col("lang") === "en").count()
    assert(sampled.filter(col("lang") === "en").count() == scrubbedEn,
      "fraction 1.0 keeps every row of its stratum")
    assert(sampled.filter(!col("lang").isin("en", "de")).count() == 0,
      "strata absent from the mix drop entirely")
    val packed = CorpusPipeline.packSequences(sampled, maxTokens = 64, nShards = 4)
    val packedIds = packed.select(explode(col("doc_ids")).as("doc_id"))
    assert(packedIds.count() == sampled.count() &&
      packedIds.distinct().count() == sampled.count(),
      "every sampled doc lands in exactly one sequence")
    val maxDoc = sampled.select(max(size(split(col("text"), " ")))).collect()(0).getInt(0)
    assert(packed.filter(col("n_tokens") > 64 + maxDoc).count() == 0,
      "bins bounded by budget + one document")
  }

  test("corpus_mix: selection replays exactly, binding stratum keeps all rows") {
    import graft.llm.CorpusPipeline
    val weights = Map("en" -> 50L, "de" -> 20L, "fr" -> 15L, "es" -> 10L,
      "zh" -> 5L)
    val docs = T.documents(spark, sf)
    val out = CorpusPipeline.corpusMix(docs, "lang", "doc_id", weights, 42L)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // Independent driver-side replay of the whole derivation — counts,
    // achievable total, thresholds, md5 selection — over the full
    // 500-doc fixture: the operator's selection must match EXACTLY,
    // not just in aggregate.
    val all = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val counts = all.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val wsum = weights.values.sum
    val n = weights.collect { case (k, w) if counts.contains(k) =>
      BigInt(counts(k)) * wsum / w }.min
    val two60 = BigInt(1) << 60
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = all.filter { case (id, lang) =>
      weights.get(lang).exists { w =>
        val t = (BigInt(w) * n * two60) / (BigInt(wsum) * counts(lang))
        ("0" + md5hex(s"$id:42").take(15)) < f"${t.toLong}%016x"
      }
    }
    assert(out.toSet == expected.toSet,
      s"selection drifted: ${out.length} vs ${expected.length} rows")
    // The binding stratum (the one that fixes N) has rate exactly 1.0
    // — every one of its rows must survive, hitting the 2^60 sentinel
    // threshold path.
    val binding = weights.keys.filter(counts.contains)
      .minBy(k => BigInt(counts(k)) * wsum / weights(k))
    assert(out.count(_._2 == binding) == counts(binding),
      s"binding stratum $binding must keep all ${counts(binding)} rows")
    // And at least one stratum is genuinely thinned (non-degenerate).
    assert(out.length < all.count(p => weights.contains(p._2)),
      "mix must downsample at least one stratum")
  }

  test("curate maxBandDf valve: generous cap keeps drop decisions identical") {
    import graft.llm.CorpusPipeline
    // A cap above every real band bucket's occupancy must not change
    // which documents survive — the valve only sheds work when a
    // bucket actually overflows it. (The web-scale setting WOULD
    // shed boilerplate mega-buckets; parity at a generous cap is what
    // makes the parameter safe to turn on by default in a pipeline.)
    val docs = T.documents(spark, sf).select("doc_id", "text", "lang")
    val uncapped = CorpusPipeline.curate(docs, minQuality = 1.0,
      nearDupJaccard = 0.35).select("doc_id")
    val capped = CorpusPipeline.curate(docs, minQuality = 1.0,
      nearDupJaccard = 0.35, maxBandDf = Some(1000000)).select("doc_id")
    assert(uncapped.except(capped).count() == 0 &&
      capped.except(uncapped).count() == 0,
      "generous band-df cap changed curation survivors")
  }

  test("cube file parses, nests to fact docs, exports, and reads back") {
    val fixture = getClass.getResource("/cube_12411_mini.csv").getPath
    val out = Files.createTempDirectory("pipeline").resolve("facts").toString

    val parsed = CubePipeline.parseAll(spark, Seq(fixture -> "12411_mini"))
    // Fact doc per (region, time, sex-dim): measures as a sorted map of
    // {value, quality} — the reference's nested fact shape.
    val facts = parsed
      .groupBy(col("cube"), col("region"), col("time"),
        col("dims")("GES").as("dim_GES"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("measure"), struct(col("value"), col("quality"))))))
        .as("measures"))
      .select(col("cube"), col("region"), col("time"),
        to_json(struct(col("region"), col("time").as("year"),
          col("dim_GES").as("GES"), col("measures"))).as("doc"))

    Sinks.writeJsonDocs(facts, out, Seq("cube"))
    val back = spark.read.json(out)
    assert(back.count() == 6) // 2 regions × 2 sexes × varying years

    val doc = back
      .filter(col("doc").contains("\"region\":\"02\"") &&
              col("doc").contains("\"year\":2019") &&
              col("doc").contains("\"GES\":\"GESM\""))
      .collect()
    assert(doc.length == 1, back.select("doc").collect().mkString("\n"))
    // FIXTURES.md §B golden value for (02, 2019, GESM). The declared-
    // scale DECIMAL(18,0) renders integers WITHOUT a trailing .0 —
    // exactly the golden doc shape in FIXTURES.md §B, which the old
    // all-double parse could not produce.
    assert(doc(0).getAs[String]("doc")
      .contains("\"BEVSTD\":{\"value\":934846,\"quality\":\"e\"}"),
      doc(0).getAs[String]("doc"))
  }
}
