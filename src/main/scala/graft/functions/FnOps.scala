package graft.functions

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.8 Scalar function families — one query per family, each touching
  * 5+ functions. Reference analogue: code/name cleanup, cube time-axis
  * handling, unit scaling [R: genesapi/util.py — UNVERIFIED]. All are
  * codegen'd Column expressions (no UDFs) so they stay inside
  * WholeStageCodegen and push down where applicable.
  *
  * Dialect notes baked into the oracles (measured against DuckDB):
  *   - DuckDB dayofweek() is 0-based Sunday; Spark is 1-based → +1.
  *   - DuckDB CAST(double AS INT) rounds; Spark truncates → explicit
  *     floor() on both sides.
  *   - DuckDB to_json(struct_pack(...)) emits the same compact
  *     `{"k":v}` form as Spark's to_json(struct(...)).
  *   - IEEE sqrt is correctly rounded everywhere; pow/ln are not →
  *     round transcendental outputs (§7.5).
  */
object FnOps {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "fn_string" -> ((s, d) =>
      T.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_type")).as("lo"),
          substring(col("p_name"), 1, 4).as("sub"),
          lpad(trim(col("p_brand")), 10, "0").as("pad"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cw"),
          regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
          regexp_replace(col("p_name"), " ", "_").as("rep"),
          length(col("p_name")).cast("long").as("len"))
        .orderBy("p_partkey")),

    "fn_date" -> ((s, d) =>
      T.orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          T.dstr(date_trunc("month", col("o_orderdate"))).as("month_start"),
          datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("days_since"),
          date_add(to_date(col("o_orderdate")), 7).cast("string").as("plus7"),
          last_day(col("o_orderdate")).cast("string").as("month_end"),
          unix_timestamp(col("o_orderdate")).as("uts"))
        .orderBy("o_orderkey")),

    "fn_math" -> ((s, d) =>
      T.part(s, d)
        .select(col("p_partkey"),
          round(col("p_retailprice"), 1).as("r1"),
          floor(col("p_retailprice")).as("fl"),
          ceil(col("p_retailprice")).as("ce"),
          abs(col("p_retailprice") - 950).as("ab"),
          pow(col("p_size"), 2).cast("long").as("pw"),
          round(sqrt(col("p_retailprice")), 6).as("sq"),
          round(log(col("p_retailprice")), 6).as("lg"),
          (col("p_partkey") % 7).as("md"),
          signum(col("p_retailprice") - 950.0).cast("int").as("sg"))
        .orderBy("p_partkey")),

    "fn_cond" -> ((s, d) =>
      T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_discount") < 0.02, "low")
            .when(col("l_discount") < 0.05, "mid")
            .otherwise("high").as("disc_bucket"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("rf"),
          least(col("l_tax"), col("l_discount")).as("lo"),
          greatest(col("l_tax"), col("l_discount")).as("hi"))
        .orderBy("l_orderkey", "l_linenumber", "disc_bucket", "rf", "lo", "hi")),

    // Array family incl. higher-order transform+aggregate; scalars only
    // in the final projection (comparator can't hash arrays).
    "fn_array" -> ((s, d) => {
      val toks = split(col("text"), " ")
      T.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_toks"),
          size(array_distinct(toks)).cast("long").as("n_uniq"),
          array_contains(toks, "the").as("has_the"),
          array_join(slice(array_sort(array_distinct(toks)), 1, 3), ",")
            .as("first3"),
          aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
            .cast("long").as("total_chars"))
        .orderBy("doc_id")
    }),

    // Map family — map lives only mid-plan; the final projection is all
    // scalars, so the per-type pivot CTE oracle below checks it.
    "fn_map" -> ((s, d) => {
      val perType = T.events(s, d).groupBy("user_id", "event_type").count()
      perType.groupBy("user_id")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("event_type"), col("count")))))
          .as("m"))
        .select(col("user_id"),
          element_at(col("m"), "click").as("n_click"),
          element_at(col("m"), "error").as("n_error"),
          size(map_keys(col("m"))).cast("long").as("n_types"),
          aggregate(map_values(col("m")), lit(0L), (a, x) => a + x).as("total"),
          element_at(str_to_map(lit("a:1,b:2"), lit(","), lit(":")), "b").as("s2m"))
        .orderBy("user_id")
    }),

    "fn_json" -> ((s, d) =>
      T.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          from_json(col("props"), lit("k INT")).getField("k").as("k_int"),
          to_json(struct(col("event_id"), col("event_type"))).as("js"))
        .orderBy("event_id")),

    // VARIANT semantics over the FULL table via the single-parse
    // native battery (r15 — closes r14's cost note): Spark 4.1.2's
    // parse_json/variant_get are codegen-fallback, so each projected
    // get re-parsed the text (~0.6 s per full-pass parse at sf0.1 ×
    // 4 calls — the r14 key had to hide behind a pushdown-pruned
    // 'error' slice). graft_variant_gets ([[VariantGets]], the
    // PairsOf/Shingles native-Expression recipe) is ONE streaming
    // Jackson pass per row emitting every requested typed get, and
    // graft_json_valid replaces the try_parse_json validity probe —
    // both codegen'd, so the key now affords the UNSLICED table.
    // Typed-get semantics parity with the variant battery (bigint +
    // string casts of the same field, missing path → NULL, malformed
    // → NULL flag) is pinned row-for-row in OperatorSemanticsSpec
    // against variant_get/parse_json on the 'error' slice; the
    // schema_of_variant constancy pin lives there too. Oracle:
    // DuckDB's JSON type replays json_extract/json_valid over the
    // same rows.
    "fn_variant" -> ((s, d) => {
      s.sql(
        s"""SELECT event_id,
           |  vg.k_num, vg.k_str, vg.missing_num,
           |  (NOT graft_json_valid(concat('{', props))) AS malformed_null
           |FROM (
           |  SELECT event_id, props,
           |    graft_variant_gets(props, 'k:bigint:k_num',
           |      'k:string:k_str', 'missing:bigint:missing_num') AS vg
           |  FROM parquet.`$d/events.parquet`)
           |ORDER BY event_id""".stripMargin)
    }),

    // String collations (Spark 4, r17): UTF8_LCASE equality makes the
    // GROUP BY key case-insensitive WITHOUT rewriting the data —
    // collation is comparator metadata on the type, so the hash
    // aggregate and any join on the collated key use case-folded
    // hashing/equality natively (the engine-level answer to the
    // lower()-wrapper idiom; at 100 TB it also keeps partition
    // pruning/statistics on the ORIGINAL strings). The fixture plants
    // a Title-cased twin of every (UPPER) p_type; each ci-group must
    // collapse the two binary forms. Deterministic readout: lower(min)
    // representative + binary-distinct case-form count — DuckDB
    // replays with a lower() group key over the identical union.
    "fn_collate" -> ((s, d) => s.sql(
      s"""WITH v AS (
         |  SELECT p_type AS t FROM parquet.`$d/part.parquet`
         |  UNION ALL
         |  SELECT concat(upper(substring(p_type, 1, 1)),
         |                lower(substring(p_type, 2))) AS t
         |  FROM parquet.`$d/part.parquet`
         |)
         |SELECT lower(min(t)) AS type_lc,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(COUNT(DISTINCT t) AS BIGINT) AS n_case_forms
         |FROM v GROUP BY t COLLATE UTF8_LCASE
         |ORDER BY type_lc""".stripMargin)),

    // Bitwise family: scalar shifts/masks/popcount + the bit-aggregate
    // trio — the ops sketch pipelines live on (simhash packs votes and
    // bands with exactly these; fingerprint intersections use the
    // aggregates). All codegen'd built-ins in both engines.
    "fn_bitwise" -> ((s, d) =>
      T.events(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          bit_and(col("user_id")).as("band"),
          bit_or(col("user_id")).as("bor"),
          bit_xor(col("user_id")).as("bxor"),
          sum(bit_count(col("event_id"))).as("popcnt"),
          max(shiftleft(col("user_id"), 3)).as("max_shl"),
          min(shiftright(col("user_id"), 2)).as("min_shr"),
          max(col("user_id").bitwiseAND(lit(0xFFL))).as("max_low8"))
        .orderBy("event_type")),

    "fn_cast" -> ((s, d) =>
      T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).cast("int").as("qty_int"),
          col("l_extendedprice").cast("decimal(12,2)").cast("string").as("price_str"),
          col("l_orderkey").cast("double").as("key_dbl"),
          concat(col("l_linenumber").cast("string"), lit("-"), col("l_returnflag"))
            .as("ln_flag"),
          col("l_shipdate").cast("date").cast("string").as("ship_str"))
        .orderBy("l_orderkey", "l_linenumber")), // unique key — extra sort cols were dead bytes

    // Struct family (r9): build, access nested fields, and ORDER —
    // struct comparison is lexicographic in both engines, which makes
    // min(struct(a, b)) the codegen-friendly two-level argmin (the
    // agg_minmax_by key does one level via max_by; the struct form
    // composes to any depth and carries the full tuple out in one
    // aggregate). Struct stays INTERNAL: fields are unpacked in the
    // final projection (the house no-STRUCT-finals rule).
    "fn_struct" -> ((s, d) => {
      val pk = struct(col("o_totalprice").as("p"), col("o_orderkey").as("k"))
      T.orders(s, d)
        .select(col("o_custkey"),
          pk.as("s"),
          struct(col("o_orderstatus").as("st"),
            struct(col("o_orderpriority").as("prio"),
              col("o_orderkey").as("key")).as("inner")).as("n"))
        .groupBy("o_custkey")
        .agg(
          min(col("s")).as("mn"),
          max(col("s")).as("mx"),
          min(col("n.inner.key")).as("min_key"),
          count(lit(1)).as("n_orders"))
        .select(col("o_custkey"),
          col("mn.p").as("min_price"), col("mn.k").as("min_price_key"),
          col("mx.p").as("max_price"), col("mx.k").as("max_price_key"),
          col("min_key"), col("n_orders"))
        .orderBy("o_custkey")
    }),

    // URL family (r9): extract → parse host/path/query-param →
    // canonicalize, over the planted-URL jsonl fixture — the
    // URL-grounded curation surface (domain blocklists, per-site
    // quality priors, URL-canonical dedup keys) every web-corpus
    // pipeline needs before content work. parse_url is codegen'd
    // column work; the oracle replays it with anchored regexes (same
    // answers on well-formed http(s) URLs — the fixture's population).
    "fn_url" -> ((s, _) => {
      val path = graft.operators.ScanOps.ensureJsonl()
      s.read.schema("doc_id LONG, text STRING, source STRING").json(path)
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(text, 'https?://\\\\S+', 0)"))
            .as("url"))
        .select(col("doc_id"), col("url"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("id")).as("qid"),
          concat(lower(parse_url(col("url"), lit("HOST"))),
            parse_url(col("url"), lit("PATH"))).as("canonical"))
        .orderBy("doc_id", "url")
    }),

    // IP family (r15): parse dotted-quad strings back to octets,
    // classify RFC1918 private ranges, roll events up per /24 — the
    // access-log triage every crawl/ingest pipeline runs (who hit us,
    // from which networks, internal vs external). IPs are SYNTHESIZED
    // deterministically from user_id (the dedup_url precedent — the
    // fixture carries no ip column): five populations covering all
    // three private ranges (10/8, 192.168/16, 172.16/12) plus two
    // public ones, so both classifier branches and the rollup are
    // exercised and the oracle rebuilds identical strings. Parsing is
    // split + element-cast, classification pure integer predicates —
    // all codegen'd, no UDF; the /24 group count is bounded by the
    // synthetic address space, never event-sized.
    "fn_ip" -> ((s, d) => {
      // `div` (not /): Spark's Column./ is DOUBLE division; DuckDB
      // replays with // — equal on non-negative ids.
      val ip = expr(
        """CASE CAST(user_id % 5 AS INT)
          |  WHEN 0 THEN concat('10.', user_id % 223, '.',
          |                     (user_id div 7) % 256, '.',
          |                     (user_id div 3) % 256)
          |  WHEN 1 THEN concat('192.168.', (user_id div 11) % 256, '.',
          |                     user_id % 256)
          |  WHEN 2 THEN concat('172.', 16 + user_id % 16, '.',
          |                     (user_id div 5) % 256, '.', user_id % 256)
          |  WHEN 3 THEN concat('8.8.', (user_id div 13) % 256, '.',
          |                     user_id % 256)
          |  ELSE concat('203.0.113.', user_id % 256)
          |END""".stripMargin)
      val oct = split(col("ip"), "\\.")
      val (o1, o2) = (element_at(oct, 1).cast("int"),
        element_at(oct, 2).cast("int"))
      T.events(s, d)
        .select(col("user_id"), ip.as("ip"))
        .select(col("user_id"),
          concat_ws(".", element_at(oct, 1), element_at(oct, 2),
            element_at(oct, 3)).as("slash24"),
          (o1 === 10 || (o1 === 192 && o2 === 168) ||
            (o1 === 172 && o2.between(16, 31))).as("is_private"))
        .groupBy("slash24", "is_private")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("slash24")
    }),

    // Cryptographic digest family (r9): md5/sha256 over the raw bytes
    // — content addressing, cache keys, dedup digests, audit trails.
    // Hex output is the cross-engine canonical form; the text corpus
    // is ASCII so VARCHAR bytes == BINARY bytes on both sides (the
    // multimodal trick). All codegen'd built-ins, no UDF.
    "fn_digest" -> ((s, d) =>
      T.documents(s, d)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("md5_hex"),
          sha2(col("text").cast("binary"), 256).as("sha256_hex"),
          substring(md5(col("text").cast("binary")), 1, 8).as("md5_head"),
          length(col("text")).cast("long").as("n_chars_hashed"))
        .orderBy("doc_id"))
  )

  val oracle: Map[String, String] = Map(
    "fn_variant" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_num,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract(props, '$.missing') AS BIGINT) AS missing_num,
        |  (NOT json_valid(concat('{', props))) AS malformed_null
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "fn_collate" ->
      """WITH v AS (
        |  SELECT p_type AS t FROM part
        |  UNION ALL
        |  SELECT concat(upper(substring(p_type, 1, 1)),
        |                lower(substring(p_type, 2))) AS t FROM part
        |)
        |SELECT lower(min(t)) AS type_lc,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(DISTINCT t) AS BIGINT) AS n_case_forms
        |FROM v GROUP BY lower(t)
        |ORDER BY type_lc""".stripMargin,
    "fn_digest" ->
      """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
        |       substr(md5(text), 1, 8) AS md5_head,
        |       length(text) AS n_chars_hashed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fn_string" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up, lower(p_type) AS lo,
        |  substring(p_name, 1, 4) AS sub,
        |  lpad(trim(p_brand), 10, '0') AS pad,
        |  concat_ws('|', p_brand, p_type) AS cw,
        |  regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
        |  regexp_replace(p_name, ' ', '_', 'g') AS rep,
        |  length(p_name) AS len
        |FROM part ORDER BY p_partkey""".stripMargin,
    "fn_date" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |  dayofweek(o_orderdate) + 1 AS dow,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  CAST(CAST(o_orderdate AS DATE) + 7 AS VARCHAR) AS plus7,
        |  CAST(CAST(last_day(o_orderdate) AS DATE) AS VARCHAR) AS month_end,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS uts
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "fn_math" ->
      """SELECT p_partkey,
        |  round(p_retailprice, 1) AS r1,
        |  CAST(floor(p_retailprice) AS BIGINT) AS fl,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ce,
        |  abs(p_retailprice - 950) AS ab,
        |  CAST(pow(p_size, 2) AS BIGINT) AS pw,
        |  round(sqrt(p_retailprice), 6) AS sq,
        |  round(ln(p_retailprice), 6) AS lg,
        |  p_partkey % 7 AS md,
        |  CAST(sign(p_retailprice - 950.0) AS INT) AS sg
        |FROM part ORDER BY p_partkey""".stripMargin,
    "fn_cond" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_discount < 0.02 THEN 'low'
        |       WHEN l_discount < 0.05 THEN 'mid'
        |       ELSE 'high' END AS disc_bucket,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS rf,
        |  least(l_tax, l_discount) AS lo,
        |  greatest(l_tax, l_discount) AS hi
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, disc_bucket, rf, lo, hi""".stripMargin,
    "fn_array" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_toks,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq,
        |  list_contains(string_split(text, ' '), 'the') AS has_the,
        |  array_to_string(list_slice(
        |    list_sort(list_distinct(string_split(text, ' '))), 1, 3), ',') AS first3,
        |  length(replace(text, ' ', '')) AS total_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fn_map" ->
      """WITH pt AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id,
        |  max(CASE WHEN event_type = 'click' THEN n END) AS n_click,
        |  max(CASE WHEN event_type = 'error' THEN n END) AS n_error,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(n) AS BIGINT) AS total,
        |  '2' AS s2m
        |FROM pt GROUP BY user_id ORDER BY user_id""".stripMargin,
    "fn_json" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract(props, '$.k') AS INT) AS k_int,
        |  CAST(to_json(struct_pack(event_id := event_id,
        |                           event_type := event_type)) AS VARCHAR) AS js
        |FROM events ORDER BY event_id""".stripMargin,
    "fn_bitwise" ->
      """SELECT event_type, count(*) AS n,
        |  bit_and(user_id) AS band,
        |  bit_or(user_id) AS bor,
        |  bit_xor(user_id) AS bxor,
        |  CAST(sum(bit_count(event_id)) AS BIGINT) AS popcnt,
        |  max(user_id << 3) AS max_shl,
        |  min(user_id >> 2) AS min_shr,
        |  max(user_id & 255) AS max_low8
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "fn_cast" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_quantity) AS INT) AS qty_int,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str,
        |  CAST(l_orderkey AS DOUBLE) AS key_dbl,
        |  CAST(l_linenumber AS VARCHAR) || '-' || l_returnflag AS ln_flag,
        |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_str
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // struct_pack comparison is lexicographic field-by-field in DuckDB,
    // matching Spark's struct ordering — a price tie falls through to
    // the key field identically on both engines.
    "fn_struct" ->
      """SELECT o_custkey,
        |  (min(struct_pack(p := o_totalprice, k := o_orderkey))).p AS min_price,
        |  (min(struct_pack(p := o_totalprice, k := o_orderkey))).k AS min_price_key,
        |  (max(struct_pack(p := o_totalprice, k := o_orderkey))).p AS max_price,
        |  (max(struct_pack(p := o_totalprice, k := o_orderkey))).k AS max_price_key,
        |  min(o_orderkey) AS min_key,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // Anchored-regex replay of java.net.URI's host/path/query split —
    // identical on the well-formed http(s) URLs the fixture plants.
    "fn_url" ->
      """SELECT doc_id, u AS url,
        |  regexp_extract(u, 'https?://([^/?#:]+)', 1) AS host,
        |  regexp_extract(u, 'https?://[^/?#]+(/[^?#]*)', 1) AS path,
        |  nullif(regexp_extract(u, '[?&]id=([^&#]*)', 1), '') AS qid,
        |  lower(regexp_extract(u, 'https?://([^/?#:]+)', 1)) ||
        |    regexp_extract(u, 'https?://[^/?#]+(/[^?#]*)', 1) AS canonical
        |FROM (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://\S+'))
        |        AS u
        |      FROM read_json('/tmp/graft_docs_pii.jsonl',
        |        format='newline_delimited',
        |        columns={'doc_id':'BIGINT','text':'VARCHAR','source':'VARCHAR'}))
        |ORDER BY doc_id, url""".stripMargin,
    // Same synthesized dotted quads (// replays Spark's div on
    // non-negative ids), same split-and-cast parse, same RFC1918
    // predicates.
    "fn_ip" ->
      """WITH ipx AS (
        |  SELECT user_id,
        |    CASE CAST(user_id % 5 AS INT)
        |      WHEN 0 THEN concat('10.', user_id % 223, '.',
        |                         (user_id // 7) % 256, '.',
        |                         (user_id // 3) % 256)
        |      WHEN 1 THEN concat('192.168.', (user_id // 11) % 256, '.',
        |                         user_id % 256)
        |      WHEN 2 THEN concat('172.', 16 + user_id % 16, '.',
        |                         (user_id // 5) % 256, '.', user_id % 256)
        |      WHEN 3 THEN concat('8.8.', (user_id // 13) % 256, '.',
        |                         user_id % 256)
        |      ELSE concat('203.0.113.', user_id % 256)
        |    END AS ip
        |  FROM events),
        |p AS (SELECT user_id, string_split(ip, '.') AS o FROM ipx),
        |c AS (
        |  SELECT user_id,
        |    concat_ws('.', o[1], o[2], o[3]) AS slash24,
        |    (CAST(o[1] AS INT) = 10
        |     OR (CAST(o[1] AS INT) = 192 AND CAST(o[2] AS INT) = 168)
        |     OR (CAST(o[1] AS INT) = 172
        |         AND CAST(o[2] AS INT) BETWEEN 16 AND 31)) AS is_private
        |  FROM p)
        |SELECT slash24, is_private, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY slash24""".stripMargin
  )
}
