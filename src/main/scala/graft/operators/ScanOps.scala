package graft.operators

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.1 Scans / sources. The reference's source layer is a GENESIS
  * webservice download + on-disk cube-file storage (SURVEY.md §2.1,
  * [R: genesapi/fetch.py, genesapi/storage.py — UNVERIFIED]); here the
  * scan surface is columnar parquet with Catalyst-driven projection and
  * predicate pushdown, and the cube-flat-file analogue is a text parse
  * (the full parser is the `genesis-cube` reader,
  * graft.sources.CubeDataSource).
  */
object ScanOps {
  type Q = (SparkSession, String) => DataFrame

  /** JSON-lines fixture with planted PII (urls / emails / IPv4s, plus
    * clean rows) — the input for `scan_jsonl` and `text_pii`. The sf
    * corpus carries no PII-shaped text, so a planted file is the only
    * way those transforms exercise non-identity paths under the
    * oracle. Write-once under /tmp like the cube fixtures, so the
    * driver's DuckDB pass reads the identical bytes.
    */
  val jsonlContent: String = Seq(
    """{"doc_id": 1, "text": "contact alice@example.com or bob.smith@corp.io today", "source": "web"}""",
    """{"doc_id": 2, "text": "server at 192.168.10.5 and 10.0.0.1 responded", "source": "logs"}""",
    """{"doc_id": 3, "text": "visit https://example.org/page?id=7 for details", "source": "web"}""",
    """{"doc_id": 4, "text": "clean text with no identifiers at all", "source": "book"}""",
    """{"doc_id": 5, "text": "mixed http://a.io/x note x@y.de from 172.16.0.9", "source": "web"}""",
    """{"doc_id": 6, "text": "docs at https://WWW.Example.COM/docs/guide?x=2&id=9 and mirror http://cdn.example.com:8080/static/v2/app.js today", "source": "web"}""",
    """{"doc_id": 7, "text": "see https://blog.example.org/posts/2024/01/intro#section-2 plus https://api.example.net/v1/items?id=42 ok", "source": "web"}""")
    .mkString("\n")

  val jsonlPath = "/tmp/graft_docs_pii.jsonl"

  def ensureJsonl(): String = T.ensureFile(jsonlPath, jsonlContent)

  /** CSV fixture exercising the RFC-4180 corners a naive split gets
    * wrong: quoted embedded delimiter, escaped double-quote, empty
    * field → typed NULL, and a header row. Write-once like the jsonl
    * fixture so the driver's DuckDB pass reads identical bytes.
    */
  val csvContent: String = Seq(
    "id,name,qty,price",
    "1,\"widget, large\",3,19.99",
    "2,\"say \"\"hi\"\"\",1,5.5",
    "3,plain,,7.25",
    "4,multi word,10,0.1").mkString("\n")

  val csvPath = "/tmp/graft_items.csv"

  def ensureCsv(): String = T.ensureFile(csvPath, csvContent)

  /** XML fixture exercising the corners a regex "parser" gets wrong:
    * an ATTRIBUTE field, XML entities (&amp;amp;/&amp;lt; must decode),
    * a missing optional element → typed NULL, and multi-word text.
    * Write-once like the jsonl/csv fixtures.
    */
  val xmlContent: String =
    """<catalog>
      |  <item id="1"><name>widget</name><qty>3</qty><price>19.99</price><note>a &amp; b</note></item>
      |  <item id="2"><name>gizmo &lt;mini&gt;</name><qty>1</qty><price>5.5</price></item>
      |  <item id="3"><name>plain</name><price>7.25</price><note>x</note></item>
      |  <item id="4"><name>multi word</name><qty>10</qty><price>0.1</price><note>y z</note></item>
      |</catalog>""".stripMargin

  val xmlPath = "/tmp/graft_items.xml"

  def ensureXml(): String = T.ensureFile(xmlPath, xmlContent)

  /** Write-once hive-partitioned copy of `events`, partitioned by
    * `event_type` — the layout a 100 TB event store actually uses, so
    * the engine's partition-DIRECTORY pruning surface (skip whole
    * directories at planning time, before any file is opened) is
    * exercised distinctly from `scan_pruned`'s row-group pushdown
    * (skip pages inside files already opened). Staged like the
    * jsonl/csv fixtures: build in a temp dir, atomic rename into
    * place, losers of a cross-JVM race delete their copy — a reader
    * sees a complete directory or none.
    */
  def ensureHivePartitioned(s: SparkSession, d: String): String =
    stageOnce(s"graft_hive_events_${dirTag(d)}") { tmp =>
      T.events(s, d).write.partitionBy("event_type")
        .mode("overwrite").parquet(tmp)
    }

  /** Write-once ORC copy of `documents` — the other columnar format a
    * lakehouse inherits (years of Hive-era tables are ORC; a complete
    * engine reads them in place rather than forcing a rewrite). Same
    * staging discipline as the hive fixture.
    */
  def ensureOrc(s: SparkSession, d: String): String =
    stageOnce(s"graft_orc_docs_${dirTag(d)}") { tmp =>
      T.documents(s, d).write.mode("overwrite").orc(tmp)
    }

  private[graft] def dirTag(d: String): String = d.replaceAll("[^A-Za-z0-9.]+", "_")

  /** The write-once staging protocol, shared by every directory
    * fixture: build into a fresh temp dir, atomically rename into
    * place, losers of a cross-JVM race delete their copy — a reader
    * sees a complete directory (Spark's _SUCCESS marker) or none.
    * A half-written dest (no _SUCCESS: a crashed writer) is cleared
    * so the rename can land.
    */
  private[graft] def stageOnce(destName: String)(write: String => Unit): String = {
    val dest = new java.io.File(s"/tmp/$destName")
    def ready = new java.io.File(dest, "_SUCCESS").exists()
    if (!ready) ScanOps.synchronized {
      if (!ready) {
        val tmp = java.nio.file.Files
          .createTempDirectory(java.nio.file.Paths.get("/tmp"), ".stage")
          .toFile
        write(tmp.toString)
        if (dest.exists() && !ready) deleteRec(dest)
        if (!tmp.renameTo(dest)) deleteRec(tmp) // lost the race: theirs won
      }
    }
    dest.toString
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete()
  }

  /** Write-once pair of parquet directories with EVOLVED schemas: v1
    * carries (o_orderkey, o_totalprice) for even keys, v2 adds
    * o_orderpriority for odd keys — the years-of-data reality a 100 TB
    * store accumulates (columns appear over time; old files never get
    * rewritten). Same staging discipline as the hive fixture.
    */
  def ensureEvolved(s: SparkSession, d: String): (String, String) = {
    val name = d.replaceAll("[^A-Za-z0-9.]+", "_")
    val v1 = new java.io.File(s"/tmp/graft_evolved_v1_$name")
    val v2 = new java.io.File(s"/tmp/graft_evolved_v2_$name")
    def ready(f: java.io.File) = new java.io.File(f, "_SUCCESS").exists()
    def stage(dest: java.io.File)(df: org.apache.spark.sql.DataFrame): Unit =
      if (!ready(dest)) ScanOps.synchronized {
        if (!ready(dest)) {
          val tmp = java.nio.file.Files
            .createTempDirectory(java.nio.file.Paths.get("/tmp"), ".evo_stage")
            .toFile
          df.write.mode("overwrite").parquet(tmp.toString)
          if (dest.exists() && !ready(dest)) deleteRec(dest)
          if (!tmp.renameTo(dest)) deleteRec(tmp)
        }
      }
    val o = T.orders(s, d)
    stage(v1)(o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice")))
    stage(v2)(o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")))
    (v1.toString, v2.toString)
  }

  val queries: Map[String, Q] = Map(
    // Columnar scan + projection; pushdown shows as ReadSchema pruning.
    // Sort covers EVERY projected column: (l_orderkey, l_linenumber) is
    // not unique here, so a narrower sort would make the LIMIT cut line
    // nondeterministic. With sort keys == projection, tied rows are
    // identical, so the emitted multiset is stable.
    "scan_parquet" -> ((s, d) =>
      T.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .limit(100)),

    // Filter pushed to the parquet row-group level (PushedFilters in
    // explain — asserted in PlanSpec). Date emitted as a string so the
    // ms-parquet / µs-Spark / DuckDB comparison is representation-free.
    "scan_pruned" -> ((s, d) =>
      T.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("2000-06-01").cast("timestamp"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          T.dstr(col("l_shipdate")).as("ship_date"))
        .orderBy("l_orderkey", "l_linenumber", "ship_date")),

    // JSON-lines source with an EXPLICIT schema. At 100 TB schema
    // inference is a full extra pass over the data (and a sampled
    // inference can miss late-appearing fields), so production jsonl
    // reads declare their schema; malformed rows null out instead of
    // failing the scan (Spark's default PERMISSIVE mode — the right
    // default for web-scale crawl dumps).
    "scan_jsonl" -> ((s, _) => {
      val path = ensureJsonl()
      s.read.schema("doc_id LONG, text STRING, source STRING")
        .json(path)
        .orderBy("doc_id")
    }),

    // CSV source (r8) with the same production posture as scan_jsonl:
    // EXPLICIT schema (no inference pass), PERMISSIVE malformed
    // handling, RFC-4180 quoting. The fixture plants the quoting
    // corners; empty numeric fields surface as typed NULLs.
    "scan_csv" -> ((s, _) => {
      val path = ensureCsv()
      s.read.option("header", "true")
        // Spark's csv default escape is backslash; RFC-4180 (and
        // DuckDB) escape a quote by doubling it — align explicitly.
        .option("escape", "\"")
        .schema("id LONG, name STRING, qty LONG, price DOUBLE")
        .csv(path)
        .orderBy("id")
    }),

    // XML source (r15): Spark 4 ships the (former spark-xml) XML
    // datasource natively — config/feed/sitemap ingestion without a
    // UDF parser. Same production posture as scan_jsonl/scan_csv:
    // EXPLICIT schema (`_id` = the id ATTRIBUTE under the default
    // attributePrefix), rowTag streaming (files are split per row
    // tag, never DOM-loaded whole), PERMISSIVE malformed handling.
    // The fixture plants the corners a regex "parser" gets wrong:
    // entity decoding (&amp;, &lt;), an attribute field, a missing
    // optional element → typed NULL. DuckDB has no XML reader, so the
    // oracle lists the planted logical rows as VALUES — the fixture
    // is write-once literal content, so this checks the DECODE path
    // (entities, attribute, null) rather than replaying it.
    "scan_xml" -> ((s, _) => {
      val path = ensureXml()
      s.read.format("xml")
        .option("rowTag", "item")
        .schema("_id LONG, name STRING, qty LONG, price DOUBLE, note STRING")
        .load(path)
        .select(col("_id").as("id"), col("name"), col("qty"),
          col("price"), col("note"))
        .orderBy("id")
    }),

    // Hive-partitioned read with partition-directory pruning (r9): the
    // event_type filter resolves against DIRECTORY NAMES at planning
    // time — 3 of 5 partitions are never listed, opened, or read
    // (PartitionFilters in explain, asserted in PlanSpec), the scan
    // mechanism that makes a 100 TB date/type-partitioned store
    // queryable at all. Distinct from scan_pruned: that skips row
    // groups INSIDE opened files via statistics; this skips whole
    // subtrees via the catalog/layout.
    "scan_hive_parts" -> ((s, d) => {
      val path = ensureHivePartitioned(s, d)
      s.read.parquet(path)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          T.tstr(col("ts")).as("ts_s"), col("value"))
        .orderBy("event_id")
    }),

    // Schema-evolution read (r9): one logical dataset whose files were
    // written YEARS apart with different schemas — mergeSchema=true
    // unions the per-file schemas at planning time and null-fills the
    // columns a file predates. Without it Spark trusts one random
    // file's footer and silently DROPS the newer columns; at 100 TB
    // nobody rewrites old files when a column lands, so this read mode
    // is how evolved stores stay queryable. (Not the default because
    // footer-merging costs a planning pass per file — turn it on per
    // evolved dataset, or keep schemas in a catalog.)
    "scan_evolved" -> ((s, d) => {
      val (v1, v2) = ensureEvolved(s, d)
      s.read.option("mergeSchema", "true").parquet(v1, v2)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),

    // ORC source (r10): the other columnar lakehouse format — Hive-era
    // stores are ORC, and a complete engine reads them in place.
    // Same production posture as the parquet scans: column pruning and
    // the n_chars predicate reach the ORC reader (ORC carries the same
    // min/max stripe statistics parquet row groups do), asserted in
    // PlanSpec. Oracle reads the ORIGINAL parquet table — the ORC copy
    // holds the same rows, so only the engine-side format path differs
    // (the scan_hive_parts adjudication).
    "scan_orc" -> ((s, d) => {
      val path = ensureOrc(s, d)
      s.read.orc(path)
        .filter(col("n_chars") >= 200)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Schema-from-text parse analogue: the reference derives each cube's
    // layout from its header then splits delimited records
    // [R: genesapi/cube.py — UNVERIFIED]; here: tokenize and project
    // positional fields as typed columns.
    "scan_text_parse" -> ((s, d) => {
      val toks = split(col("text"), " ")
      T.documents(s, d)
        .select(
          col("doc_id"),
          element_at(toks, 1).as("tok0"),
          element_at(toks, 2).as("tok1"),
          element_at(toks, 3).as("tok2"))
        .orderBy("doc_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "scan_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100""".stripMargin,
    "scan_pruned" ->
      """SELECT l_orderkey, l_linenumber,
        |       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-06-01'
        |ORDER BY l_orderkey, l_linenumber, ship_date""".stripMargin,
    "scan_jsonl" ->
      s"""SELECT doc_id, text, source FROM read_json('$jsonlPath',
         |  format='newline_delimited',
         |  columns={'doc_id':'BIGINT','text':'VARCHAR','source':'VARCHAR'})
         |ORDER BY doc_id""".stripMargin,
    "scan_csv" ->
      s"""SELECT id, name, qty, price FROM read_csv('$csvPath',
         |  header=true,
         |  columns={'id':'BIGINT','name':'VARCHAR',
         |           'qty':'BIGINT','price':'DOUBLE'})
         |ORDER BY id""".stripMargin,
    // DuckDB has no XML reader; the planted rows ARE the truth (the
    // fixture is write-once literal content), so the oracle lists
    // them decoded — entities resolved, attribute as id, the missing
    // qty/note as NULLs. This checks Spark's XML DECODE against the
    // intended logical rows instead of replaying a parser.
    "scan_xml" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'widget', CAST(3 AS BIGINT),
        |   CAST(19.99 AS DOUBLE), 'a & b'),
        |  (2, 'gizmo <mini>', 1, 5.5, NULL),
        |  (3, 'plain', NULL, 7.25, 'x'),
        |  (4, 'multi word', 10, 0.1, 'y z'))
        |  AS t(id, name, qty, price, note)
        |ORDER BY id""".stripMargin,
    // Oracle reads the ORIGINAL parquet table (scan_hive_parts
    // adjudication): the staged ORC copy holds identical rows.
    "scan_orc" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE n_chars >= 200 ORDER BY doc_id""".stripMargin,
    "scan_text_parse" ->
      """SELECT doc_id,
        |       string_split(text, ' ')[1] AS tok0,
        |       string_split(text, ' ')[2] AS tok1,
        |       string_split(text, ' ')[3] AS tok2
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Oracle reconstructs the evolved union from the ORIGINAL table:
    // even-key files predate the priority column, so those rows read
    // back NULL — the null-fill IS the semantics under test.
    "scan_evolved" ->
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
        |    AS o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // Oracle reads the ORIGINAL single-file table: the partitioned copy
    // holds the same rows, so only the engine-side access path differs.
    "scan_hive_parts" ->
      """SELECT event_id, user_id, event_type,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
        |FROM events WHERE event_type IN ('click', 'purchase')
        |ORDER BY event_id""".stripMargin
  )
}
