package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType}

/** Parser for the GENESIS cube flat-file format (FIXTURES.md §B — a
  * format specification this engine pins itself to; the reference's
  * parser is reconstructed from public knowledge of the ecosystem
  * [R: genesapi/cube.py — UNVERIFIED]).
  *
  * File layout (semicolon-delimited):
  *   - `K;DQ;…`   cube identity
  *   - `K;DQA;…` + `D;DQA;<name>;…`  axis declarations
  *   - `K;DQZ;…` + `D;DQZ;<name>;…`  time declaration
  *   - `K;DQI;…` + `D;DQI;<name>;<unit>;…;<decimals>`  measures
  *   - `D;QEI;<col>;<col>;…`          data-record column order
  *   - `D;v1;v2;…`                    data records: axis codes, time,
  *     then per measure (value, quality-flag) pairs. Values `-`, `…`,
  *     `...`, `/`, `x` parse to NULL-with-flag.
  *
  * Architecture (Spark-first, 100 TB-ready): the header is a few dozen
  * lines — filtered to the K;/D;<TAG>; prefix space in executors and
  * collected to the DRIVER ([[readHeaders]]) to derive the layout; the
  * data records are parsed in EXECUTORS by Column expressions generated
  * from that layout (split + element_at + cast — all codegen'd; no
  * mapPartitions, no UDF). One measure per output row
  * (long/normalized form, SURVEY.md §1.2). Each cube has its own
  * schema, which is the reference's own model (schema-from-header), and
  * [[parse]] keeps it: one cube, its axes as wide `dim_*` columns. Many
  * cubes go through [[CubePipeline.parseAll]] instead — one
  * `genesis-cube` scan ([[graft.sources.CubeDataSource]]) whose reader
  * applies the same filter, null tokens and casts per file, typed by
  * [[measureType]]/[[valueType]].
  */
object CubeParser {

  /** Cube layout derived from header records. */
  final case class Layout(
      cube: String,
      axes: Seq[String],        // axis (dimension) names, QEI order
      timeAxis: String,         // e.g. JAHR
      measures: Seq[String],    // measure names, QEI order
      decimals: Map[String, Int])

  /** Format constants, shared with [[graft.sources.CubeDataSource]]
    * (the DSv2 reader must filter/null-map byte-identically to the
    * Column-expression parser so the two ingestion paths can never
    * disagree on a cell).
    */
  val headerTags = Set("DQ", "DQA", "DQZ", "DQI", "QEI")
  val nullValues = Seq("-", "...", "…", "/", "x", ".")

  private val headerRecordRe = "^(K;|D;(DQA|DQZ|DQI|QEI);)"

  /** Header records of MANY cube files in ONE Spark job: a single
    * multi-path text read tags each line with its source file
    * (`input_file_name`), filters to the K;/D;<TAG>; prefix space, and
    * collects once — tens of lines per cube reach the driver, grouped
    * back per file here. The r7 shape ran one filtered `.collect()`
    * JOB per cube ([[CubePipeline.parseAll]]'s loop), which is a
    * driver-latency bottleneck at the GENESIS corpus's ~10⁴–10⁵ cubes
    * long before data volume matters: sequential job submission, not
    * scan cost, dominates. Returned map is keyed by the caller's own
    * path strings (file-URI forms normalized back).
    */
  def readHeaders(spark: SparkSession,
      paths: Seq[String]): Map[String, Seq[Seq[String]]] = {
    def normalize(p: String): String =
      if (p.startsWith("file:")) new java.io.File(new java.net.URI(p))
        .getAbsolutePath
      else new java.io.File(p).getAbsolutePath
    val byNorm = paths.map(p => normalize(p) -> p).toMap
    val rows = spark.read.textFile(paths.distinct: _*)
      .select(input_file_name().as("f"), col("value"))
      .filter(col("value").rlike(headerRecordRe))
      // bounded-collect: header records — tens of lines per cube file.
      .collect()
    rows.toSeq
      .map(r => normalize(r.getString(0)) -> r.getString(1))
      .groupBy(_._1)
      .map { case (norm, lines) =>
        byNorm.getOrElse(norm, norm) ->
          lines.map(_._2.split(";", -1).toSeq)
      }
  }

  /** Layout derivation over header lines collected by [[readHeaders]]. */
  def layoutFromHeader(hdr: Seq[Seq[String]], path: String,
      cubeName: String): Layout = {
    val axes = hdr.collect { case Seq("D", "DQA", name, _*) => name }.toSeq
    val time = hdr.collectFirst { case Seq("D", "DQZ", name, _*) => name }
      .getOrElse(sys.error(s"$path: no D;DQZ time record"))
    // Header-candidate rows can include DATA records whose first axis
    // value collides with a tag (e.g. region literally "DQI") — found
    // by the roundtrip property. Such rows can't be excluded by prefix
    // alone, so extraction is shape-aware: a DQI *declaration* carries
    // an integer decimals slot; a colliding data row carries a quality
    // flag there (and its fake "measure name" is later dropped by the
    // QEI-order filter below). toIntOption, NOT toInt: crash-free.
    val measures = hdr.collect { case Seq("D", "DQI", name, _*) => name }.toSeq
    val decimals = hdr.collect {
      case Seq("D", "DQI", name, _, _, _, dec, _*)
          if dec.toIntOption.isDefined => name -> dec.toInt
    }.toMap
    val order = hdr.collectFirst { case Seq("D", "QEI", cols @ _*) => cols }
      .getOrElse(sys.error(s"$path: no D;QEI column-order record"))
    // QEI must mention only declared columns: silently filtering an
    // undeclared name would shift every positional slot after it and
    // misparse the whole file — fail loudly instead.
    val undeclared = order.filterNot((axes.toSet + time ++ measures).contains)
    if (undeclared.nonEmpty)
      sys.error(s"$path: QEI references undeclared columns: " +
        undeclared.mkString(", "))
    // Respect QEI ordering for everything positional.
    Layout(cubeName,
      order.filter(axes.contains), time, order.filter(measures.contains),
      decimals)
  }

  /** Type [[parse]] gives measure `m`'s values: DECIMAL(18, declared
    * scale) — exact, and exact to aggregate downstream (no float drift at
    * 100 TB row counts). When ANY measure of the cube lacks a declaration
    * the whole cube falls back to DOUBLE: defaulting an undeclared measure
    * to scale 0 would silently round fractional values, which is worse
    * than inexact.
    */
  def measureType(lo: Layout, m: String): DataType =
    if (allDeclared(lo)) DecimalType(18, lo.decimals(m)) else DoubleType

  private def allDeclared(lo: Layout): Boolean =
    lo.measures.forall(lo.decimals.contains)

  /** `value`'s type over the cubes of `layouts` once their measure types
    * are widened to one — by array() coercion within a cube, by a union
    * across cubes: DECIMAL(18 − min scale + max scale, max scale), exact
    * since widening only adds digits, or DOUBLE when any cube has an
    * undeclared measure.
    */
  def valueType(layouts: Seq[Layout]): DataType =
    if (!layouts.forall(allDeclared)) DoubleType
    else layouts.flatMap(lo => lo.measures.map(lo.decimals)) match {
      case Seq() => DecimalType(18, 0)
      case scales => DecimalType(18 - scales.min + scales.max, scales.max)
    }

  /** Distributed parse of one cube's data records into the normalized
    * long schema: (cube, region, dims map→here exploded as dim_<name>
    * cols, time, measure, value, quality).
    */
  def parse(spark: SparkSession, path: String, cubeName: String): DataFrame = {
    val lo = layoutFromHeader(
      readHeaders(spark, Seq(path)).getOrElse(path, Seq.empty), path, cubeName)
    val toks = split(col("value"), ";", -1)
    val nAxes = lo.axes.size
    // Data records: "D;" prefix and not a header. A tag in slot 2 alone
    // does NOT make a row a header — a data record whose first axis
    // value collides with a tag is still data when it has the layout's
    // exact record shape (token count AND an integer in the time slot;
    // header D-rows carry a column NAME there). rlike, not cast: ANSI
    // mode throws on a malformed cast instead of nulling.
    val expectedLen = 2 + nAxes + 2 * lo.measures.size
    val data = spark.read.text(path)
      .filter(col("value").startsWith("D;") &&
              (!element_at(toks, 2).isin(headerTags.toSeq: _*) ||
               (size(toks) === expectedLen &&
                element_at(toks, nAxes + 2).rlike("^-?[0-9]+$"))))
      .select(toks.as("t"))

    // QEI order: D; axes… time measures… — each measure value is
    // followed by its quality flag. element_at is 1-based; slot 1 = "D".
    def slot(i: Int): Column = element_at(col("t"), i)
    val axisCols = lo.axes.zipWithIndex.map { case (a, i) =>
      slot(i + 2).as(s"dim_$a")
    }
    val timeCol = slot(nAxes + 2).cast("int").as("time")

    // Value typing honors the declared NKM-STELLEN decimals
    // ([[measureType]]). Across measures of differing scales Spark's
    // array() coercion widens the struct's value field to the least
    // common decimal ([[valueType]]) — per-cell values stay exact.
    // House rule still applies at the edges: [[CubePipeline.facts]] and
    // driver-facing keys cast to double in their FINAL projection.
    val measureStructs = lo.measures.zipWithIndex.map { case (m, i) =>
      val v = slot(nAxes + 3 + 2 * i)
      val q = slot(nAxes + 4 + 2 * i)
      val vTyped = v.cast(measureType(lo, m))
      struct(
        lit(m).as("measure"),
        when(v.isin(nullValues: _*), lit(null)).otherwise(vTyped).as("value"),
        q.as("quality"))
    }

    // First axis is the regional code by GENESIS convention; the rest
    // stay as dim_<name> columns.
    val outCols = Seq(
      col("cube"),
      col(s"dim_${lo.axes.head}").as("region"),
      col("time"), col("m.measure").as("measure"),
      col("m.value").as("value"), col("m.quality").as("quality")) ++
      lo.axes.tail.map(a => col(s"dim_$a"))
    data
      .select((lit(lo.cube).as("cube") +: axisCols :+ timeCol :+
        explode(array(measureStructs: _*)).as("m")): _*)
      .select(outCols: _*)
  }
}
