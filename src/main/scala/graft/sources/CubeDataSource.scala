package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  EvalMode, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter,
  GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.CubeParser

/** DataSource V2 reader for GENESIS cube flat files — SURVEY §7.3's
  * deferred "custom FileFormat" v2, landed (r8) as the scale answer to
  * many-cube ingestion: `spark.read.format("genesis-cube").load(dir)`.
  *
  * This reader is the engine's one parser of GENESIS data records;
  * [[CubeParser]] holds the header rules. Why a source and not one plan
  * per cube: a parse generated from each cube's header ON THE DRIVER
  * makes N cubes N text scans and N sub-plans — each planned,
  * code-generated and given its own Hadoop conf broadcast. This source moves schema-from-header INTO THE
  * EXECUTORS: the driver only lists files (no Spark job at all), each
  * cube file becomes one [[InputPartition]], and its reader derives the
  * layout from the K/D header records and streams data records
  * straight to rows. One scan node for any cube count — at the GENESIS
  * corpus's ~10⁴–10⁵ cubes the difference between an ingestion plan the
  * driver can hold and one it can't. [[graft.plans.CubePipeline.parseAll]]
  * reads its cubes through here.
  *
  * Output: the shared long schema ([[CubeDataSource.schema]]):
  * heterogeneous per-cube axes fold into the `dims` map (non-region
  * axes, name-sorted). Each measure's value is cast to DECIMAL(18,
  * declared scale) (DOUBLE when its cube leaves a measure's scale
  * undeclared, [[CubeParser.measureType]]), widened to its cube's type,
  * then cast to the relation's `value` type — DOUBLE by default; a
  * user-specified schema may set any DECIMAL or DOUBLE there and nothing
  * else (parseAll passes the type every cube it reads widens to,
  * [[CubeParser.valueType]]). The casts are Catalyst's own ANSI `Cast`,
  * evaluated interpreted in the reader: HALF_UP rounding, trimming and
  * the overflow error condition are Spark's (CubeSourceSpec pins
  * them; the `cube_source` key oracle-checks the whole path against
  * DuckDB). A cast error names the file it came from.
  *
  * Cube identity = file basename minus extension (the reference's
  * storage lays one file per cube download, named by cube code
  * [R: genesapi/storage.py — UNVERIFIED]), or the caller's own name per
  * path through option `names` (a JSON string array aligned with the
  * load paths; every named path must be a file, and a file listed
  * under two names fails). Partition granularity = one file (GENESIS
  * cubes are single-download sized); in-file splitting is unnecessary
  * at that shape.
  *
  * Column pruning is pushed down ([[SupportsPushDownRequiredColumns]]):
  * a `select(cube, measure)` builds 2-field rows in the reader, not
  * 7-field rows projected later. `cube` predicates prune at FILE
  * granularity ([[SupportsPushDownFilters]]): cube identity IS the
  * file, so `filter(cube === x)` plans exactly the matching input
  * partitions — a point lookup over a 10⁵-cube corpus opens one file.
  * `time` (equality/IN/range) and `measure` (equality/IN) predicates
  * prune at READER granularity (r17, r16 verdict #4): off-year data
  * records are skipped before any row is built and only the surviving
  * measure slots of a record are emitted, so the common "one year,
  * one statistic, every cube" query materializes exactly its answer.
  * Like parquet's pushdown this is best-effort: every filter is also
  * returned as residual, so Catalyst re-evaluates above the scan and
  * correctness never depends on the pruning.
  */
class CubeDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "genesis-cube"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CubeDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new CubeTable(CubeDataSource.inputsFrom(properties),
      CubeDataSource.checked(schema))
}

object CubeDataSource {
  /** The shared long schema (SURVEY §1.2). */
  val schema: StructType = schemaWith(DoubleType)

  /** [[schema]] with `value` typed `valueType` (a DECIMAL or DOUBLE). */
  def schemaWith(valueType: DataType): StructType = StructType(Seq(
    StructField("cube", StringType),
    StructField("region", StringType),
    StructField("time", IntegerType),
    StructField("measure", StringType),
    StructField("value", valueType),
    StructField("quality", StringType),
    StructField("dims", MapType(StringType, StringType, valueContainsNull = true))))

  /** A user-specified schema may differ from [[schema]] only in
    * `value`'s type, which must be a DECIMAL or DOUBLE. */
  private[sources] def checked(user: StructType): StructType = {
    val valueType = user.find(_.name == "value").map(_.dataType)
    val shape = (s: StructType) => s.map(f => f.name -> f.dataType)
    require(valueType.exists(t => t == DoubleType || t.isInstanceOf[DecimalType]) &&
      shape(user) == shape(schemaWith(valueType.get)),
      s"genesis-cube: schema must be ${schema.simpleString} with value " +
        s"DECIMAL or DOUBLE, got ${user.simpleString}")
    schemaWith(valueType.get)
  }

  /** Cube name of a file without a caller-given one: basename minus extension. */
  private[sources] def cubeOf(file: Path): String = {
    val base = file.getName
    val dot = base.lastIndexOf('.')
    if (dot > 0) base.substring(0, dot) else base
  }

  /** The paths to read, each with its cube name when option `names`
    * gives one. `load(p)` arrives as option `path`; `load(p1, p2, …)` as
    * `paths`, a JSON string array, and `names` is one too, aligned with
    * the paths. Named paths are qualified, so one file under two
    * spellings is one input, and one file under two names is an error.
    */
  private[sources] def inputsFrom(
      properties: JMap[String, String]): Seq[(String, Option[String])] = {
    val m = properties.asScala
    val json = new ObjectMapper()
    def strings(key: String): Seq[String] = m.get(key).toSeq
      .flatMap(js => json.readValue(js, classOf[Array[String]]).toSeq)
    val paths = strings("paths") ++ m.get("path")
    require(paths.nonEmpty, "genesis-cube: no path given — use .load(path…)")
    if (!m.contains("names")) paths.distinct.map(_ -> None)
    else {
      val names = strings("names")
      require(names.size == paths.size, s"genesis-cube: option names gives " +
        s"${names.size} cube names for ${paths.size} paths")
      val conf = new Configuration()
      val named = paths.zip(names).map { case (p, n) =>
        val hp = new Path(p)
        hp.getFileSystem(conf).makeQualified(hp).toString -> n
      }.distinct
      named.groupBy(_._1).foreach { case (f, ns) =>
        require(ns.size == 1, s"genesis-cube: $f is listed under " +
          s"${ns.size} cube names: ${ns.map(_._2).mkString(", ")}")
      }
      named.map { case (f, n) => f -> Some(n) }
    }
  }
}

private[sources] class CubeTable(inputs: Seq[(String, Option[String])],
    tableSchema: StructType) extends Table with SupportsRead {
  override def name(): String = s"genesis-cube(${inputs.map(_._1).mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CubeScanBuilder(inputs, tableSchema)
}

private[sources] class CubeScanBuilder(inputs: Seq[(String, Option[String])],
    tableSchema: StructType) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = tableSchema
  private var cubeFilters: Seq[Filter] = Nil
  private var rowFilters: Seq[Filter] = Nil
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** Accept `cube` equality/IN predicates for FILE pruning, plus
    * `time` range/equality/IN and `measure` equality/IN predicates for
    * READER-level pruning (r17, r16 verdict #4): a data record whose
    * time fails the predicate is skipped before any row is built, and
    * only the predicate-surviving measures of a record are emitted —
    * at a 10⁵-cube store a "2020 BEVSTD only" query then reads and
    * discards nothing. Return EVERY filter as residual (best-effort
    * pushdown, the parquet pattern) so Catalyst re-evaluates above the
    * scan and pruning can never change results.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    cubeFilters = filters.collect {
      case f @ EqualTo("cube", _: String) => f: Filter
      case f @ In("cube", _) => f: Filter
    }.toSeq
    rowFilters = filters.collect {
      case f @ EqualTo("time", _: Int) => f: Filter
      case f @ In("time", _) => f: Filter
      case f @ GreaterThan("time", _: Int) => f: Filter
      case f @ GreaterThanOrEqual("time", _: Int) => f: Filter
      case f @ LessThan("time", _: Int) => f: Filter
      case f @ LessThanOrEqual("time", _: Int) => f: Filter
      // `measure` range predicates (>, <, BETWEEN) stay residual-only
      // BY DESIGN (r17 verdict #6): measure names are a CATEGORICAL
      // code vocabulary (BEVSTD, FLAECHE, …) — a lexicographic range
      // over them has no query meaning, so accepting one here would
      // add reader-side string-compare cost for zero pruning value.
      // Do not "complete" this list with range cases; equality/IN is
      // the whole useful algebra for this column.
      case f @ EqualTo("measure", _: String) => f: Filter
      case f @ In("measure", _) => f: Filter
    }.toSeq
    filters
  }
  override def pushedFilters(): Array[Filter] =
    (cubeFilters ++ rowFilters).toArray
  override def build(): Scan =
    new CubeScan(inputs, required, cubeFilters, rowFilters)
}

private[sources] class CubeScan(inputs: Seq[(String, Option[String])],
    required: StructType,
    cubeFilters: Seq[Filter], rowFilters: Seq[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"genesis-cube ${inputs.size} path(s), ReadSchema: ${required.simpleString}" +
      (if (cubeFilters.nonEmpty || rowFilters.nonEmpty)
        s", PushedFilters: ${(cubeFilters ++ rowFilters).mkString("[", ", ", "]")}"
      else "")

  /** A file survives when its cube name satisfies every pushed `cube`
    * predicate. */
  private def keepFile(cube: String): Boolean =
    cubeFilters.forall {
      case EqualTo(_, v: String) => cube == v
      case In(_, vs) => vs.contains(cube)
      case _ => true
    }

  /** Driver side: expand directories to files — a filesystem LISTING,
    * not a Spark job; one [[InputPartition]] per surviving cube file.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = new Configuration()
    val files = inputs.flatMap { case (p, name) =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val st = fs.getFileStatus(path)
      if (!st.isDirectory)
        Seq(st.getPath -> name.getOrElse(CubeDataSource.cubeOf(st.getPath)))
      else {
        require(name.isEmpty, s"genesis-cube: $p is a directory; option " +
          "names takes one cube file per name")
        fs.listStatus(path).toSeq.filter(_.isFile)
          .map(f => f.getPath -> CubeDataSource.cubeOf(f.getPath))
      }
    }
    files.filter(f => keepFile(f._2))
      .map { case (f, cube) => f.toString -> cube }.distinct.sorted
      .map { case (f, cube) => CubeFilePartition(f, cube): InputPartition }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new CubeReaderFactory(required, rowFilters)
}

private[sources] case class CubeFilePartition(path: String, cube: String)
    extends InputPartition

private[sources] class CubeReaderFactory(required: StructType,
    rowFilters: Seq[Filter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CubeFileReader(partition.asInstanceOf[CubeFilePartition], required,
      rowFilters)
}

/** Executor-side reader for one cube file: pass 1 collects the K/D
  * header-candidate lines and derives the [[CubeParser.Layout]]
  * (shape-aware — a data row whose first axis value collides with a
  * header tag stays data, see `isData`); pass 2
  * streams data records, emitting one row per (record, measure).
  * Two passes over a single cube file are cheap (cubes are
  * per-download sized) and keep memory at one line.
  */
private[sources] class CubeFileReader(part: CubeFilePartition,
    required: StructType, rowFilters: Seq[Filter])
    extends PartitionReader[InternalRow] {

  private val path = part.path
  private val hPath = new Path(path)
  private val fs = hPath.getFileSystem(new Configuration())

  private def open() = new java.io.BufferedReader(
    new java.io.InputStreamReader(fs.open(hPath),
      java.nio.charset.StandardCharsets.UTF_8))

  // Format constants: the tags of header records, and the value tokens
  // that mean NULL (nil, secret, not applicable) with the flag kept.
  private val headerTags = Set("DQ", "DQA", "DQZ", "DQI", "QEI")
  private val nullValues = Set("-", "...", "…", "/", "x", ".")

  private val layout: CubeParser.Layout = {
    val br = open()
    try {
      val hdr = Iterator.continually(br.readLine()).takeWhile(_ != null)
        .filter(l => l.startsWith("K;") ||
          headerTags.exists(t => l.startsWith(s"D;$t;")))
        .map(_.split(";", -1).toSeq).toSeq
      CubeParser.layoutFromHeader(hdr, path, part.cube)
    } finally br.close()
  }

  private val nAxes = layout.axes.size
  private val nMeasures = layout.measures.size
  private val expectedLen = 2 + nAxes + 2 * nMeasures
  private val timeRe = "^-?[0-9]+$".r
  private val cube = UTF8String.fromString(layout.cube)
  private val measureNames = layout.measures.map(UTF8String.fromString)
  // dims = non-region axes, name-sorted, with their 0-based token slots
  // (slot 0 = "D").
  private val dimAxes: Seq[(String, Int)] = layout.axes.zipWithIndex.tail
    .map { case (a, i) => (a, i + 1) }.sortBy(_._1)

  // `time` and `value` are typed by Catalyst's own ANSI Cast, evaluated
  // interpreted over a one-token row: a measure to DECIMAL(18, declared
  // scale) or DOUBLE, widened to its cube's type, then to the relation's
  // `value` type. Built once per file and measure.
  private val token = new GenericInternalRow(1)
  private def cast(e: Expression, t: DataType): Expression =
    if (e.dataType == t) e else Cast(e, t, None, EvalMode.ANSI)
  private val tokenRef = BoundReference(0, StringType, nullable = true)
  private val timeCast = cast(tokenRef, IntegerType)
  private val valueCasts: IndexedSeq[Expression] =
    required.find(_.name == "value").map { f =>
      val cubeType = CubeParser.valueType(Seq(layout))
      layout.measures.map(m => cast(cast(cast(tokenRef,
        CubeParser.measureType(layout, m)), cubeType), f.dataType))
    }.getOrElse(Nil).toIndexedSeq

  /** `e` over one token; a cast error keeps its condition and names the file. */
  private def typed(e: Expression, tok: String): Any = {
    token.update(0, UTF8String.fromString(tok))
    try e.eval(token) catch {
      case err: Exception with SparkThrowable =>
        throw new SparkException(s"genesis-cube: $path: ${err.getMessage}",
          err, Option(err.getCondition), err.getMessageParameters.asScala.toMap,
          err.getQueryContext)
    }
  }

  /** Pushed `time` predicates as one conjunction over the typed time
    * token — evaluated BEFORE any row is built, so a year-filtered
    * query never materializes off-year records. Filters stay residual
    * above the scan, so an unhandled shape here is only a missed
    * optimization, never a correctness risk. */
  private def timeOk(t: Int): Boolean = rowFilters.forall {
    case EqualTo("time", v: Int) => t == v
    case In("time", vs) => vs.exists { case v: Int => t == v; case _ => false }
    case GreaterThan("time", v: Int) => t > v
    case GreaterThanOrEqual("time", v: Int) => t >= v
    case LessThan("time", v: Int) => t < v
    case LessThanOrEqual("time", v: Int) => t <= v
    case _ => true
  }

  /** Measure slots surviving the pushed `measure` predicates — a
    * record emits only these, computed once per file. */
  private val measureSlots: Seq[Int] = {
    def ok(m: String): Boolean = rowFilters.forall {
      case EqualTo("measure", v: String) => m == v
      case In("measure", vs) => vs.contains(m)
      case _ => true
    }
    (0 until nMeasures).filter(i => ok(layout.measures(i)))
  }

  private val data = open()
  private var pending: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _
  private var exhausted = false

  /** Data records: "D;" prefix and not a header. A tag in slot 2 alone
    * does NOT make a row a header — a data record whose first axis
    * value collides with a tag is still data when it has the layout's
    * exact record shape (token count AND an integer in the time slot;
    * header D-rows carry a column NAME there). */
  private def isData(toks: Array[String]): Boolean =
    toks.length >= 2 && toks(0) == "D" &&
      (!headerTags.contains(toks(1)) ||
        (toks.length == expectedLen &&
          timeRe.matches(toks(nAxes + 1))))

  private def rowsOf(toks: Array[String], time: Int): Iterator[InternalRow] = {
    val region = UTF8String.fromString(toks(1))
    val dims = new ArrayBasedMapData(
      new GenericArrayData(dimAxes.map(d =>
        UTF8String.fromString(d._1): AnyRef).toArray[Any]),
      new GenericArrayData(dimAxes.map(d =>
        UTF8String.fromString(toks(d._2)): AnyRef).toArray[Any]))
    measureSlots.iterator.map { i =>
      val v = toks(nAxes + 2 + 2 * i)
      val q = toks(nAxes + 3 + 2 * i)
      val row = new GenericInternalRow(required.length)
      var j = 0
      while (j < required.length) {
        row.update(j, required.fields(j).name match {
          case "cube" => cube
          case "region" => region
          case "time" => time
          case "measure" => measureNames(i)
          case "value" =>
            if (nullValues.contains(v)) null else typed(valueCasts(i), v)
          case "quality" => UTF8String.fromString(q)
          case "dims" => dims
          case other => sys.error(s"genesis-cube: unknown column $other")
        })
        j += 1
      }
      row: InternalRow
    }
  }

  override def next(): Boolean = {
    while (!pending.hasNext && !exhausted) {
      val line = data.readLine()
      if (line == null) exhausted = true
      else {
        val toks = line.split(";", -1)
        if (isData(toks)) {
          val time = typed(timeCast, toks(nAxes + 1)).asInstanceOf[Int]
          if (timeOk(time)) pending = rowsOf(toks, time)
        }
      }
    }
    if (pending.hasNext) { current = pending.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = data.close()
}
