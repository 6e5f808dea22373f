package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded generator of a GENESIS flat-file corpus in two revisions, plus
  * the manifest of what the engine must make of it.
  *
  * Files follow the format `graft.plans.CubeParser` reads: `K;`/`D;DQA`/
  * `D;DQZ`/`D;DQI`/`D;QEI` header records, then `D;` data records of
  * axis codes, year and one (value, flag) pair per measure. Each cube
  * has its own layout: 1–3 axes (the first is the regional code),
  * 1–3 measures, declared scales 0–2, `e`/`p`/`r`/empty flags and
  * secrecy tokens. Cube sizes follow a Zipf profile, so a few large
  * cubes sit among many small ones. The shape of the corpus is fixed:
  * cube `c` has the c-th largest size, `1 + c % 3` measures, at least
  * `c / 3 % 3` extra axes, and is revised when `c % 4 == 1`. So every
  * seed parses the same number of records and cells. The seed draws
  * everything else: axes, measures, scales, years, regional level and
  * codes, the records picked, values, flags, secrecy, the revision's
  * edits and the lookups.
  *
  * Revision 2 covers a quarter of the cubes. Per revised cube it
  * finalizes a part of the revision-1 records (new value, flag `e`),
  * omits the rest (those cells survive from revision 1), and adds
  * records for a year revision 1 did not have.
  *
  * The manifest is computed from the generator's own model of the
  * merged cells: cells per cube, the exact decimal sum per cube and
  * measure, the fact-document count, and the expected row count of
  * every seeded lookup. Output is a pure function of (seed, spec): the
  * random source is `SplittableRandom`, iteration is over arrays and
  * sorted maps only.
  */
object GenesisCorpus {

  /** Corpus size: `cells` is the target count of merged cells. */
  final case class Spec(cubes: Int, cells: Int, lookups: Int)

  /** The size every benchmark run ingests. */
  val benchSpec: Spec = Spec(cubes = 8, cells = 35000, lookups = 15)

  final case class Lookup(region: String, from: Int, to: Int,
      measures: Seq[String], rows: Long)

  final case class Manifest(
      cellsPerCube: Map[String, Long],
      sums: Map[(String, String), Option[BigDecimal]],
      docs: Long,
      lookups: Seq[Lookup]) {
    def cells: Long = cellsPerCube.values.sum
  }

  /** Generated corpus: (path, cube name) pairs per revision. */
  final case class Corpus(v1: Seq[(String, String)], v2: Seq[(String, String)],
      records: Long, manifest: Manifest)

  private final case class Layout(name: String, regionAxis: String,
      regions: Array[String], axes: Array[(String, Array[String])],
      years: Array[Int], measures: Array[String], scales: Array[Int])

  /** One data record: region, extra-axis codes, year, and per measure a
    * value (None = secrecy token) and flag.
    */
  private final case class Rec(region: String, dims: Array[String], year: Int,
      values: Array[Option[BigDecimal]], flags: Array[String]) {
    def key: String = (region +: dims :+ year.toString).mkString(";")
  }

  private val regionPool: Array[String] = {
    val laender = (1 to 16).map(i => f"$i%02d")
    val kreise = laender.flatMap(l => (1 to 4).map(k => f"$l${k * 7}%03d"))
    val gemeinden = kreise.take(40).flatMap(k => (1 to 4).map(g => f"$k${g * 11}%03d"))
    (laender ++ kreise ++ gemeinden).toArray
  }

  private val axisPool: Array[(String, Array[String])] = Array(
    "GES" -> Array("GESM", "GESW"),
    "NAT" -> Array("NATD", "NATA"),
    "FAMST" -> Array("LEDIG", "VERH", "VERW", "GESCH"),
    "WZ08" -> (1 to 12).map(i => f"WZ08-$i%02d").toArray,
    "ALTX" -> (0 to 17).map(i => f"ALT${i * 5}%03d").toArray,
    "BILD" -> (1 to 6).map(i => f"ISCED$i").toArray)

  private val measurePool: Array[String] =
    for (p <- Array("BEV", "ERW", "UMS", "FLC", "WOH", "GEW"); i <- 1 to 5)
      yield f"$p$i%03d"

  private val secrecy = Array("-", "...", "/", "x", ".")
  private val flags = Array("e", "e", "p", "r", "")
  private val lastYear = 2022

  def generate(dir: File, seed: Long, spec: Spec = benchSpec): Corpus = {
    val rnd = new SplittableRandom(seed)
    val v1Dir = new File(dir, "v1"); v1Dir.mkdirs()
    val v2Dir = new File(dir, "v2"); v2Dir.mkdirs()

    // Zipf size profile: cube c has the c-th largest size.
    val weights = (0 until spec.cubes).map(r => 1.0 / math.pow(r + 1, 1.1))
    val wsum = weights.sum
    val cellsOf = Array.tabulate(spec.cubes)(c =>
      math.max(24, math.round(spec.cells * weights(c) / wsum).toInt))
    val merged = new java.util.TreeMap[String, Array[Rec]]()
    val layouts = new Array[Layout](spec.cubes)
    var v1 = Vector.empty[(String, String)]
    var v2 = Vector.empty[(String, String)]
    var records = 0L
    for (c <- 0 until spec.cubes) {
      val name = f"c$c%04d"
      val lo = layout(rnd, name, cellsOf(c), 1 + c % 3, c / 3 % 3)
      layouts(c) = lo
      val nRec = math.max(1, cellsOf(c) / lo.measures.length)
      val recs1 = pickRecords(rnd, lo, nRec, lo.years)
      val p1 = new File(v1Dir, s"$name.csv")
      write(p1, lo, recs1)
      v1 :+= p1.getPath -> name
      records += recs1.length
      val byKey = new java.util.TreeMap[String, Rec]()
      recs1.foreach(r => byKey.put(r.key, r))
      if (c % 4 == 1) {
        val recs2 = revise(rnd, lo, recs1)
        val p2 = new File(v2Dir, s"$name.csv")
        write(p2, lo, recs2)
        v2 :+= p2.getPath -> name
        records += recs2.length
        recs2.foreach(r => byKey.put(r.key, r))
      }
      merged.put(name, byKey.values().toArray(new Array[Rec](0)))
    }

    val cellsPerCube = scala.collection.immutable.TreeMap.empty[String, Long] ++
      layouts.map(lo => lo.name -> merged.get(lo.name).length.toLong * lo.measures.length)
    val sums = scala.collection.immutable.TreeMap.empty[(String, String), Option[BigDecimal]] ++
      layouts.flatMap { lo =>
        lo.measures.indices.map { m =>
          val vs = merged.get(lo.name).flatMap(_.values(m))
          (lo.name, lo.measures(m)) -> (if (vs.isEmpty) None else Some(vs.sum))
        }
      }
    val docs = layouts.map(lo => merged.get(lo.name).length.toLong).sum
    val manifest = Manifest(cellsPerCube, sums, docs,
      lookups(rnd, spec.lookups, layouts, merged))
    writeManifest(new File(dir, "manifest.tsv"), manifest)
    Corpus(v1, v2, records, manifest)
  }

  private def shuffled(rnd: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  private def layout(rnd: SplittableRandom, name: String, cells: Int,
      nMeasures: Int, minAxes: Int): Layout = {
    val mIdx = shuffled(rnd, measurePool.length).take(nMeasures).sorted
    val nYears = 4 + rnd.nextInt(9)
    val years = Array.tabulate(nYears)(i => lastYear - nYears + 1 + i)
    val aIdx = shuffled(rnd, axisPool.length)
    var nAxes = minAxes
    val level = rnd.nextInt(3)
    val (regionAxis, levelRegions) = level match {
      case 0 => "DLAND" -> regionPool.filter(_.length == 2)
      case 1 => "KREISE" -> regionPool.filter(_.length == 5)
      case _ => "GEMEIN" -> regionPool.filter(_.length == 8)
    }
    // Grow the extra axes until the cube's key space holds its records.
    val nRec = math.max(1, cells / nMeasures)
    def space(k: Int) =
      levelRegions.length.toLong * nYears * aIdx.take(k).map(axisPool(_)._2.length.toLong).product
    while (nAxes < 2 && space(nAxes) < 2L * nRec) nAxes += 1
    var axes = aIdx.take(nAxes).map(axisPool(_))
    if (space(nAxes) < 2L * nRec)
      axes = Array(axisPool(3), axisPool(4))
    val keySpace = levelRegions.length.toLong * nYears *
      axes.map(_._2.length.toLong).product
    val nRegions = math.min(levelRegions.length.toLong,
      math.max(2L, 2L * nRec * levelRegions.length / keySpace + 1)).toInt
    val regions = shuffled(rnd, levelRegions.length).take(nRegions).sorted
      .map(levelRegions(_))
    Layout(name, regionAxis, regions, axes, years,
      mIdx.map(measurePool(_)), Array.fill(nMeasures)(rnd.nextInt(3)))
  }

  private def value(rnd: SplittableRandom, scale: Int): BigDecimal = {
    val digits = 1 + rnd.nextInt(7)
    val bound = math.pow(10, digits).toLong
    BigDecimal(BigInt(rnd.nextLong(bound)), scale)
  }

  private def cellsFor(rnd: SplittableRandom, lo: Layout,
      finalFlag: Option[String]): (Array[Option[BigDecimal]], Array[String]) = {
    val vs = lo.scales.map(s =>
      if (finalFlag.isEmpty && rnd.nextInt(30) == 0) None else Some(value(rnd, s)))
    val fs = vs.map(v => if (v.isEmpty) "" else finalFlag.getOrElse(flags(rnd.nextInt(flags.length))))
    (vs, fs)
  }

  /** `n` distinct records over the cube's key space (region × axes ×
    * `years`), visited by a seeded stride walk.
    */
  private def pickRecords(rnd: SplittableRandom, lo: Layout, n: Int,
      years: Array[Int]): Array[Rec] = {
    val radices = (lo.regions.length +: lo.axes.map(_._2.length)) :+ years.length
    val space = radices.map(_.toLong).product
    val count = math.min(n.toLong, space).toInt
    var step = 1L + rnd.nextLong(space)
    while (BigInt(step).gcd(BigInt(space)) != 1) step += 1
    val start = rnd.nextLong(space)
    Array.tabulate(count) { j =>
      var idx = Math.floorMod(start + j * step, space)
      val digits = radices.map { r => val d = (idx % r).toInt; idx /= r; d }
      val (vs, fs) = cellsFor(rnd, lo, None)
      Rec(lo.regions(digits(0)),
        lo.axes.indices.map(a => lo.axes(a)._2(digits(a + 1))).toArray,
        years(digits.last), vs, fs)
    }
  }

  /** Revision 2 of a cube: finalize ~60% of the records, omit the rest,
    * add records for the following year.
    */
  private def revise(rnd: SplittableRandom, lo: Layout, recs: Array[Rec]): Array[Rec] = {
    val finalized = recs.filter(_ => rnd.nextInt(10) < 6).map { r =>
      val (vs, fs) = cellsFor(rnd, lo, Some("e"))
      r.copy(values = vs, flags = fs)
    }
    val seen = new java.util.TreeSet[String]()
    val added = recs.filter(_.year == lo.years.last)
      .filter(r => seen.add((r.region +: r.dims).mkString(";")))
      .take(math.max(1, recs.length / 10))
      .map { r =>
        val (vs, fs) = cellsFor(rnd, lo, None)
        r.copy(year = lo.years.last + 1, values = vs, flags = fs)
      }
    finalized ++ added
  }

  private def write(f: File, lo: Layout, recs: Array[Rec]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try {
      def line(s: String): Unit = { w.write(s); w.write('\n') }
      line(s"""K;DQ;FACH-SCHL;GHH-ART;TS;"PERFBENCH CUBE ${lo.name}"""")
      line("K;DQA;NAME;RHF-BSR;RHF-ACHSE")
      line(s"D;DQA;${lo.regionAxis};1;1")
      lo.axes.zipWithIndex.foreach { case ((a, _), i) => line(s"D;DQA;$a;${i + 2};${i + 2}") }
      line("K;DQZ;NAME;ZI-RHF-BSR")
      line(s"D;DQZ;JAHR;${lo.axes.length + 2}")
      line("K;DQI;NAME;ME-NAME;DST;TYP;NKM-STELLEN")
      lo.measures.zip(lo.scales).foreach { case (m, s) =>
        line(s"D;DQI;$m;ANZ;FEST;${if (s == 0) "GANZ" else "DEZ"};$s")
      }
      line(((lo.regionAxis +: lo.axes.map(_._1)) ++ ("JAHR" +: lo.measures))
        .mkString("D;QEI;", ";", ""))
      val sb = new java.lang.StringBuilder
      recs.foreach { r =>
        sb.setLength(0)
        sb.append("D;").append(r.region)
        r.dims.foreach(d => sb.append(';').append(d))
        sb.append(';').append(r.year)
        r.values.indices.foreach { m =>
          sb.append(';').append(r.values(m) match {
            case Some(v) => v.bigDecimal.toPlainString
            case None => secrecy(Math.floorMod(r.key.hashCode + m, secrecy.length))
          })
          sb.append(';').append(r.flags(m))
        }
        line(sb.toString)
      }
    } finally w.close()
  }

  /** Seeded lookups over the regions the corpus uses, with their
    * expected row counts under the merged model.
    */
  private def lookups(rnd: SplittableRandom, n: Int, layouts: Array[Layout],
      merged: java.util.TreeMap[String, Array[Rec]]): Seq[Lookup] = {
    val used = layouts.flatMap(_.regions).distinct.sorted
    (0 until n).map { _ =>
      val region = used(rnd.nextInt(used.length))
      val from = lastYear - 12 + rnd.nextInt(12)
      val to = from + rnd.nextInt(5)
      val ms = if (rnd.nextInt(10) < 3)
        shuffled(rnd, measurePool.length).take(1 + rnd.nextInt(2)).sorted
          .map(measurePool(_)).toSeq
        else Nil
      val rows = layouts.map { lo =>
        val nm = lo.measures.count(m => ms.isEmpty || ms.contains(m)).toLong
        if (nm == 0) 0L
        else merged.get(lo.name).count(r =>
          r.region == region && r.year >= from && r.year <= to) * nm
      }.sum
      Lookup(region, from, to, ms, rows)
    }
  }

  /** Tab-separated manifest: `cells`, `sum`, `docs` and `lookup` rows. */
  private def writeManifest(f: File, m: Manifest): Unit = {
    val sb = new StringBuilder
    m.cellsPerCube.foreach { case (c, n) => sb ++= s"cells\t$c\t$n\n" }
    m.sums.foreach { case ((c, ms), s) =>
      sb ++= s"sum\t$c\t$ms\t${s.map(_.bigDecimal.toPlainString).getOrElse("NULL")}\n"
    }
    sb ++= s"docs\t${m.docs}\n"
    m.lookups.foreach { l =>
      sb ++= s"lookup\t${l.region}\t${l.from}\t${l.to}\t${l.measures.mkString(",")}\t${l.rows}\n"
    }
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes(UTF_8))
  }
}
