package graft

import graft.plans.CubeParser
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties (SURVEY.md §5.3): invariants that hold for
  * ANY input, not just fixtures — parser roundtrip, dedup latest-wins
  * + idempotence, windowed top-k ≡ brute force. Generators are driven
  * directly with fixed seeds (the scalatest-scalacheck bridge isn't in
  * the offline dependency cache) — deterministic AND property-shaped.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` over `n` seeded samples of `gen`. */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      val sample = gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"generator exhausted at seed $i"))
      body(sample)
    }

  private val code = Gen.choose(0, 99).map(i => f"C$i%02d")

  test("cube parser roundtrip: serialize random cube → parse → same cells") {
    // Region gen includes header-tag collisions ("DQA"/"DQI" as region
    // codes) — the shape-anchored header filter must keep those rows.
    // Measure 2 is nullable via the GENESIS nil/secret codes.
    val cells = Gen.nonEmptyListOf(for {
      region <- Gen.oneOf(Gen.choose(1, 16).map(i => f"$i%02d"),
                          Gen.oneOf("DQA", "DQI"))
      dim    <- code
      year   <- Gen.choose(1990, 2030)
      value  <- Gen.choose(0, 9999999)
      // M2 declares 2 decimals: fractional values exercise the typed
      // DECIMAL(18,2) parse (two decimal digits survive exactly).
      m2     <- Gen.oneOf(Gen.choose(0, 99999).map(v => (Some(v / 100.0), "e")),
                          Gen.oneOf(("-", "-"), ("...", "x"))
                            .map { case (_, f2) => (None, f2) })
      flag   <- Gen.oneOf("e", "p", "r")
    } yield (region, dim, year, value.toDouble, flag, m2._1, m2._2))
    forAllSeeded(cells) { cs0 =>
      // one record per (region, dim, year): last write wins in the gen
      val cs = cs0.groupBy(c => (c._1, c._2, c._3)).map(_._2.head).toSeq
      val file = java.nio.file.Files.createTempDirectory("cube").resolve("c.csv")
      val lines = Seq("K;DQ;PROP", "D;DQA;DINSG;1;1", "D;DQA;DIM;2;2",
        "D;DQZ;JAHR;3", "D;DQI;M;ANZ;FEST;GANZ;0",
        "D;DQI;M2;QKM;FEST;DEZ;2", "D;QEI;DINSG;DIM;JAHR;M;M2") ++
        cs.map { case (r, dm, y, v, f, m2v, m2f) =>
          val m2s = m2v.map(d => f"$d%.2f")
            .getOrElse(if (m2f == "x") "..." else "-")
          s"D;$r;$dm;$y;${v.toLong};$f;$m2s;$m2f"
        }
      java.nio.file.Files.writeString(file, lines.mkString("\n"))
      val frame = CubeParser.parse(spark, file.toString, "prop")
      // Declared scales 0 and 2 → one widened decimal value column.
      assert(frame.schema("value").dataType
        .isInstanceOf[org.apache.spark.sql.types.DecimalType])
      val parsed = frame
        .select("region", "dim_DIM", "time", "measure", "value", "quality")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
          r.getString(3), Option(r.getDecimal(4)).map(_.doubleValue),
          r.getString(5))).toSet
      val want = cs.flatMap { case (r, dm, y, v, f, m2v, m2f) =>
        Seq((r, dm, y, "M", Some(v), f), (r, dm, y, "M2", m2v, m2f))
      }.toSet
      assert(parsed == want)
    }
  }

  test("dedup-latest-wins: one survivor per key, and it IS the max version") {
    val rows = Gen.nonEmptyListOf(for {
      key <- Gen.choose(0L, 8L); ver <- Gen.choose(0L, 100L)
    } yield (key, ver))
    forAllSeeded(rows) { rs =>
      val df = rs.toDF("key", "ver")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(desc("ver"))
      val dedup = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("key", "ver")
      val got = dedup.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = rs.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(got == want)
      // idempotence: dedup of the deduped frame is itself
      val again = dedup.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("key", "ver")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again == got)
    }
  }

  test("session_window ≡ gaps-and-islands brute force on random event times") {
    val gapSec = 1800L
    val rows = Gen.nonEmptyListOf(for {
      u <- Gen.choose(0L, 3L)
      t <- Gen.choose(0L, 4L * 3600) // seconds over a 4h span
    } yield (u, t))
    forAllSeeded(rows) { rs0 =>
      val rs = rs0.distinct
      val df = rs.toDF("u", "sec")
        .withColumn("ts", expr("timestamp_seconds(sec)"))
      val got = df.groupBy(session_window(col("ts"), "30 minutes"), col("u"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      // brute force: sort per user, break when gap > 30 min (Spark's
      // session interval is right-closed — equality merges)
      val want = rs.groupBy(_._1).view.mapValues { es =>
        val ts = es.map(_._2).sorted
        val (counts, _) = ts.tail.foldLeft((List(1L), ts.head)) {
          case ((c :: rest, prev), t) =>
            if (t - prev > gapSec) (1L :: c :: rest, t) else ((c + 1) :: rest, t)
          case ((Nil, _), t) => (List(1L), t)
        }
        counts.sorted
      }.toMap
      assert(got == want.map { case (k, v) => k -> v.toSeq },
        s"got $got want $want")
    }
  }

  test("minhash LSH ≡ exact pairwise on random corpora with planted near-dups") {
    // Random base docs are token-disjoint-ish (numbered vocab per doc);
    // each corpus plants near-dups by appending one token to a copy —
    // J ≥ 0.85, where 8 bands × 2 rows gives miss probability < 1e-5.
    // Assert EXACT equivalence: verified-LSH pairs == brute-force pairs
    // at the threshold (precision from the verify step, recall from
    // banding).
    val corpus = Gen.nonEmptyListOf(Gen.choose(8, 20)).map(_.take(6))
    forAllSeeded(corpus) { sizes =>
      val docs = sizes.zipWithIndex.flatMap { case (n, i) =>
        val base = (0 until n).map(t => s"w${i}_$t").mkString(" ")
        Seq((i * 2L, base), (i * 2L + 1, base + s" extra$i"))
      }.toDF("doc_id", "text")
      val got = graft.llm.LlmDedup.minhashPairs(docs, 0.5)
        .select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute force over token-shingle sets (3-gram, same as impl)
      val sets = docs.collect().map { r =>
        val toks = r.getString(1).split(" ")
        r.getLong(0) -> toks.sliding(3).map(_.mkString(" ")).toSet
      }.toMap
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = sets(a).intersect(sets(b)).size
        j = inter.toDouble / (sets(a).size + sets(b).size - inter)
        if j >= 0.5
      } yield (a, b)).toSet
      assert(got == want, s"lsh=$got brute=$want")
    }
  }

  test("sequence packing: every doc exactly once, bins bounded, any input") {
    val corpus = Gen.nonEmptyListOf(Gen.choose(1, 60))
    forAllSeeded(corpus) { sizes =>
      val docs = sizes.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(t => s"t$t").mkString(" "))
      }.toDF("doc_id", "text")
      val maxTok = 40
      val packed = graft.llm.CorpusPipeline.packSequences(docs, maxTok, 4)
      val assigned = packed
        .select(explode(col("doc_ids")).as("doc_id"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(assigned == sizes.indices.map(_.toLong),
        "every doc in exactly one sequence")
      val worst = packed.agg(max(col("n_tokens"))).collect()(0).getLong(0)
      assert(worst < maxTok + sizes.max,
        s"bin $worst exceeds budget $maxTok + max-doc ${sizes.max}")
    }
  }

  test("connected components ≡ local union-find on random pair graphs") {
    val graphs = Gen.listOf(for {
      a <- Gen.choose(0L, 19L); b <- Gen.choose(0L, 19L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    forAllSeeded(graphs) { es0 =>
      val edges = es0.distinct
      val n = 20L
      // local reference: path-compressing union-find, min-root
      val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
      def find(x: Long): Long = {
        if (parent(x) != x) parent(x) = find(parent(x)); parent(x)
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      val want = (0L until n).map(i => i -> find(i)).toMap
      val docs = (0L until n).toDF("doc_id")
      val pairs =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("d1", "d2")
        else edges.toDF("d1", "d2")
      val got = graft.llm.LlmDedup.connectedComponents(docs, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"edges=$edges")
    }
  }

  test("windowed per-group top-k ≡ brute-force group-sort-take") {
    val rows = Gen.nonEmptyListOf(for {
      g <- Gen.choose(0, 5); v <- Gen.choose(0, 1000); id <- Gen.choose(0L, 999999L)
    } yield (g, v, id))
    forAllSeeded(rows) { rs0 =>
      val rs = rs0.distinct
      val df = rs.toDF("g", "v", "id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(desc("v"), asc("id"))
      val got = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).select("g", "v", "id")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      val want = rs.groupBy(_._1).values.flatMap(
        _.sortBy(t => (-t._2, t._3)).take(3)).toSet
      assert(got == want)
    }
  }

  test("ewmaCapped ≡ BigDecimal reference for ANY series (multi-entity)") {
    import graft.operators.TimeSeries
    val series = Gen.nonEmptyListOf(for {
      user <- Gen.choose(1L, 3L)
      v <- Gen.choose(-99999, 99999).map(_ / 100.0) // 2-dp values, ± sign
    } yield (user, v))
    forAllSeeded(series) { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((u, v), i) =>
        (u, i.toLong,
          new java.sql.Timestamp(1700000000000L + i * 1000L), v)
      }
      val df = rows.toDF("user_id", "event_id", "ts", "value")
      val got = TimeSeries.ewmaCapped(df,
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("ts", "event_id"))
        .select("user_id", "rn", "ewma")
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2))
        .toMap
      // Reference: per user, the capped closed form on BigDecimal.
      for ((u, series) <- rows.groupBy(_._1)) {
        val xs = series.sortBy(r => (r._3.getTime, r._2)).map(r => BigDecimal(r._4))
          .map(_.setScale(4, BigDecimal.RoundingMode.HALF_UP))
        xs.indices.foreach { i =>
          val m = math.min(i + 1, 8)
          val terms = (0 until m).map { j =>
            val coef =
              if (j == m - 1) BigDecimal(1) / BigDecimal(BigInt(1) << (m - 1))
              else BigDecimal(1) / BigDecimal(BigInt(1) << (j + 1))
            xs(i - j) * coef
          }
          val want = terms.sum
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          assert(got((u, i + 1)) == want,
            s"user $u rn ${i + 1}: got ${got((u, i + 1))}, want $want")
        }
      }
    }
  }

  test("triangleCounts ≡ brute-force enumeration on ANY small graph") {
    import graft.llm.LlmGraph
    // distinct endpoints by construction (a filtered gen can exhaust)
    val edges = Gen.nonEmptyListOf(for {
      a <- Gen.choose(1L, 9L); d <- Gen.choose(1L, 8L)
    } yield {
      val b = (a - 1 + d) % 9 + 1
      (math.min(a, b), math.max(a, b))
    })
    forAllSeeded(edges) { es0 =>
      val es = es0.distinct
      val got = LlmGraph.triangleCounts(es.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val adj = es.toSet
      def conn(a: Long, b: Long) =
        adj((math.min(a, b), math.max(a, b)))
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val corners = (for {
        Seq(a, b, c) <- nodes.combinations(3)
        if conn(a, b) && conn(b, c) && conn(a, c)
        n <- Seq(a, b, c)
      } yield n).toSeq
      val want = corners.groupBy(n => n)
        .map { case (n, l) => n -> l.size.toLong }
      assert(got == want, s"got $got, want $want (edges $es)")
    }
  }

  test("bitmapDistinct ≡ countDistinct (incl. the merged ALL row) for ANY input") {
    import graft.operators.AggOps
    val rows = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b", "c")
      id <- Gen.choose(0L, 500L)
    } yield (g, id))
    forAllSeeded(rows) { rs =>
      val df = rs.toDF("g", "id")
      val got = AggOps.bitmapDistinct(df)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = rs.groupBy(_._1).map { case (g, l) =>
        g -> l.map(_._2).distinct.size.toLong
      } + ("ALL" -> rs.map(_._2).distinct.size.toLong)
      assert(got == want, s"got $got, want $want")
    }
  }

  test("fuzzyMatch recovers interior single-char deletions for ANY word set") {
    import graft.operators.JoinOps
    // Words distinct enough that a deletion can't reach a DIFFERENT
    // clean word at lower distance: distinct first letters per word.
    val words = Gen.nonEmptyListOf(for {
      first <- Gen.choose('a', 'z')
      rest <- Gen.listOfN(6, Gen.choose('a', 'z')).map(_.mkString)
    } yield s"$first$rest").map(_.distinct.groupBy(_.head).values.map(_.head).toSeq)
    forAllSeeded(words) { ws =>
      val clean = ws.toDF("name")
      // drop the 3rd char — keeps the first char, shifts length by 1:
      // inside the declared blocking-recall contract
      val dirty = ws.map(w => w.take(2) + w.drop(3)).toDF("name")
      val out = JoinOps.fuzzyMatch(dirty, clean, maxDist = 2)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // every dirty word matches, at distance ≤ 1 (its origin is one
      // deletion away; a closer different-first-letter word is blocked
      // out by construction)
      assert(out.length == ws.map(w => w.take(2) + w.drop(3)).distinct.size)
      assert(out.forall(_._3 <= 1), out.mkString(","))
    }
  }

  test("binnedRangeJoin ≡ naive point-in-interval for ANY points/intervals/width") {
    import graft.operators.RangeBin
    val inputs = for {
      pts <- Gen.nonEmptyListOf(Gen.choose(-50L, 150L))
      ivs <- Gen.nonEmptyListOf(for {
        lo <- Gen.choose(-60L, 140L); len <- Gen.choose(0L, 40L)
      } yield (lo, lo + len))
      w <- Gen.oneOf(1L, 3L, 7L, 64L)
    } yield (pts.distinct, ivs.distinct, w)
    forAllSeeded(inputs) { case (pts, ivs, w) =>
      val p = pts.toDF("p")
      val iv = ivs.zipWithIndex.map { case ((lo, hi), i) =>
        (i.toLong, lo, hi) }.toDF("iid", "lo", "hi")
      val got = RangeBin.binnedRangeJoin(p, "p", iv, "lo", "hi", w)
        .select("p", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = (for {
        pt <- pts
        ((lo, hi), i) <- ivs.zipWithIndex
        if pt >= lo && pt <= hi
      } yield (pt, i.toLong)).sorted
      assert(got == want, s"w=$w pts=$pts ivs=$ivs")
    }
  }

  test("binnedIntervalJoin ≡ naive overlap for ANY intervals/width (no dup pairs)") {
    import graft.operators.RangeBin
    val inputs = for {
      as <- Gen.nonEmptyListOf(for {
        lo <- Gen.choose(-40L, 100L); len <- Gen.choose(0L, 30L)
      } yield (lo, lo + len))
      bs <- Gen.nonEmptyListOf(for {
        lo <- Gen.choose(-40L, 100L); len <- Gen.choose(0L, 30L)
      } yield (lo, lo + len))
      w <- Gen.oneOf(1L, 5L, 16L)
    } yield (as.distinct, bs.distinct, w)
    forAllSeeded(inputs) { case (as, bs, w) =>
      val a = as.zipWithIndex.map { case ((lo, hi), i) =>
        (i.toLong, lo, hi) }.toDF("aid", "alo", "ahi")
      val b = bs.zipWithIndex.map { case ((lo, hi), i) =>
        (i.toLong, lo, hi) }.toDF("bid", "blo", "bhi")
      val got = RangeBin.binnedIntervalJoin(a, "alo", "ahi", b, "blo", "bhi", w)
        .select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = (for {
        ((alo, ahi), i) <- as.zipWithIndex
        ((blo, bhi), j) <- bs.zipWithIndex
        if alo <= bhi && blo <= ahi
      } yield (i.toLong, j.toLong)).sorted
      assert(got == want, s"w=$w as=$as bs=$bs")
      assert(got.distinct == got, "pair emitted more than once")
    }
  }

  test("asofJoin ≡ naive latest-at-or-before for ANY series") {
    import graft.operators.AsOf
    val inputs = for {
      evs <- Gen.nonEmptyListOf(for {
        u <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 100L)
      } yield (u, t))
      ors <- Gen.nonEmptyListOf(for {
        u <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 100L)
      } yield (u, t))
    } yield (evs.distinct, ors.distinct)
    forAllSeeded(inputs) { case (evs, ors) =>
      def ts(t: Long) = new java.sql.Timestamp(1700000000000L + t * 60000L)
      val left = evs.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, u, ts(t)) }.toDF("event_id", "eu", "ets")
      val right = ors.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, u, ts(t)) }.toDF("okey", "ou", "odate")
      val got = AsOf.asofJoin(left, right, "eu", "ou", "ets", "odate",
          "okey", keepUnmatched = false)
        .select("event_id", "okey").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = evs.zipWithIndex.flatMap { case ((u, t), i) =>
        val cands = ors.zipWithIndex.filter { case ((ou, ot), _) =>
          ou == u && ot <= t }
        if (cands.isEmpty) None
        // ties to the highest (odate, okey): max by (time, key)
        else Some(i.toLong -> cands.maxBy { case ((_, ot), j) => (ot, j) }._2.toLong)
      }.toMap
      assert(got == want, s"evs=$evs ors=$ors")
    }
  }

  test("nearestJoin ≡ naive closest-in-time fold for ANY series") {
    // The r15 two-scan window rewrite against the brute-force
    // definition: per left row, min over all same-key right rows of
    // (|Δt|, t, tieBreak) — equidistant breaks to the earlier time,
    // same-time to the smaller key. Longs as times (the API's
    // epoch-second contract).
    import graft.operators.AsOf
    val inputs = for {
      evs <- Gen.nonEmptyListOf(for {
        u <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 60L)
      } yield (u, t))
      ors <- Gen.nonEmptyListOf(for {
        u <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 60L)
      } yield (u, t))
    } yield (evs.distinct, ors.distinct)
    forAllSeeded(inputs) { case (evs, ors) =>
      val left = evs.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, u, t) }.toDF("event_id", "eu", "ets")
      val right = ors.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong, u, t) }.toDF("okey", "ou", "ot")
      val got = AsOf.nearestJoin(left, right, "eu", "ou", "ets", "ot",
          "okey", keepUnmatched = false)
        .select("event_id", "okey").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = evs.zipWithIndex.flatMap { case ((u, t), i) =>
        val cands = ors.zipWithIndex.filter { case ((ou, _), _) => ou == u }
        if (cands.isEmpty) None
        else Some(i.toLong -> cands.minBy { case ((_, ot), j) =>
          (math.abs(ot - t), ot, j.toLong) }._2.toLong)
      }.toMap
      assert(got == want, s"evs=$evs ors=$ors")
    }
  }

  test("funnelTimes ≡ sequential reference fold for ANY event stream") {
    import graft.operators.WindowOps
    val steps = Seq("a", "b", "c")
    val evs = Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 3L)
      ty <- Gen.oneOf("a", "b", "c", "x")
      t <- Gen.choose(0L, 50L)
    } yield (u, ty, t))
    forAllSeeded(evs) { rows =>
      val df = rows.toDF("user_id", "event_type", "es")
      val got = WindowOps.funnelTimes(df, steps, windowSec = 10L)
        .collect().map(r => r.getLong(0) ->
          (1 to 3).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))
        .toMap
      for ((u, urows) <- rows.groupBy(_._1)) {
        // reference: t1 = min a; t_k = min step-k strictly after
        // t_{k-1} within 10s
        var prev: Option[Long] = None
        val want = steps.map { st =>
          val cands = urows.filter(_._2 == st).map(_._3).filter(t =>
            prev match {
              case None => st == steps.head
              case Some(p) => t > p && t <= p + 10L
            })
          val tk = if (st == steps.head)
            urows.filter(_._2 == st).map(_._3).minOption
          else if (prev.isEmpty) None
          else cands.minOption
          prev = tk
          tk
        }
        assert(got(u) == want, s"user $u: got ${got(u)}, want $want ($urows)")
      }
    }
  }

  test("Morton interleave2 ≡ per-bit reference for ANY bucket pair") {
    import graft.operators.ZOrder
    // The magic-number shift/mask spread is the classic subtle-bug
    // site — check against a direct per-bit reference for all 8-bit
    // bucket pairs drawn at random (and the corner values explicitly).
    val pairs = Gen.listOfN(32, for {
      x <- Gen.choose(0L, 255L); y <- Gen.choose(0L, 255L)
    } yield (x, y)).map(_ ++ Seq((0L, 0L), (255L, 255L), (0L, 255L),
      (255L, 0L), (1L, 128L)))
    forAllSeeded(pairs) { ps =>
      val got = ps.toDF("x", "y")
        .select(col("x"), col("y"),
          ZOrder.interleave2(col("x"), col("y")).as("z"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      for (((x, y), z) <- got) {
        val want = (0 until 8).map { b =>
          (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))
        }.reduce(_ | _)
        assert(z == want, f"interleave($x, $y): got $z%d, want $want%d")
      }
    }
  }

  test("scd2Compress ≡ reference run-compression for ANY change history") {
    import graft.operators.DomainOps
    val hist = Gen.nonEmptyListOf(for {
      k <- Gen.choose(1L, 3L)
      t <- Gen.choose(0L, 30L)
      a <- Gen.oneOf("A", "B", "C")
    } yield (k, t, a))
    forAllSeeded(hist) { rows0 =>
      // chSeq = position: unique tie-break for equal (key, chTs)
      val rows = rows0.zipWithIndex.map { case ((k, t, a), i) =>
        (k, t, i.toLong, a)
      }
      val got = DomainOps.scd2Compress(
          rows.toDF("key", "chTs", "chSeq", "attr"))
        .collect().map(r => (r.getLong(0), r.getLong(4),
          r.getString(3), r.getLong(1),
          if (r.isNullAt(5)) None else Some(r.getLong(5))))
        .toSet
      val want = rows.groupBy(_._1).flatMap { case (k, rs) =>
        val ordered = rs.sortBy(r => (r._2, r._3))
        // collapse consecutive equal attrs, keep the first of each run
        val runs = ordered.foldLeft(Vector.empty[(Long, Long, String)]) {
          case (acc, (_, t, sq, a)) =>
            if (acc.nonEmpty && acc.last._3 == a) acc
            else acc :+ ((t, sq, a))
        }
        runs.zipWithIndex.map { case ((t, _, a), i) =>
          (k, (i + 1).toLong, a, t,
            runs.lift(i + 1).map(_._1))
        }
      }.toSet
      assert(got == want, s"got $got, want $want (rows $rows)")
    }
  }

  test("retentionTriangle ≡ reference cohort counts for ANY activity set") {
    import graft.operators.WindowOps
    val act = Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 6L); wk <- Gen.choose(100L, 110L)
    } yield (u, wk)).map(_.distinct)
    forAllSeeded(act) { rows =>
      val got = WindowOps.retentionTriangle(rows.toDF("user_id", "week"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val cohorts = rows.groupBy(_._1).map { case (u, l) =>
        u -> l.map(_._2).min }
      val want = rows.groupBy { case (u, wk) =>
        (cohorts(u), wk - cohorts(u)) }
        .map { case (k, l) => k -> l.map(_._1).distinct.size.toLong }
      assert(got == want, s"got $got, want $want (rows $rows)")
    }
  }

  test("retentionMerge: ANY chunking and arrival order of ANY week " +
    "multiset folds to the same (cohort, offsets) — the set-union " +
    "algebra behind stream_retention") {
    import graft.streaming.StreamOps
    // Random week multiset (duplicates deliberate — the bitmask must
    // dedup), random chunk boundaries, random permutation.
    val gen = for {
      weeks <- Gen.nonEmptyListOf(Gen.choose(100L, 160L)) // ≤ 61 offsets
      perm <- Gen.choose(0, 5)
      cuts <- Gen.listOfN(2, Gen.choose(0, weeks.size))
    } yield (weeks, perm, cuts.sorted)
    forAllSeeded(gen, n = 10) { case (weeks, perm, Seq(c1, c2)) =>
      // Deterministic permutation variants: identity, reverse, rotate.
      val arranged = perm % 3 match {
        case 0 => weeks
        case 1 => weeks.reverse
        case _ => weeks.drop(perm) ++ weeks.take(perm)
      }
      val chunks = Seq(arranged.slice(0, c1), arranged.slice(c1, c2),
        arranged.slice(c2, arranged.size)).filter(_.nonEmpty)
      val folded = chunks.foldLeft(Option.empty[(Long, Array[Long])]) {
        (st, chunk) =>
          val (cohort, mask, _) = StreamOps.retentionMerge(st, chunk, 1, 0L)
          Some((cohort, mask))
      }
      val (cohort, _, offsets) = StreamOps.retentionMerge(folded, Nil, 1, 0L)
      val ref = weeks.distinct.sorted
      assert(cohort == ref.head && offsets.toList == ref.map(_ - ref.head),
        s"fold drifted: ($cohort, ${offsets.toList}) vs $ref " +
          s"(weeks=$weeks chunks=$chunks)")
      // Idempotence: re-merging the whole multiset changes nothing.
      val (c2nd, _, o2nd) = StreamOps.retentionMerge(folded, weeks, 1, 0L)
      assert(c2nd == cohort && o2nd.toList == offsets.toList,
        "re-merge must be idempotent")
    }
  }

  test("latestRevision ≡ per-cell highest-revision reference for ANY stack") {
    import graft.plans.CubePipeline
    // Random cells across 3 revisions; absent-from-newer cells must
    // survive from older revisions (the read-time merge contract).
    val stacks = Gen.listOfN(3, Gen.listOf(for {
      region <- Gen.oneOf("01", "02", "11")
      t <- Gen.choose(2019, 2021)
      m <- Gen.oneOf("A", "B")
      v <- Gen.choose(0, 9999)
    } yield (region, t, m, v.toDouble)).map(_.distinctBy(c => (c._1, c._2, c._3))))
    forAllSeeded(stacks) { revs0 =>
      val revs = revs0.zipWithIndex.collect {
        case (cells, i) if cells.nonEmpty =>
          (cells.toDF("region", "time", "measure", "value")
            .withColumn("cube", lit("c"))
            .withColumn("dims",
              map_from_arrays(array(lit("D")), array(lit("x"))))
            .withColumn("quality", lit("e"))
            .select("cube", "region", "dims", "time", "measure",
              "value", "quality"),
            i + 1)
      }
      if (revs.nonEmpty) {
        val got = CubePipeline.latestRevision(revs)
          .select("region", "time", "measure", "value", "revision")
          .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)) ->
            (r.getDouble(3), r.getInt(4))).toMap
        val want = revs0.zipWithIndex
          .flatMap { case (cells, i) =>
            cells.map(c => (c._1, c._2, c._3) -> (c._4, i + 1)) }
          .groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).maxBy(_._2) }
        assert(got == want, s"got $got, want $want")
      }
    }
  }

  test("islands ≡ reference run-splitting for ANY activity set") {
    import graft.operators.WindowOps
    val act = Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 4L); i <- Gen.choose(0L, 40L)
    } yield (u, i)).map(_.distinct)
    forAllSeeded(act) { rows =>
      val got = WindowOps.islands(rows.toDF("user_id", "idx"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val want = rows.groupBy(_._1).flatMap { case (u, l) =>
        val sorted = l.map(_._2).distinct.sorted
        sorted.foldLeft(Vector.empty[(Long, Long)]) { (runs, i) =>
          if (runs.nonEmpty && runs.last._2 == i - 1)
            runs.init :+ (runs.last._1, i)
          else runs :+ (i, i)
        }.map { case (s, e) => (u, s, e, e - s + 1) }
      }.toSet
      assert(got == want, s"got $got, want $want (rows $rows)")
    }
  }

  test("aggFlags ≡ reference flag-aware sums for ANY flagged cells") {
    import graft.plans.CubePipeline
    val cells = Gen.nonEmptyListOf(for {
      m <- Gen.oneOf("A", "B")
      t <- Gen.choose(2019, 2020)
      v <- Gen.option(Gen.choose(0, 9999))
      q <- Gen.oneOf(CubePipeline.knownFlags)
    } yield (m, t, v, q))
    forAllSeeded(cells) { cs =>
      val df = cs.map { case (m, t, v, q) =>
        ("c", m, t, v.map(BigDecimal(_)).orNull, q)
      }.toDF("cube", "measure", "time", "value", "quality")
      val exclude = Set("p", "x")
      val got = CubePipeline.aggFlags(df, exclude)
        .select("measure", "time", "sum_ok", "n_used", "n_excluded")
        .collect().map(r => (r.getString(0), r.getInt(1)) ->
          (Option(r.getDecimal(2)).map(BigDecimal(_)), r.getLong(3),
            r.getLong(4))).toMap
      val want = cs.groupBy(c => (c._1, c._2)).map { case (k, l) =>
        val okRows = l.filterNot(c => exclude(c._4))
        val used = okRows.flatMap(_._3)
        k -> (
          if (used.isEmpty) None else Some(BigDecimal(used.sum)),
          used.size.toLong,
          l.count(c => exclude(c._4)).toLong)
      }
      assert(got.keySet == want.keySet)
      for ((k, (s1, n1, e1)) <- got; (s2, n2, e2) = want(k)) {
        assert(s1.map(_.toLong) == s2.map(_.toLong) && n1 == n2 && e1 == e2,
          s"$k: got ($s1,$n1,$e1), want ($s2,$n2,$e2)")
      }
    }
  }

  test("regionRollup ≡ reference prefix sums at every level for ANY cells") {
    import graft.plans.CubePipeline
    val cells = Gen.nonEmptyListOf(for {
      land <- Gen.choose(1, 3)
      kreis <- Gen.choose(0, 2)
      gem <- Gen.choose(0, 2)
      v <- Gen.choose(0, 999)
      q <- Gen.oneOf("e", "p", "r")
    } yield (f"$land%02d$kreis%03d$gem%03d", v, q))
    forAllSeeded(cells) { cs0 =>
      // one cell per region (finest level only, the documented contract)
      val cs = cs0.distinctBy(_._1)
      val df = cs.map { case (r, v, q) =>
        ("c", r, 2020, "M", BigDecimal(v), q)
      }.toDF("cube", "region", "time", "measure", "value", "quality")
      val got = CubePipeline.regionRollup(df)
        .select("level", "region_prefix", "sum_ok", "n_used")
        .collect().map(r => (r.getInt(0), r.getString(1)) ->
          (Option(r.getDecimal(2)).map(_.longValue), r.getLong(3))).toMap
      def ref(pred: String => Boolean) = {
        val ok = cs.filter(c => pred(c._1) && c._3 != "p")
        (if (ok.isEmpty) None else Some(ok.map(_._2).sum.toLong),
          ok.size.toLong)
      }
      val prefixes2 = cs.map(_._1.take(2)).distinct
      val prefixes5 = cs.map(_._1.take(5)).distinct
      val prefixes8 = cs.map(_._1).distinct
      val want =
        prefixes2.map(p => (2, p) -> ref(_.startsWith(p))).toMap ++
        prefixes5.map(p => (5, p) -> ref(_.startsWith(p))).toMap ++
        prefixes8.map(p => (8, p) -> ref(_ == p)).toMap +
        ((0, "DG") -> ref(_ => true))
      assert(got == want, s"got $got, want $want")
    }
  }

  test("CDC last-writer fold ≡ reference for ANY changelog") {
    import graft.streaming.StreamOps
    val log = Gen.nonEmptyListOf(for {
      key <- Gen.choose(1L, 4L)
      seq <- Gen.choose(1L, 50L)
      del <- Gen.oneOf(true, false)
      v <- Gen.choose(0, 9999).map(_ / 10.0)
    } yield (key, seq, del, v))
    forAllSeeded(log) { rows0 =>
      // unique (key, seq, eid): eid = position disambiguates equal seqs
      val rows = rows0.zipWithIndex.map { case ((k, sq, del, v), i) =>
        (k, sq, i.toLong, if (del) "D" else "U", v)
      }
      val got = StreamOps.cdcState(rows.toDF("k", "seq", "eid", "op", "v"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      val want = rows.groupBy(_._1).flatMap { case (k, rs) =>
        val last = rs.maxBy(r => (r._2, r._3))
        if (last._4 == "D") None else Some(k -> (last._2, last._5))
      }
      assert(got == want, s"got $got, want $want")
    }
  }

  test("urlDedup ≡ local canonicalization + min-keep for ANY url set") {
    import graft.llm.LlmDedup
    val urls = Gen.nonEmptyListOf(for {
      // a.example.com / b.example.com parse; img_cdn.example.com has an
      // UNDERSCORE — java.net.URI (behind parse_url) returns NULL host
      // for it, exercising the unparsed-URL fallback (raw URL as its
      // own canonical, never pooled with other unparseables).
      host <- Gen.oneOf("a.example.com", "b.example.com",
        "cdn.b.example.com", "img_cdn.example.com")
      www <- Gen.oneOf(true, false)
      up <- Gen.oneOf(true, false)
      seg <- Gen.choose(0, 5)
      slash <- Gen.oneOf(true, false)
      q <- Gen.option(Gen.oneOf("utm_source=x", "id=7"))
      f <- Gen.option(Gen.const("sec"))
    } yield {
      val h0 = (if (www) "www." else "") + host
      val h = if (up) h0.toUpperCase else h0
      s"https://$h/p/$seg" + (if (slash) "/" else "") +
        q.map("?" + _).getOrElse("") + f.map("#" + _).getOrElse("")
    })
    forAllSeeded(urls) { us =>
      val rows = us.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      val got = LlmDedup.urlDedup(rows.toDF("doc_id", "url"))
        .collect().map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
      // Independent reference: regex parse (no parse_url), same rules —
      // lowercase host, strip leading www., strip trailing slash, drop
      // query+fragment; keep = min doc_id per canonical. Parseability
      // mirrors the operator's contract (java.net.URI host), so
      // underscored hosts take the unparsed-raw-URL fallback.
      def canon(u: String): String = {
        val parses = Option(new java.net.URI(u).getHost).isDefined
        if (!parses) "unparsed:" + u
        else {
          val m = "https?://([^/?#]+)(/[^?#]*)?".r.findFirstMatchIn(u).get
          val host = m.group(1).toLowerCase.replaceFirst("^www\\.", "")
          val path = Option(m.group(2)).getOrElse("").replaceFirst("/$", "")
          host + path
        }
      }
      val byId = rows.toMap
      val minPer = rows.groupBy { case (_, u) => canon(u) }
        .map { case (c, l) => c -> l.map(_._1).min }
      assert(got.length == rows.size)
      got.foreach { case (id, c, keep) =>
        assert(c == canon(byId(id)), s"canonical mismatch for ${byId(id)}")
        assert(keep == (minPer(c) == id), s"keep mismatch for ${byId(id)}")
      }
    }
  }

  test("nearDupFlags ≡ local portable-minhash banding + first-seen fold for ANY corpus") {
    // Independent reference for stream_neardup's WHOLE chain —
    // shingling, 48-bit md5 base hash, 16 affine minima, 8 band keys,
    // first-seen bucket owners in doc_id order — rebuilt from scratch
    // (MessageDigest + a mutable owner map), NOT by replaying the
    // operator's column expressions: the DuckDB oracle replays the
    // algorithm, so a shared algorithmic bug would hash-match green
    // there (the r9 triangle-orientation lesson); this fold is the
    // independent pin.
    import graft.streaming.StreamOps
    val vocab = Vector("ai", "be", "cu", "do", "el", "fa", "go", "hi")
    val docsGen = Gen.nonEmptyListOf(for {
      n <- Gen.choose(0, 12) // includes <3-token docs (no shingles)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" "))
    forAllSeeded(docsGen) { texts0 =>
      // plant an exact near-copy of the first doc at the end so every
      // sample exercises the hit path, not just bucket claims
      val texts = texts0 :+ texts0.head
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = StreamOps.nearDupFlags(rows.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSeq.sortBy(_._1)
      def shingles(t: String): Seq[String] = {
        val toks = t.split(" ", -1)
        if (toks.length < 3) Seq.empty
        else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
      }
      def u48(s: String): Long = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
          .take(6).map(b => f"$b%02x").mkString, 16)
      val mask = (1L << 48) - 1
      def bkeys(t: String): Seq[String] = {
        val us = shingles(t).map(u48)
        if (us.isEmpty) Seq.empty
        else {
          val mins = (0 until 16).map(i =>
            us.map(u => ((2L * i + 3) * u + 1000003L * i) & mask).min)
          (0 until 8).map(b => s"$b:${mins(2 * b)}:${mins(2 * b + 1)}")
        }
      }
      val owner = scala.collection.mutable.Map.empty[String, Long]
      val want = rows.map { case (id, t) =>
        val nHit = bkeys(t).count { k =>
          owner.get(k) match {
            case Some(o) => o != id
            case None => owner(k) = id; false
          }
        }
        (id, nHit.toLong, nHit > 0)
      }
      assert(got == want, s"got ${got.take(8)}, want ${want.take(8)}")
    }
  }

  test("Wilson interval ≡ local formula for ANY counts, and stays in [0,1]") {
    // Independent recomputation of agg_wilson's interval from raw
    // (group, success) rows — same z, same formula in plain scala.math
    // — plus the property that sells Wilson over the textbook normal
    // interval: the bounds never leave [0, 1] for ANY k/n.
    val rowGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b", "c")
      hit <- Gen.oneOf(true, false)
    } yield (g, hit))
    val z = 1.959963984540054
    val z2 = z * z
    forAllSeeded(rowGen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((g, h), i) =>
          (i.toLong, g, if (h) 150.0 else 50.0) }
        .toDF("event_id", "event_type", "value")
      // same shape as the key, over the synthetic frame
      val got = {
        val gr = df.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") >= 100, 1L).otherwise(0L)).as("k"))
        val n = col("n").cast("double")
        val p = col("k").cast("double") / n
        val denom = lit(1.0) + lit(z2) / n
        val center = (p + lit(z2) / (lit(2.0) * n)) / denom
        val half = (lit(z) *
          sqrt(p * (lit(1.0) - p) / n + lit(z2) / (lit(4.0) * n * n))) / denom
        gr.select(col("event_type"),
            round(center - half, 6).as("lo"),
            round(center + half, 6).as("hi"))
          .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
          .toMap
      }
      val want = rows.groupBy(_._1).map { case (g, xs) =>
        val n = xs.size.toDouble
        val k = xs.count(_._2).toDouble
        val p = k / n
        val denom = 1.0 + z2 / n
        val center = (p + z2 / (2.0 * n)) / denom
        val half = (z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))) / denom
        def r6(x: Double) = BigDecimal(x)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        g -> (r6(center - half), r6(center + half))
      }
      assert(got == want, s"got $got want $want")
      got.values.foreach { case (lo, hi) =>
        assert(lo >= 0.0 && hi <= 1.0 && lo <= hi,
          s"Wilson bounds must stay in [0,1]: ($lo, $hi)")
      }
    }
  }

  test("psiDrift ≡ local smoothed-PSI fold for ANY two populations") {
    // Independent reference: plain Scala counts + add-one smoothing +
    // the PSI sum (folded over sorted buckets — a DIFFERENT double
    // summation order than Spark's partition order, so agreement at
    // round(·, 6) also exercises the §7.5 rounding fence).
    val rowGen = Gen.nonEmptyListOf(for {
      b <- Gen.oneOf("a", "b", "c", "d", "e")
      s <- Gen.oneOf(0, 1)
    } yield (b, s))
    forAllSeeded(rowGen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((b, s), i) => (i.toLong, b, s) }
        .toDF("id", "bucket", "side")
      val got = graft.operators.DomainOps.psiDrift(df, col("side"),
          Seq("f" -> col("bucket")))
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
        .toSeq
      val buckets = rows.map(_._1).distinct.sorted
      val k = buckets.size
      val nb = rows.count(_._2 == 0)
      val nc = rows.count(_._2 == 1)
      val psi = buckets.map { b =>
        val cb = rows.count(r => r._1 == b && r._2 == 0)
        val cc = rows.count(r => r._1 == b && r._2 == 1)
        val pb = (cb + 1).toDouble / (nb + k)
        val pc = (cc + 1).toDouble / (nc + k)
        (pc - pb) * math.log(pc / pb)
      }.sum
      val want = BigDecimal(psi)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got == Seq(("f", k.toLong, want, want >= 0.1)),
        s"got $got want psi=$want k=$k")
    }
  }

  test("seedDistance ≡ local capped BFS for ANY graph and seed rule") {
    // Independent reference: plain BFS frontier expansion capped at
    // `depth`, rebuilt with Scala collections (the oracle unrolls the
    // operator's own min-plus rounds, so a shared off-by-one in the
    // relaxation would pass there; BFS is a structurally different
    // computation of the same function).
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 14L); d <- Gen.choose(1L, 14L)
    } yield { val b = (a + d) % 15; (math.min(a, b), math.max(a, b)) })
      .map(_.distinct)
    forAllSeeded(edgeGen) { und =>
      val dirs = und ++ und.map { case (a, b) => (b, a) }
      val depth = 3
      val got = graft.llm.LlmGraph.seedDistance(
          dirs.toDF("src", "dst"), col("node") % 4 === 0, depth)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val adj = dirs.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      val nodes = adj.keySet
      var dist = nodes.filter(_ % 4 == 0).map(_ -> 0L).toMap
      var frontier = dist.keySet
      (1 to depth).foreach { lvl =>
        frontier = frontier.flatMap(adj.getOrElse(_, Nil))
          .filterNot(dist.contains)
        dist ++= frontier.map(_ -> lvl.toLong)
      }
      val want = nodes.map(n => n -> dist.getOrElse(n, -1L)).toMap
      assert(got == want, s"got ${got.toSeq.sorted.take(8)}, " +
        s"want ${want.toSeq.sorted.take(8)}")
    }
  }

  test("seedDistance ≡ forward-BFS for ANY DIRECTED graph (sinks included, " +
    "both paths)") {
    // r15 (driver-r11 ADVICE): the node universe previously came from src
    // endpoints only, so a pure SINK (dst-only node) was silently
    // absent for directed callers. Directed generator — no mirroring,
    // self-loop-free, so sinks occur constantly. Reference: dist(v) =
    // min hops FORWARD (along edge direction) to a seed, computed by
    // frontier expansion over REVERSED edges — structurally different
    // from the operator's min-plus rounds. Both the generic and the
    // assumeSimple path must match it and cover every endpoint.
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 14L); d <- Gen.choose(1L, 14L)
    } yield (a, (a + d) % 15)).map(_.distinct)
    forAllSeeded(edgeGen) { dirs =>
      val depth = 3
      val nodes = dirs.flatMap(e => Seq(e._1, e._2)).toSet
      val radj = dirs.groupBy(_._2).map { case (t, es) => t -> es.map(_._1) }
      var dist = nodes.filter(_ % 4 == 0).map(_ -> 0L).toMap
      var frontier = dist.keySet
      (1 to depth).foreach { lvl =>
        frontier = frontier.flatMap(radj.getOrElse(_, Nil))
          .filterNot(dist.contains)
        dist ++= frontier.map(_ -> lvl.toLong)
      }
      val want = nodes.map(n => n -> dist.getOrElse(n, -1L)).toMap
      Seq(true, false).foreach { simple =>
        val got = graft.llm.LlmGraph.seedDistance(
            dirs.toDF("src", "dst"), col("node") % 4 === 0, depth,
            assumeSimple = simple)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got == want, s"simple=$simple: got ${got.toSeq.sorted.take(8)}" +
          s", want ${want.toSeq.sorted.take(8)}")
      }
    }
  }

  test("assocRules ≡ local pair-count fold for ANY baskets") {
    // Independent reference: nested-loop pair counting over Scala
    // collections (the operator expands via graft_pairs and mirrors;
    // the reference walks ordered pairs directly — an expansion,
    // mirror, or support-join bug cannot agree). Small item space so
    // baskets collide constantly.
    val basketGen = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.choose(1L, 8L)).map(_.distinct.sorted))
    forAllSeeded(basketGen) { baskets =>
      val df = baskets.zipWithIndex
        .map { case (items, i) => (i.toLong, items) }
        .toDF("basket_id", "items")
      val got = graft.llm.LlmGraph.assocRules(df, minPairSupport = 1)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6))))
        .toMap
      val n = baskets.size.toDouble
      val isup = baskets.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val sab = baskets
        .flatMap(b => for (x <- b; y <- b if x != y) yield (x, y))
        .groupBy(identity).view.mapValues(_.size).toMap
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val want = sab.map { case ((a, b), s) =>
        (a, b) -> ((s.toLong, isup(a).toLong, isup(b).toLong,
          r6(s.toDouble / isup(a)),
          r6((s.toDouble * n) / (isup(a).toDouble * isup(b).toDouble))))
      }
      assert(got == want,
        s"got ${got.toSeq.sorted.take(4)}, want ${want.toSeq.sorted.take(4)}")
    }
  }

  test("marketShare ≡ local snowflake fold for ANY random tables") {
    // Independent reference: hash-map lookups through the snowflake in
    // plain Scala with BigDecimal revenue — the operator composes
    // seven joins; a wrong join key, a leaked region, or an unfiltered
    // part cannot agree. Keys deliberately include dangling references
    // (orders to missing customers etc. drop out of inner joins on
    // both sides).
    val gen = for {
      nations <- Gen.listOfN(3, Gen.choose(1L, 4L)).map(_.distinct)
      regions = Map(1L -> "EUROPE", 2L -> "ASIA")
      natRegion <- Gen.listOfN(nations.size, Gen.choose(1L, 2L))
      custs <- Gen.listOfN(4, Gen.zip(Gen.choose(1L, 9L), Gen.choose(1L, 4L)))
        .map(_.distinctBy(_._1))
      supps <- Gen.listOfN(3, Gen.zip(Gen.choose(1L, 9L), Gen.choose(1L, 4L)))
        .map(_.distinctBy(_._1))
      parts <- Gen.listOfN(3, Gen.zip(Gen.choose(1L, 6L), Gen.choose(1, 30)))
        .map(_.distinctBy(_._1))
      orders <- Gen.listOfN(5, for {
        ok <- Gen.choose(1L, 9L); ck <- Gen.choose(1L, 9L)
        yr <- Gen.choose(1995, 1997)
      } yield (ok, ck, yr)).map(_.distinctBy(_._1))
      lis <- Gen.nonEmptyListOf(for {
        ok <- Gen.choose(1L, 9L); pk <- Gen.choose(1L, 6L)
        sk <- Gen.choose(1L, 9L); pr <- Gen.choose(1, 40000).map(_ / 4.0)
        di <- Gen.choose(0, 40).map(_ / 100.0)
      } yield (ok, pk, sk, pr, di))
    } yield (nations.zip(natRegion), regions, custs, supps, parts,
      orders, lis)
    forAllSeeded(gen) { case (nats, regions, custs, supps, parts, ords, lis) =>
      import java.sql.Timestamp
      val nationDf = nats.map { case (nk, rk) => (nk, s"N_$nk", rk) }
        .toDF("n_nationkey", "n_name", "n_regionkey")
      val regionDf = regions.toSeq.toDF("r_regionkey", "r_name")
      val custDf = custs.toDF("c_custkey", "c_nationkey")
      val suppDf = supps.toDF("s_suppkey", "s_nationkey")
      val ordDf = ords.map { case (ok, ck, yr) =>
        (ok, ck, Timestamp.valueOf(s"$yr-06-01 00:00:00")) }
        .toDF("o_orderkey", "o_custkey", "o_orderdate")
      val partDf = parts.toDF("p_partkey", "p_size")
      val liDf = lis.toDF("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
      val got = graft.operators.AggOps.marketShare(liDf, partDf, ordDf,
          custDf, nationDf, regionDf, suppDf, region0 = "EUROPE",
          maxPartSize = 15)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getDouble(2), r.getDouble(3)))).toMap
      // local fold
      def d4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      val natRegion = nats.toMap
      val natName = nats.map { case (nk, _) => nk -> s"N_$nk" }.toMap
      val custNat = custs.toMap
      val suppNat = supps.toMap
      val partSize = parts.toMap
      val ordInfo = ords.map { case (ok, ck, yr) => ok -> ((ck, yr)) }.toMap
      val rev = scala.collection.mutable.Map[(Long, String), BigDecimal]()
      for ((ok, pk, sk, pr, di) <- lis) {
        val keep = for {
          sz <- partSize.get(pk) if sz < 15
          (ck, yr) <- ordInfo.get(ok)
          cn <- custNat.get(ck)
          rk <- natRegion.get(cn) if regions.get(rk).contains("EUROPE")
          sn <- suppNat.get(sk)
          _ <- natRegion.get(sn) // supplier nation must exist to join
        } yield (yr.toLong, natName(sn))
        keep.foreach { k =>
          rev(k) = rev.getOrElse(k, BigDecimal(0)) +
            d4(pr) * (BigDecimal(1) - d4(di))
        }
      }
      def r(x: BigDecimal, s: Int) = x.setScale(s, BigDecimal.RoundingMode.HALF_UP)
      val byYear = rev.groupBy(_._1._1).view
        .mapValues(_.values.sum).toMap
      val want = rev.map { case ((yr, nat), nr) =>
        (yr, nat) -> ((r(nr, 2).toDouble,
          BigDecimal(nr.toDouble / byYear(yr).toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }.toMap
      assert(got == want, s"got ${got.toSeq.sorted.take(4)}, " +
        s"want ${want.toSeq.sorted.take(4)}")
    }
  }

  test("agg_mad ≡ local sorted-median fold for ANY grouped values") {
    // Independent reference: sort + linear-interpolated median in
    // plain Scala (Spark's percentile formula: pos = p·(n−1), lower +
    // frac·(upper−lower)), twice — once on values, once on absolute
    // deviations — then the 3·1.4826·MAD gate. Values are DYADIC
    // (k/4.0) so medians and deviations are exact doubles and the
    // fold can assert BIT-equal medians and exact outlier counts.
    val rowGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b")
      v <- Gen.choose(0, 400).map(_ / 4.0)
    } yield (g, v))
    forAllSeeded(rowGen) { rows =>
      val tmp = s"/tmp/graft_mad_prop_${System.nanoTime()}"
      rows.zipWithIndex
        .map { case ((g, v), i) => (i.toLong, g, v) }
        .toDF("event_id", "event_type", "value")
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        .withColumn("user_id", lit(1L))
        .withColumn("props", lit("{}"))
        .write.parquet(s"$tmp/events.parquet")
      val got = graft.operators.AggOps.queries("agg_mad")(spark, tmp)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
        .toMap
      def medOf(xs: Seq[Double]): Double = {
        val s = xs.sorted
        val pos = 0.5 * (s.size - 1)
        val lo = pos.toInt
        if (lo + 1 >= s.size) s(lo)
        else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
      }
      def r4(x: Double) =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val vs = rs.map(_._2)
        val med = medOf(vs)
        val adev = vs.map(v => math.abs(v - med))
        val mad = medOf(adev)
        g -> ((vs.size.toLong, r4(med), r4(mad),
          adev.count(_ > 3 * 1.4826 * mad).toLong))
      }
      assert(got == want, s"got $got, want $want")
    }
  }

  test("decayedCounts ≡ exact BigInt power fold for ANY grouped days") {
    // Independent reference: Σ 2^(50−age) as exact BigInt, divided by
    // 2^50 in BigDecimal — the operator runs a decimal-buffer sum and
    // a double exponent shift; an off-by-one age, a wrong cutoff, or
    // a lossy sum cannot agree. Offsets past 50 exercise the cutoff.
    val rowGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b")
      off <- Gen.oneOf(Gen.choose(0, 8), Gen.choose(45, 60))
    } yield (g, off))
    forAllSeeded(rowGen) { rows =>
      val base = java.time.LocalDate.parse("2024-01-01")
      val df = rows.map { case (g, off) =>
        (g, java.sql.Date.valueOf(base.plusDays(off)))
      }.toDF("g", "day")
      val got = graft.operators.AggOps.decayedCounts(df)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2)))).toMap
      val refDay = rows.map(_._2).max
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val s = rs.map { case (_, off) =>
          val age = refDay - off
          if (age <= 50) BigInt(1) << (50 - age) else BigInt(0)
        }.sum
        // Mirror the operator's emit exactly: exact-integer sum →
        // correctly-rounded double cast → exponent-shift ÷2^50 →
        // round-6 (a >2^53 sum rounds at the CAST on both sides).
        val d = BigDecimal(s.toDouble / math.pow(2, 50))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        g -> ((rs.size.toLong, d))
      }
      assert(got == want, s"got $got, want $want")
    }
  }

  test("selectBudget two-level prefix scan ≡ local greedy fold for ANY docs") {
    // Independent reference: sort + sequential prefix walk in plain
    // Scala (the operator decomposes the running total into bucket
    // pre-sums + within-bucket windows; the reference never buckets —
    // a boundary/frame bug in the decomposition cannot agree).
    // Quality replays bit-identically: Spark's log IS java.lang.Math
    // .log on this JVM, and the fold applies the same round-4 fence.
    val stop = Set("the", "a", "of", "and", "to", "in")
    val docGen = Gen.nonEmptyListOf(Gen.nonEmptyListOf(
      Gen.oneOf("the", "a", "of", "wolf", "iron", "x", "moss", "tide")))
    forAllSeeded(docGen) { tokLists =>
      val docs = tokLists.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val got = graft.llm.CorpusPipeline.selectBudget(
          docs.toDF("doc_id", "text"), num = 1, den = 4)
        .collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2),
          r.getLong(3)))).toMap
      def r4(x: Double) =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val scored = docs.map { case (id, text) =>
        val toks = text.split(" ", -1).toSeq
        val q = r4(math.log(toks.size + 1.0) *
          (1.0 - toks.count(stop).toDouble / toks.size) *
          (toks.distinct.size.toDouble / toks.size))
        (id, q, toks.size.toLong)
      }
      val total = scored.map(_._3).sum
      var cum = 0L
      val want = scored.sortBy { case (id, q, _) => (-q, id) }.flatMap {
        case (id, q, nt) =>
          cum += nt
          if (cum * 4 <= total) Some(id -> ((q, nt, cum))) else None
      }.toMap
      assert(got == want,
        s"got ${got.toSeq.sorted.take(5)}, want ${want.toSeq.sorted.take(5)}")
    }
  }

  test("selectBudget: a budget landing EXACTLY on a bucket edge keeps " +
    "the whole bucket (inclusive gate); one token less drops its last doc") {
    // r16 (r15 verdict #6): the two-level decomposition's riskiest
    // input is a budget boundary coinciding with a BUCKET boundary —
    // the within-bucket window's last row and the next bucket's
    // pre-sum both sit exactly at the gate. Two quality tiers, 11
    // buckets apart: tier A = 3 × 4 distinct non-stop tokens
    // (q=1.6094, bkt 12), tier B = 2 × 5 stopword-heavy tokens
    // (q=0.1433, bkt 1). Budget = tier A's exact token mass.
    import spark.implicits._
    val docs = Seq(
      (0L, "wolf iron moss tide"), (1L, "fern gale peat dune"),
      (2L, "loam reef mist crag"),
      (10L, "the the the the x"), (11L, "the the the the y"))
      .toDF("doc_id", "text")
    val tokensA = 12 // 3 docs × 4 tokens
    val total = 22   // + 2 docs × 5 tokens
    val exact = graft.llm.CorpusPipeline
      .selectBudget(docs, num = tokensA, den = total)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(0L, 1L, 2L),
      s"inclusive gate at the bucket edge must keep ALL of tier A and " +
        s"NONE of tier B: $exact")
    val oneLess = graft.llm.CorpusPipeline
      .selectBudget(docs, num = tokensA - 1, den = total)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(oneLess == Set(0L, 1L),
      s"one token under the edge must drop exactly the bucket's LAST " +
        s"doc (equal quality → doc_id asc): $oneLess")
  }

  test("asofJoinForward tie corners: equal-time rights break to the " +
    "SMALLEST tie-break, at-time match is inclusive, and (t, tb) " +
    "collisions / duplicate left rows never fan out") {
    // r16 (r15 verdict #6): the forward dual's tie rules beyond the
    // hub fixture. Rights at t=100 with tb 5 and 3 (plus an exact
    // (t=100, tb=3) duplicate) and one at t=200.
    import graft.operators.AsOf
    import spark.implicits._
    val events = Seq((1L, 1L, 100L), (2L, 1L, 100L), (3L, 1L, 101L),
        (4L, 1L, 201L))
      .toDF("eid", "egrp", "ets")
    val orders = Seq((5L, 1L, 100L), (3L, 1L, 100L), (3L, 1L, 100L),
        (9L, 1L, 200L))
      .toDF("okey", "ogrp", "ot")
    val got = AsOf.asofJoinForward(events, orders, "egrp", "ogrp",
        "ets", "ot", "okey", keepUnmatched = true)
      .select("eid", "okey").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(got.length == 4,
      s"one output row per left row — a (t,tb) collision or duplicate " +
        s"left row must never fan out: $got")
    val byEid = got.toMap
    assert(byEid(1L) == Some(3L) && byEid(2L) == Some(3L),
      s"at-time rights are INCLUSIVE and equal-time ties take the " +
        s"smallest tie-break: $byEid")
    assert(byEid(3L) == Some(9L), s"strictly-after next: $byEid")
    assert(byEid(4L) == None, s"no later right → NULL (left form): $byEid")
    // The join-agg reference must agree on the same degenerate fixture.
    val ref = AsOf.asofJoinForwardViaJoinAgg(events, orders, "egrp",
        "ogrp", "ets", "ot", "okey", keepUnmatched = true)
      .select("eid", "okey").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(ref == byEid, s"window/join-agg drift on ties: $ref vs $byEid")
  }

  test("scd1Upsert null-vs-absent VALUE corners: a NULL delta cell " +
    "keeps the target value; a value over target NULL wins; inserted " +
    "rows keep their NULLs") {
    // r16 (r15 verdict #6): UpsertSpec pins the op TAGS; this pins the
    // merged VALUES on the null corners the coalesce patch-semantics
    // create.
    import graft.operators.DomainOps
    import spark.implicits._
    val target = Seq((1L, Some(5.0)), (2L, None: Option[Double]))
      .toDF("k", "bal")
    val delta = Seq((1L, None: Option[Double]), (2L, Some(7.0)),
        (3L, None: Option[Double]))
      .toDF("k", "bal")
    val got = DomainOps.scd1Upsert(target, delta, "k")
      .orderBy("k").collect()
      .map(r => (r.getLong(0),
        (if (r.isNullAt(1)) None else Some(r.getDouble(1))),
        r.getString(2))).toSeq
    assert(got == Seq(
      (1L, Some(5.0), "updated"),  // NULL delta cell: target value
                                   // survives, tag still updated
                                   // (null-safe differ) — the
                                   // documented patch semantics
      (2L, Some(7.0), "updated"),  // value over NULL target wins
      (3L, None, "inserted")),     // absent key: NULL rides in intact
      s"null-corner values drifted: $got")
  }

  test("asofEnrichState (one-batch replay) ≡ asofJoin LEFT form for ANY " +
    "interleaving of dims and events") {
    // stream_asof's correctness contract: the stateful processor's
    // within-call (t, tag, tb) replay must reproduce the batch as-of
    // join exactly on arbitrary inputs — hub keys, equal-time ties,
    // equal (t, tb) collisions, keys with no dims, dims with no
    // events. Times are small epoch-second longs (µs via the cast).
    import graft.operators.AsOf
    import spark.implicits._
    val rowGen = for {
      k <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 20L)
      isDim <- Gen.oneOf(true, false)
      tb <- Gen.choose(1L, 6L)
    } yield (k, t, isDim, tb)
    forAllSeeded(Gen.nonEmptyListOf(rowGen)) { raw =>
      val dims = raw.filter(_._3).map(r => (r._1, r._2, r._4)).distinct
      val events = raw.filterNot(_._3).zipWithIndex
        .map { case (r, i) => (i.toLong, r._1, r._2) }
      if (dims.nonEmpty && events.nonEmpty) {
        val dimsDf = dims.toDF("dk", "dt", "dkey")
          .withColumn("dts", col("dt").cast("timestamp"))
        val evDf = events.toDF("eid", "ek", "et")
          .withColumn("ets", col("et").cast("timestamp"))
        val ref = AsOf.asofJoin(evDf.select("eid", "ek", "ets"),
            dimsDf.select("dk", "dkey", "dts"),
            "ek", "dk", "ets", "dts", "dkey", keepUnmatched = true)
          .select("eid", "dkey").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        val tagged = dimsDf.select(col("dk").as("k"),
            unix_micros(col("dts")).as("t"), lit(0).as("tag"),
            col("dkey").as("tb"), lit(0L).as("eid"))
          .unionByName(evDf.select(col("ek").as("k"),
            unix_micros(col("ets")).as("t"), lit(1).as("tag"),
            lit(0L).as("tb"), col("eid")))
        val got = graft.streaming.StreamOps
          .asofEnrichState(tagged, eventTime = false)
          .select("event_id", "dim_key").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        assert(got == ref,
          s"processor/join drift on dims=$dims events=$events: " +
            s"got ${got.toSeq.sorted}, want ${ref.toSeq.sorted}")
      }
    }
  }

  test("pqCodebook/pqCode ≡ local mean-Lloyd fold for ANY sub-vectors") {
    // Independent reference for the PQ sub-quantizer — seed selection,
    // (dot(c,c) − 2·dot(x,c), cid) argmin assignment, exact-decimal
    // component sums, double-division means, position codes — rebuilt
    // in plain Scala (BigDecimal + tuple ordering), NOT by replaying
    // the operator's expressions: the DuckDB oracle replays the
    // algorithm, so this fold is the independent pin.
    def dotd(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
    val vecGen = Gen.nonEmptyListOf(
      Gen.listOfN(4, Gen.choose(-64, 64).map(_ / 16.0f))).map(_.take(12))
    forAllSeeded(vecGen) { vs0 =>
      val vs = vs0.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      val nSub = math.min(3, vs.size)
      val iters = 2
      val df = vs.toDF("vec_id", "sub")
      val got = graft.llm.LlmVector.pqCodebook(df, nSub, iters)
      // local fold
      var cents: Seq[(Long, Seq[Float])] = vs.sortBy(_._1).take(nSub)
      (1 to iters).foreach { _ =>
        val asg = vs.map { case (_, x) =>
          val best = cents.sortBy(_._1).map { case (cid, ce) =>
            (dotd(ce, ce) - 2.0 * dotd(x, ce), cid) }.min
          (best._2, x)
        }
        cents = asg.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, xs) =>
          val n = xs.size
          cid -> xs.head._2.indices.map { i =>
            val s = xs.map(v => BigDecimal(v._2(i).toDouble)
              .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
            (s.toDouble / n).toFloat
          }.toSeq
        }
      }
      val want = cents.sortBy(_._1).map(_._2)
      assert(got == want, s"books: got $got want $want")
      // encode against the trained book must pick the local argmin
      val codes = df.select(col("vec_id"),
          graft.llm.LlmVector.pqCode(col("sub"), got).as("c"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      vs.foreach { case (id, x) =>
        val wantC = got.zipWithIndex.map { case (ce, j) =>
          (dotd(ce, ce) - 2.0 * dotd(x, ce), j) }.min._2
        assert(codes(id) == wantC, s"code for $id: ${codes(id)} vs $wantC")
      }
    }
  }

  test("labelPropagation ≡ local synchronous-rounds fold for ANY graph") {
    // Independent reference for the fixed-round sync LPA — adjacency
    // map + R rounds of majority-vote with the (count desc, label asc)
    // tie order, rebuilt in plain Scala collections (the DuckDB oracle
    // unrolls the same algorithm as SQL, so it cannot catch a shared
    // algorithmic bug; this fold can).
    // a + non-zero offset mod 15: distinct endpoints WITHOUT a Gen
    // filter (filtered generators exhaust under fixed seeds)
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 14L); d <- Gen.choose(1L, 14L)
    } yield { val b = (a + d) % 15; (math.min(a, b), math.max(a, b)) })
      .map(_.distinct)
    forAllSeeded(edgeGen) { und =>
      val dirs = und ++ und.map { case (a, b) => (b, a) }
      val rounds = 3
      val got = graft.llm.LlmGraph.labelPropagation(
          dirs.toDF("src", "dst"), rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val adj = dirs.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
      (1 to rounds).foreach { _ =>
        lab = adj.map { case (n, ns) =>
          val votes = ns.map(lab).groupBy(identity)
            .map { case (l, xs) => (l, xs.size) }
          n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      assert(got == lab, s"got ${got.toSeq.sorted.take(8)}, " +
        s"want ${lab.toSeq.sorted.take(8)}")
    }
  }

  test("simhashPairs ≡ local bit-vote + banding + Hamming fold for ANY corpus") {
    // Independent reference for the 48-bit portable simhash chain —
    // md5-prefix token hash, per-instance ±1 bit votes, sign
    // fingerprint, 4×12-bit band blocking, Hamming gate — rebuilt
    // from scratch (MessageDigest + plain Scala folds), NOT by
    // replaying the operator's column expressions: the DuckDB oracle
    // replays the algorithm, so a shared algorithmic bug would
    // hash-match green there; this fold is the independent pin.
    val vocab = Vector("ai", "be", "cu", "do", "el", "fa", "go", "hi")
    val docsGen = Gen.nonEmptyListOf(for {
      n <- Gen.choose(1, 12)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" "))
    def u48(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .take(6).map(b => f"$b%02x").mkString, 16)
    def fp(t: String): Long = {
      val hs = t.split(" ", -1).toSeq.map(u48)
      (0 until 48).map { b =>
        val v = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (v > 0) 1L << b else 0L
      }.sum
    }
    forAllSeeded(docsGen) { texts0 =>
      // plant an exact copy of the first doc so every sample exercises
      // the pair path (hamming 0), not just fingerprinting
      val texts = texts0 :+ texts0.head
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val maxH = 3
      val got = graft.llm.LlmDedup.simhashPairs(rows.toDF("doc_id", "text"), maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val fps = rows.map { case (id, t) => id -> fp(t) }
      val want = (for {
        (a, fa) <- fps; (b, fb) <- fps if a < b
        shareBand = (0 until 4).exists(k =>
          ((fa >> (12 * k)) & 0xFFFL) == ((fb >> (12 * k)) & 0xFFFL))
        h = java.lang.Long.bitCount(fa ^ fb)
        if shareBand && h <= maxH
      } yield (a, b, h)).toSet
      assert(got == want, s"got ${got.take(8)}, want ${want.take(8)}")
    }
  }

  test("bpeEncode ≡ local sequential fold for ANY corpus and merge table") {
    // Independent reference for text_bpe_encode's graft_bpe expression
    // — a plain-Scala mutable-buffer fold of the same contract
    // (lowest rank, then leftmost, one occurrence per step). The
    // generator draws MULTI-CHAR merge symbols, exercising the merge
    // chaining the key's learned char-pair table never produces (the
    // reason bpeEncode is a general API, not key-private).
    import graft.llm.LlmText
    val alpha = Gen.oneOf("a", "b", "c")
    val sym = Gen.choose(1, 2).flatMap(n =>
      Gen.listOfN(n, alpha).map(_.mkString))
    val mergesGen = Gen.listOfN(6, Gen.zip(sym, sym)).map(_.distinct)
    val wordGen = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, alpha).map(_.mkString))
    val docsGen = Gen.zip(mergesGen,
      Gen.nonEmptyListOf(Gen.choose(0, 5).flatMap(n =>
        Gen.listOfN(n, wordGen).map(_.mkString(" ")))))
    forAllSeeded(docsGen) { case (merges, texts) =>
      def encodeWord(w: String): Seq[String] = {
        val syms = scala.collection.mutable.ArrayBuffer(
          w.map(_.toString): _*)
        var go = true
        while (go) {
          val cands = (0 until syms.length - 1).flatMap { p =>
            val r = merges.indexWhere(m =>
              m._1 == syms(p) && m._2 == syms(p + 1))
            if (r >= 0) Some((r, p)) else None
          }
          if (cands.isEmpty) go = false
          else {
            val (_, p) = cands.min
            syms(p) = syms(p) + syms(p + 1)
            syms.remove(p + 1)
          }
        }
        syms.toSeq
      }
      val want = texts.zipWithIndex.map { case (t, i) =>
        val encoded = t.split(" ", -1).map(encodeWord)
        (i.toLong,
          encoded.map(_.length.toLong).sum,
          encoded.map(_.mkString(".")).mkString(" "))
      }
      val got = LlmText.bpeEncode(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"),
        merges.map(m => s"${m._1} ${m._2}"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq.sortBy(_._1)
      assert(got == want, s"merges=$merges got=${got.take(4)} want=${want.take(4)}")
    }
  }

  test("ppsSample ≡ local BigInt md5 fold for ANY weights (and respects bounds)") {
    import graft.llm.CorpusPipeline
    val rows = Gen.nonEmptyListOf(for {
      id <- Gen.choose(0L, 500L)
      w <- Gen.choose(1L, 400L)
    } yield (id, w)).map(_.distinctBy(_._1))
    forAllSeeded(rows) { rs =>
      val got = CorpusPipeline.ppsSample(rs.toDF("doc_id", "w"),
          "doc_id", "w", num = 1, den = 4, seed = 7)
        .collect().map(_.getLong(0)).toSet
      // Independent reference: JVM MessageDigest md5, BigInt
      // cross-multiplication — the operator's defining inequality.
      val md = java.security.MessageDigest.getInstance("MD5")
      val maxW = rs.map(_._2).max
      val want = rs.filter { case (id, w) =>
        val hex = md.digest(s"$id:7".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
        val u48 = BigInt(hex, 16)
        u48 * maxW * 4 < BigInt(w) * 1 * BigInt(2).pow(48)
      }.map(_._1).toSet
      assert(got == want, s"got $got, want $want")
      // The heaviest row's keep probability is num/den; a zero-weight
      // row could never be kept (w=1 minimum here keeps the gen total).
      assert(got.subsetOf(rs.map(_._1).toSet))
    }
    // r11 (advice): a weight beyond the documented 1e12 bound must
    // ERROR loudly (raise_error) — the pre-guard shape let the decimal
    // product overflow to NULL and silently DROP the row.
    val boom = intercept[Exception] {
      CorpusPipeline.ppsSample(
        Seq((1L, 2000000000000L)).toDF("doc_id", "w"),
        "doc_id", "w", num = 1, den = 4, seed = 7).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(boom).exists(t =>
      Option(t.getMessage).exists(_.contains("ppsSample"))), boom.toString)
    // num/den beyond the DECIMAL(7,0) budget must fail at build time.
    intercept[IllegalArgumentException] {
      CorpusPipeline.ppsSample(Seq((1L, 5L)).toDF("doc_id", "w"),
        "doc_id", "w", num = 2000000, den = 4, seed = 7)
    }
  }

  test("chunkDedup ≡ local first-occurrence fold for ANY corpus") {
    import graft.llm.LlmDedup
    // Tiny vocab + short chunk size force heavy cross-doc chunk
    // collisions; doc lengths straddle the chunk boundary so ragged
    // final chunks are exercised.
    val docs = Gen.nonEmptyListOf(
      Gen.choose(1, 9).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" "))))
    val chunkSize = 3
    forAllSeeded(docs) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = LlmDedup.chunkDedup(rows.toDF("doc_id", "text"), chunkSize)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
      // Reference: sequential fold over (doc_id, chunk_id) order with
      // a seen-set — the definition of "keep the first occurrence".
      val seen = scala.collection.mutable.Set.empty[String]
      val want = rows.map { case (id, t) =>
        val chunks = t.split(" ").grouped(chunkSize).map(_.mkString(" ")).toSeq
        val kept = chunks.filter(c => seen.add(c))
        id -> (chunks.size.toLong, kept.size.toLong, kept.mkString(" "))
      }.toMap
      assert(got == want, s"got $got, want $want (texts $texts)")
    }
  }

  test("linregFit ≡ BigDecimal moment fold + centered formula for ANY groups") {
    import graft.operators.AggOps
    val rows = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b", "c")
      x <- Gen.choose(-50L, 50L)
      y <- Gen.choose(-9999, 9999).map(_ / 100.0)
    } yield (g, x, y))
    forAllSeeded(rows) { rs =>
      val got = AggOps.linregFit(rs.toDF("g", "xi", "yi")
          .select(col("g"), col("xi").cast("decimal(18,0)").as("x"),
            col("yi").cast("decimal(18,4)").as("y")))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap
      // Reference 1: EXACT BigDecimal raw moments (what the decimal
      // aggregate must equal bit-for-bit), then the identical double
      // program → exact double equality, NaN/Inf included (degenerate
      // groups — single point, zero x-variance — must agree too).
      val eq = (a: Double, b: Double) =>
        java.lang.Double.compare(a, b) == 0
      rs.groupBy(_._1).foreach { case (g, l) =>
        val xs = l.map(r => BigDecimal(r._2))
        val ys = l.map(r => BigDecimal(r._3).setScale(4,
          BigDecimal.RoundingMode.HALF_UP))
        val n = l.size.toDouble
        val sx = xs.sum.toDouble; val sy = ys.sum.toDouble
        val sxx = xs.map(x => x * x).sum.toDouble
        val syy = ys.map(y => y * y).sum.toDouble
        val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum.toDouble
        val num = n * sxy - sx * sy
        val den = n * sxx - sx * sx
        val (gn, gSlope, gInt, gR2) = got(g)
        assert(gn == l.size)
        assert(eq(gSlope, num / den), s"$g slope: $gSlope vs ${num / den}")
        assert(eq(gInt, (sy - (num / den) * sx) / n))
        assert(eq(gR2, (num * num) / (den * (n * syy - sy * sy))))
        // Reference 2: INDEPENDENT centered formulation (guards the
        // normal-equation algebra itself, not just the aggregation) —
        // doubles differ in ULPs, so compare at 1e-9 relative.
        if (den != 0 && l.size >= 2) {
          val xm = xs.sum.toDouble / n; val ym = ys.sum.toDouble / n
          val sxyC = l.map(r => (r._2 - xm) * (r._3 - ym)).sum
          val sxxC = l.map(r => (r._2 - xm) * (r._2 - xm)).sum
          val close = (a: Double, b: Double) =>
            math.abs(a - b) <= 1e-9 * math.max(1.0,
              math.max(math.abs(a), math.abs(b)))
          assert(close(gSlope, sxyC / sxxC),
            s"$g centered slope: $gSlope vs ${sxyC / sxxC}")
          assert(close(gInt, ym - (sxyC / sxxC) * xm))
        }
      }
    }
  }

  test("pitLookup ≡ naive per-fact version-table scan for ANY history") {
    import graft.operators.DomainOps
    val data = for {
      hist <- Gen.nonEmptyListOf(for {
        k <- Gen.choose(1L, 3L)
        t <- Gen.choose(0L, 30L)
        a <- Gen.oneOf("A", "B", "C")
      } yield (k, t, a))
      facts <- Gen.nonEmptyListOf(for {
        k <- Gen.choose(1L, 4L) // key 4: fact with NO dimension history
        t <- Gen.choose(-2L, 35L) // before-first-version facts drop out
      } yield (k, t))
    } yield (hist, facts)
    forAllSeeded(data) { case (hist0, facts0) =>
      val hist = hist0.zipWithIndex.map { case ((k, t, a), i) =>
        (k, t, i.toLong, a)
      }
      val facts = facts0.zipWithIndex.map { case ((k, t), i) =>
        (i.toLong, k, t)
      }
      val dim = DomainOps.scd2Compress(
          hist.toDF("key", "chTs", "chSeq", "attr"))
        .select(col("key").as("k"), col("version"), col("attr"),
          col("chTs").as("vf"), col("valid_to").as("vt"))
      val got = DomainOps.pitLookup(
          facts.toDF("fid", "k", "ts"), dim)
        .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getString(4)))
        .toMap
      // Naive reference: rebuild each key's version list with the
      // same local run-compression the scd2 property uses, then scan
      // it per fact for vf <= ts < vt (vt absent = open).
      val versions = hist.groupBy(_._1).map { case (k, rs) =>
        val ordered = rs.sortBy(r => (r._2, r._3))
        val runs = ordered.foldLeft(Vector.empty[(Long, String)]) {
          case (acc, (_, t, _, a)) =>
            if (acc.nonEmpty && acc.last._2 == a) acc else acc :+ ((t, a))
        }
        k -> runs.zipWithIndex.map { case ((t, a), i) =>
          (i + 1L, a, t, runs.lift(i + 1).map(_._1))
        }
      }
      val want = facts.flatMap { case (fid, k, ts) =>
        versions.getOrElse(k, Vector.empty).filter { case (_, _, vf, vt) =>
          ts >= vf && vt.forall(ts < _)
        } match {
          case Vector() => None
          case Vector((ver, attr, _, _)) => Some(fid -> (ver, attr))
          case ms => fail(s"fact $fid matched ${ms.size} versions")
        }
      }.toMap
      assert(got == want, s"got $got, want $want (hist $hist)")
    }
  }

  test("cellDiff ≡ map-based two-revision diff for ANY cell sets") {
    import graft.plans.CubeOps
    val cellsGen = Gen.listOf(for {
      region <- Gen.oneOf("01", "02")
      dims <- Gen.oneOf("""{"GES":"GESM"}""", """{"GES":"GESW"}""")
      t <- Gen.choose(2019, 2021)
      v <- Gen.option(Gen.choose(0, 99).map(_.toDouble))
    } yield ((region, dims, t), v))
    val two = for { a <- cellsGen; b <- cellsGen } yield (a, b)
    forAllSeeded(two) { case (a0, b0) =>
      // last write wins per cell key within a revision
      val a = a0.toMap; val b = b0.toMap
      def df(m: Map[(String, String, Int), Option[Double]]) =
        m.toSeq.map { case ((r, dj, t), v) =>
          (r, dj, t, v.map(Double.box).orNull.asInstanceOf[java.lang.Double])
        }.toDF("region", "dims_json", "time", "value")
      val got = CubeOps.cellDiff(df(a), df(b))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
          (r.getString(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4)),
            if (r.isNullAt(5)) None else Some(r.getDouble(5))))
        .toMap
      val want = (a.keySet ++ b.keySet).map { k =>
        val status = (a.get(k), b.get(k)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(x), Some(y)) => if (x == y) "unchanged" else "changed"
          case (None, None) => fail("unreachable")
        }
        k -> (status, a.get(k).flatten, b.get(k).flatten)
      }.toMap
      assert(got == want, s"got $got, want $want")
    }
  }

  test("dqProfile ≡ local per-column recomputation for ANY rows") {
    import graft.operators.DomainOps
    val rows = Gen.nonEmptyListOf(for {
      a <- Gen.option(Gen.choose(-20L, 20L))
      s <- Gen.option(Gen.oneOf("P1", "P2", "P3"))
    } yield (a, s))
    forAllSeeded(rows) { rs =>
      val df = rs.map { case (a, s) =>
        (a.map(Long.box).orNull.asInstanceOf[java.lang.Long], s.orNull)
      }.toDF("a", "s")
      val got = DomainOps.dqProfile(df, Seq(
          ("a", col("a"), (c: Column) => c.cast("string")),
          ("s", col("s"), (c: Column) => c)))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3),
            Option(r.getString(4)), Option(r.getString(5))))
        .toMap
      val n = rs.size.toLong
      def prof[A: Ordering](vs: Seq[A], str: A => String) =
        (n, vs.size.toLong, vs.distinct.size.toLong,
          if (vs.isEmpty) None else Some(str(vs.min)),
          if (vs.isEmpty) None else Some(str(vs.max)))
      val want = Map(
        "a" -> prof(rs.flatMap(_._1), (v: Long) => v.toString),
        "s" -> prof(rs.flatMap(_._2), (v: String) => v))
      assert(got == want, s"got $got, want $want")
    }
  }

  test("dqChecks ≡ local rule recomputation for ANY rows") {
    import graft.operators.DomainOps
    val rows = Gen.nonEmptyListOf(for {
      k <- Gen.choose(0L, 6L) // narrow: duplicates are common
      v <- Gen.option(Gen.choose(-10L, 10L))
    } yield (k, v))
    forAllSeeded(rows) { rs =>
      val df = rs.map { case (k, v) =>
        (k, v.map(Long.box).orNull.asInstanceOf[java.lang.Long])
      }.toDF("k", "v")
      val got = DomainOps.dqChecks(df, Seq(
          ("v_nonneg", col("v") < 0),
          ("v_not_null", col("v").isNull)),
          uniqueKey = Some(("k_unique", col("k"))))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
        .toMap
      def row(n: Long) = (n, n == 0)
      val want = Map(
        "v_nonneg" -> row(rs.count(_._2.exists(_ < 0)).toLong),
        "v_not_null" -> row(rs.count(_._2.isEmpty).toLong),
        "k_unique" -> row(n = rs.size.toLong -
          rs.map(_._1).distinct.size.toLong))
      assert(got == want, s"got $got, want $want")
    }
  }

  test("labelPropagation/seedDistance fast path ≡ generic for ANY simple graph") {
    // The assumeSimple round-1 shortcuts (min-neighbor label / one-agg
    // relaxation) must be bit-equal to the generic rounds on every
    // DISTINCT mirrored edge set — the precondition the graph keys
    // guarantee via supportEdges' dedup.
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 14L); d <- Gen.choose(1L, 14L)
    } yield { val b = (a + d) % 15; (math.min(a, b), math.max(a, b)) })
      .map(_.distinct)
    forAllSeeded(edgeGen) { und =>
      val dirs = (und ++ und.map { case (a, b) => (b, a) }).distinct
      val df = dirs.toDF("src", "dst")
      (1 to 3).foreach { r =>
        val fast = graft.llm.LlmGraph.labelPropagation(df, r,
            assumeSimple = true)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        val slow = graft.llm.LlmGraph.labelPropagation(df, r)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        assert(fast == slow, s"LPA rounds=$r: $fast vs $slow")
      }
      val fastD = graft.llm.LlmGraph.seedDistance(df, col("node") % 4 === 0,
          depth = 3, assumeSimple = true)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val slowD = graft.llm.LlmGraph.seedDistance(df, col("node") % 4 === 0,
          depth = 3)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(fastD == slowD, s"seedDistance: $fastD vs $slowD")
    }
  }

  test("jaccardPairs ≡ local neighborhood sets for ANY simple graph") {
    // Independent reference: materialize each node's neighbor SET with
    // Scala collections and score every pair directly — the operator
    // counts common neighbors through per-center wedges instead, so a
    // wedge-enumeration bug (double count, missed orientation) cannot
    // agree with this by accident.
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 11L); d <- Gen.choose(1L, 11L)
    } yield { val b = (a + d) % 12; (math.min(a, b), math.max(a, b)) })
      .map(_.distinct)
    forAllSeeded(edgeGen) { und =>
      val got = graft.llm.LlmGraph.jaccardPairs(
          und.toDF("u", "v"), minCommon = 1)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
        .toMap
      val nb = (und ++ und.map { case (a, b) => (b, a) })
        .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
      val nodes = nb.keys.toSeq.sorted
      val want = (for {
        a <- nodes; b <- nodes if a < b
        common = (nb(a) & nb(b)).size if common >= 1
      } yield {
        val j = BigDecimal(common.toDouble / (nb(a) ++ nb(b)).size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (a, b) -> ((common.toLong, j))
      }).toMap
      assert(got == want, s"got ${got.toSeq.sorted.take(6)}, " +
        s"want ${want.toSeq.sorted.take(6)}")
    }
  }

  test("corrMatrix ≡ local centered-form Pearson for ANY grouped columns") {
    // Independent reference: the textbook two-pass centered formula
    // Σ(x−x̄)(y−ȳ)/√(Σ(x−x̄)²·Σ(y−ȳ)²) in plain doubles — a different
    // computation of the same statistic than the operator's raw-moment
    // program, so they agree only within conditioning (1e-6 here), and
    // a moment-bookkeeping bug (swapped pair, wrong square) lands far
    // outside that. Constant columns must yield NULL on both.
    val rowGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b")
      x <- Gen.choose(0, 2000).map(_ / 16.0)
      y <- Gen.choose(0, 2000).map(_ / 16.0)
    } yield (g, x, y, 5.0)) // z constant → corr with z must be NULL
    forAllSeeded(rowGen) { rows =>
      val got = graft.operators.AggOps.corrMatrix(
          rows.toDF("g", "x", "y", "z"),
          Seq("x" -> "x", "y" -> "y", "z" -> "z"))
        .collect()
        .map(r => ((r.getString(0), r.getString(2), r.getString(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        .toMap
      def pearson(ps: Seq[(Double, Double)]): Option[Double] = {
        val n = ps.size
        val mx = ps.map(_._1).sum / n; val my = ps.map(_._2).sum / n
        val vx = ps.map(p => (p._1 - mx) * (p._1 - mx)).sum
        val vy = ps.map(p => (p._2 - my) * (p._2 - my)).sum
        if (vx == 0.0 || vy == 0.0) None
        else Some(ps.map(p => (p._1 - mx) * (p._2 - my)).sum /
          (math.sqrt(vx) * math.sqrt(vy)))
      }
      rows.groupBy(_._1).foreach { case (g, rs) =>
        Seq(("x", "y", rs.map(r => (r._2, r._3))),
            ("x", "z", rs.map(r => (r._2, r._4))),
            ("y", "z", rs.map(r => (r._3, r._4)))).foreach {
          case (a, b, ps) =>
            (got((g, a, b)), pearson(ps)) match {
              case (None, None) =>
              case (Some(gc), Some(wc)) =>
                assert(math.abs(gc - wc) <= 1e-6,
                  s"corr($g,$a,$b): $gc vs $wc")
              case (gc, wc) => fail(s"corr($g,$a,$b): $gc vs $wc")
            }
        }
      }
    }
  }

  test("corrMatrix magnitude contract fails LOUDLY, never silently wrong") {
    // r15 (driver-r11 ADVICE): 0 ≤ x·10^scale < 2^31 keeps products under the
    // Sum128 2^62 limb bound — a violation used to overflow into
    // silently wrong sums. The ppsSample-style raise_error guard must
    // throw on both the too-large and the negative side.
    Seq(3.0e8, -1.0).foreach { bad =>
      val df = Seq(("a", bad, 1.0), ("a", 2.0, 3.0)).toDF("g", "x", "y")
      val ex = intercept[Exception] {
        graft.operators.AggOps.corrMatrix(df, Seq("x" -> "x", "y" -> "y"))
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("corrMatrix")),
        s"value $bad: expected the loud guard, got: ${ex.getMessage}")
    }
  }

  test("autocorr ≡ local lagged-pair Pearson for ANY series") {
    // Same centered-form independence argument as corrMatrix, applied
    // per (entity, lag) over the aligned (x_t, x_{t−k}) pairs of each
    // series in its (ts, event_id) order.
    val seriesGen = Gen.nonEmptyListOf(for {
      u <- Gen.oneOf(1L, 2L)
      v <- Gen.choose(0, 1600).map(_ / 16.0)
    } yield (u, v)).map(_.zipWithIndex.map { case ((u, v), i) =>
      (u, i.toLong, new java.sql.Timestamp(1700000000000L + i * 60000L), v) })
    forAllSeeded(seriesGen) { rows =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val got = graft.operators.TimeSeries.autocorr(
          rows.toDF("user_id", "event_id", "ts", "value"),
          "user_id", w, maxLag = 2)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
        .toMap
      def pearson(ps: Seq[(Double, Double)]): Option[Double] = {
        val n = ps.size
        if (n == 0) return None
        val mx = ps.map(_._1).sum / n; val my = ps.map(_._2).sum / n
        val vx = ps.map(p => (p._1 - mx) * (p._1 - mx)).sum
        val vy = ps.map(p => (p._2 - my) * (p._2 - my)).sum
        if (vx == 0.0 || vy == 0.0) None
        else Some(ps.map(p => (p._1 - mx) * (p._2 - my)).sum /
          (math.sqrt(vx) * math.sqrt(vy)))
      }
      rows.groupBy(_._1).foreach { case (u, rs0) =>
        val vs = rs0.sortBy(_._2).map(_._4)
        (1 to 2).foreach { k =>
          val ps = vs.drop(k).zip(vs.dropRight(k))
          val (n, gc) = got((u, k.toLong))
          assert(n == ps.size, s"n_pairs($u,$k): $n vs ${ps.size}")
          (gc, pearson(ps)) match {
            case (None, None) =>
            case (Some(g), Some(wc)) =>
              assert(math.abs(g - wc) <= 1e-6, s"acf($u,$k): $g vs $wc")
            case (g, wc) => fail(s"acf($u,$k): $g vs $wc")
          }
        }
      }
    }
  }

  test("holtSmooth ≡ local recurrence fold for ANY series") {
    // Independent reference: the textbook Holt recurrence replayed as
    // a plain Scala fold — the operator evaluates the identical fixed
    // double program (α = β = ½, one sequential order), so the final
    // states must be BIT-equal, asserted exactly.
    val seriesGen = Gen.nonEmptyListOf(for {
      u <- Gen.oneOf(1L, 2L)
      v <- Gen.choose(0, 1600).map(_ / 16.0)
    } yield (u, v)).map(_.zipWithIndex.map { case ((u, v), i) =>
      (u, i.toLong, new java.sql.Timestamp(1700000000000L + i * 60000L), v) })
    forAllSeeded(seriesGen) { rows =>
      val got = graft.operators.TimeSeries.holtSmooth(
          rows.toDF("user_id", "event_id", "ts", "value"))
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      rows.groupBy(_._1).foreach { case (u, rs0) =>
        val vs = rs0.sortBy(_._2).map(_._4)
        var l = vs.head; var b = 0.0
        vs.tail.foreach { x =>
          val nl = 0.5 * x + 0.5 * (l + b)
          b = 0.5 * (nl - l) + 0.5 * b
          l = nl
        }
        assert(got(u) == ((vs.size.toLong, l, b)),
          s"holt($u): ${got(u)} vs (${vs.size}, $l, $b)")
      }
    }
  }

  test("kcorePeel ≡ local iterative peel for ANY graph") {
    // Independent reference: the same fixed-round peel with Scala
    // collections — per round, recompute degrees over survivors and
    // drop nodes below k; a join/mirror bookkeeping bug (stale degree,
    // one-sided drop) cannot agree with it.
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 11L); d <- Gen.choose(1L, 11L)
    } yield { val b = (a + d) % 12; (math.min(a, b), math.max(a, b)) })
      .map(_.distinct)
    forAllSeeded(edgeGen) { und =>
      (1 to 3).foreach { k =>
        val got = graft.llm.LlmGraph.kcorePeel(
            und.toDF("u", "v"), k = k, rounds = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        var es = und
        (1 to 2).foreach { _ =>
          val deg = (es ++ es.map(p => (p._2, p._1)))
            .groupBy(_._1).map { case (n, xs) => n -> xs.size }
          val keep = deg.filter(_._2 >= k).keySet
          es = es.filter(p => keep(p._1) && keep(p._2))
        }
        val want = (es ++ es.map(p => (p._2, p._1)))
          .groupBy(_._1).map { case (n, xs) => n -> xs.size.toLong }
        assert(got == want, s"k=$k: $got vs $want")
      }
    }
  }

  test("agg_ttest-style Welch ≡ local centered-form fold for ANY cohorts") {
    // Independent reference: per-cohort mean/variance via the two-pass
    // centered formulas, then the Welch t and df — a different
    // computation of the same statistics than the raw-moment program
    // (1e-6 agreement; the corrMatrix argument). Exercised through the
    // registered query over a written parquet fixture so the WHOLE key
    // (conditional moments + guards) is under test.
    val rowGen = Gen.nonEmptyListOf(for {
      et <- Gen.oneOf("x", "y")
      uid <- Gen.choose(0L, 9L)
      v <- Gen.choose(0, 1600).map(_ / 16.0)
    } yield (et, uid, v))
      // both cohorts need n ≥ 2 for a defined variance — pad
      .map(_ ++ Seq(("x", 0L, 1.0), ("x", 2L, 2.0), ("x", 1L, 3.0),
        ("x", 3L, 4.0), ("y", 0L, 1.0), ("y", 2L, 2.0), ("y", 1L, 3.0),
        ("y", 3L, 4.0)))
    // The /16 generator emits up-to-4dp values on purpose: the key
    // quantizes `value` HALF_UP at 2 decimals (the r18 scaled-long
    // contract, identity for the exactly-2dp events fixture), so the
    // reference applies the same quantization before its centered
    // math — >2dp data exercises the quantization path itself.
    def q2(v: Double): Double = math.floor(v * 100 + 0.5) / 100
    forAllSeeded(rowGen) { rows =>
      val dir = java.nio.file.Files.createTempDirectory("ttest").toString
      rows.zipWithIndex
        .map { case ((et, uid, v), i) =>
          (uid, i.toLong, new java.sql.Timestamp(1700000000000L + i), et, v) }
        .toDF("user_id", "event_id", "ts", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("agg_ttest")(spark, dir)
        .collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
          r.getDouble(5), r.getDouble(6))))
        .toMap
      rows.groupBy(_._1).foreach { case (et, rs) =>
        val as = rs.filter(_._2 % 2 == 0).map(r => q2(r._3))
        val bs = rs.filter(_._2 % 2 != 0).map(r => q2(r._3))
        def mv(xs: Seq[Double]) = {
          val m = xs.sum / xs.size
          (m, xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
        }
        val ((ma, va), (mb, vb)) = (mv(as), mv(bs))
        val (wa, wb) = (va / as.size, vb / bs.size)
        val t = (ma - mb) / math.sqrt(wa + wb)
        val df = (wa + wb) * (wa + wb) /
          (wa * wa / (as.size - 1) + wb * wb / (bs.size - 1))
        val (gn, gm, gt, gdf) = got(et)
        assert(gn == as.size && gm == bs.size, s"$et counts: ${got(et)}")
        assert(math.abs(gt - t) <= 1e-6, s"$et t: $gt vs $t")
        assert(math.abs(gdf - df) <= 1e-6, s"$et df: $gdf vs $df")
      }
    }
  }

  test("rollingBand ≡ local sliding sort for ANY series") {
    // Independent reference: sort each trailing width-window with
    // Scala collections; median is the middle ELEMENT (odd width),
    // lo/hi the ends. Pins both the frame bounds (exactly width rows,
    // warm-up dropped) and the no-interpolation median contract.
    val seriesGen = Gen.nonEmptyListOf(for {
      u <- Gen.oneOf(1L, 2L)
      v <- Gen.choose(0, 1600).map(_ / 16.0)
    } yield (u, v)).map(_.zipWithIndex.map { case ((u, v), i) =>
      (u, i.toLong, new java.sql.Timestamp(1700000000000L + i * 60000L), v) })
    forAllSeeded(seriesGen) { rows =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val width = 3
      val got = graft.operators.TimeSeries.rollingBand(
          rows.toDF("user_id", "event_id", "ts", "value"), w, width)
        .select("user_id", "rn", "med", "lo", "hi")
        .collect()
        .map(r => ((r.getLong(0), r.getInt(1)),
          (r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      val want = rows.groupBy(_._1).flatMap { case (u, rs0) =>
        val vs = rs0.sortBy(_._2).map(_._4)
        vs.indices.drop(width - 1).map { i =>
          val fr = vs.slice(i - width + 1, i + 1).sorted
          (u, i + 1) -> ((fr(width / 2), fr.head, fr.last))
        }
      }
      assert(got == want.toMap, s"got ${got.toSeq.sorted.take(5)}, " +
        s"want ${want.toSeq.sorted.take(5)}")
    }
  }

  test("oneWayF ≡ local centered-form ANOVA for ANY grouped categories") {
    // Independent reference: the textbook centered decomposition —
    // SSB = Σ_c n_c(x̄_c − x̄)², SSW = Σ_c Σ(x − x̄_c)² in plain
    // doubles — a different computation than the operator's raw-moment
    // program, agreeing only within conditioning (1e-6); a
    // conditional-moment bug (wrong category mask, swapped square)
    // lands far outside. Also pins the k≤1 → NULL guard: seeds where
    // a group has one category must emit NULL f_stat.
    val cats = Seq("p", "q", "r")
    val rowGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf(0L, 1L)
      c <- Gen.oneOf(cats :+ "zz") // 'zz' must be ignored entirely
      v <- Gen.choose(0, 1600).map(_ / 16.0)
    } yield (g, c, v))
    // The /16 generator emits up-to-4dp values on purpose: oneWayF
    // quantizes `value` HALF_UP at 2 decimals (the r18 scaled-long
    // contract, identity for the <=2dp fixtures), so the reference
    // applies the same quantization before its centered math --
    // driving >2dp data exercises the quantization path itself.
    def q2(v: Double): Double = math.floor(v * 100 + 0.5) / 100
    forAllSeeded(rowGen) { rows =>
      val got = graft.operators.AggOps.oneWayF(
          rows.toDF("g", "cat", "value"), cats)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
        .toMap
      rows.filter(r => cats.contains(r._2))
          .map(r => (r._1, r._2, q2(r._3))).groupBy(_._1).foreach {
        case (g, rs) =>
          val byCat = rs.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
          val n = rs.size; val k = byCat.size
          val grand = rs.map(_._3).sum / n
          val ssb = byCat.values.map { vs =>
            val m = vs.sum / vs.size
            vs.size * (m - grand) * (m - grand)
          }.sum
          val ssw = byCat.values.map { vs =>
            val m = vs.sum / vs.size
            vs.map(v => (v - m) * (v - m)).sum
          }.sum
          val want =
            if (k <= 1 || ssw <= 1e-12 || n == k) None
            else Some((ssb / (k - 1)) / (ssw / (n - k)))
          val (gn, gk, gf) = got(g)
          assert(gn == n && gk == k, s"g=$g: n/k $gn/$gk vs $n/$k")
          (gf, want) match {
            case (None, None) =>
            case (Some(a), Some(b)) =>
              assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
                s"g=$g: F $a vs $b")
            case (a, b) => fail(s"g=$g: F $a vs $b")
          }
      }
    }
  }

  test("giniIndex ≡ local sorted rank fold for ANY grouped values") {
    // Independent reference: sort, rank, apply the closed form with
    // exact BigDecimal sums and the operator's own double program —
    // bit-equal after the same round(·, 6) fence (every op in the
    // program is correctly rounded, the agg_wilson rationale).
    val rowGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b")
      v <- Gen.choose(0, 1600).map(_ / 16.0)
    } yield (g, v)).map(_.zipWithIndex.map { case ((g, v), i) =>
      (g, i.toLong, v) })
    forAllSeeded(rowGen) { rows =>
      val got = graft.operators.AggOps.giniIndex(
          rows.toDF("g", "tie", "value"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
        .toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val sorted = rs.sortBy(r => (r._3, r._2))
        val n = sorted.size
        val s = sorted.map(r => BigDecimal(r._3).setScale(4)).sum
        val a = sorted.zipWithIndex
          .map { case (r, i) =>
            BigDecimal(i + 1) * BigDecimal(r._3).setScale(4) }.sum
        val want =
          if (s == 0) None
          else Some(BigDecimal(
            (2.0 * a.toDouble - (n.toDouble + 1.0) * s.toDouble) /
              (n.toDouble * s.toDouble))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        assert(got(g) == ((n.toLong, want)),
          s"g=$g: ${got(g)} vs ${(n, want)}")
      }
    }
  }

  test("transitionMatrix ≡ local consecutive-pair fold for ANY streams") {
    // Independent reference: sort each user's events with Scala
    // collections, zip consecutive pairs, count and average gaps —
    // exact integer gap sums, then the operator's own division +
    // round(·, 6) fence for bit-equality.
    val rowGen = Gen.nonEmptyListOf(for {
      u <- Gen.oneOf(1L, 2L, 3L)
      t <- Gen.choose(0L, 500L)
      c <- Gen.oneOf("x", "y", "z")
    } yield (u, t, c)).map(_.zipWithIndex.map { case ((u, t, c), i) =>
      (u, i.toLong, new java.sql.Timestamp(1700000000000L + t * 1000L), c) })
    forAllSeeded(rowGen) { rows =>
      val got = graft.operators.WindowOps.transitionMatrix(
          rows.toDF("user_id", "event_id", "ts", "event_type"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3))))
        .toMap
      val pairs = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val sorted = rs.sortBy(r => (r._3.getTime, r._2))
        sorted.zip(sorted.drop(1)).map { case (p, q) =>
          ((p._4, q._4), (q._3.getTime - p._3.getTime) / 1000L)
        }
      }
      val want = pairs.groupBy(_._1).map { case (ft, gs) =>
        val n = gs.size; val sum = gs.map(_._2).sum
        ft -> ((n.toLong,
          BigDecimal(sum.toDouble / n.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      assert(got == want, s"got ${got.toSeq.sorted.take(5)}, " +
        s"want ${want.toSeq.sorted.take(5)}")
    }
  }

  test("crossCorr ≡ local aligned-pair Pearson for ANY event streams") {
    // Independent reference: bucket counts with Scala collections,
    // align a(h) with b(h+k) over co-present hours, centered-form
    // Pearson (vs the operator's raw-moment program) within 1e-6.
    val rowGen = Gen.nonEmptyListOf(for {
      h <- Gen.choose(0L, 20L)
      o <- Gen.choose(0L, 3599L)
      c <- Gen.oneOf("view", "purchase", "click")
    } yield (h, o, c)).map(_.map { case (h, o, c) =>
      (new java.sql.Timestamp((h * 3600L + o) * 1000L), c) })
    forAllSeeded(rowGen) { rows =>
      val got = graft.operators.TimeSeries.crossCorr(
          rows.toDF("ts", "event_type"), "view", "purchase", maxLag = 2)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        .toMap
      val byHour = rows.groupBy(r => r._1.getTime / 3600000L)
      val f = byHour.map { case (h, rs) =>
        h -> ((rs.count(_._2 == "view").toDouble,
          rs.count(_._2 == "purchase").toDouble))
      }
      (0L to 2L).foreach { k =>
        val ps = f.keys.toSeq.sorted.flatMap(h =>
          f.get(h + k).map(r => (f(h)._1, r._2)))
        val n = ps.size
        val want: Option[Double] = if (n == 0) None else {
          val mx = ps.map(_._1).sum / n; val my = ps.map(_._2).sum / n
          val vx = ps.map(p => (p._1 - mx) * (p._1 - mx)).sum
          val vy = ps.map(p => (p._2 - my) * (p._2 - my)).sum
          if (vx == 0.0 || vy == 0.0) None
          else Some(ps.map(p => (p._1 - mx) * (p._2 - my)).sum /
            (math.sqrt(vx) * math.sqrt(vy)))
        }
        if (n == 0) assert(!got.contains(k), s"k=$k: unexpected row")
        else {
          val (gn, gc) = got(k)
          assert(gn == n, s"k=$k: n $gn vs $n")
          (gc, want) match {
            case (None, None) =>
            case (Some(a), Some(b)) =>
              assert(math.abs(a - b) <= 1e-6, s"k=$k: $a vs $b")
            case (a, b) => fail(s"k=$k: $a vs $b")
          }
        }
      }
    }
  }

  test("graft_sum128 ≡ BigInt fold for ANY in-range longs, carries included") {
    // The two-limb aggregate's whole risk is the carry path: values
    // near the 2^62 limb ceiling force a carry on almost every add
    // (and the merge of shuffled partials). Exact BigInt fold as the
    // reference, asserted on the DECIMAL(38,0) string — bit-exact.
    val gen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b")
      near <- Gen.oneOf(true, false)
      k <- Gen.choose(0L, 1000000L)
    } yield (g, if (near) (1L << 61) + k else k))
    forAllSeeded(gen) { rows =>
      val got = rows.toDF("g", "x")
        .repartition(7) // force merge of several partial buffers
        .groupBy("g")
        .agg(call_function("graft_sum128", col("x")).as("s"))
        .collect()
        .map(r => r.getString(0) -> r.getDecimal(1).toBigInteger.toString)
        .toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => BigInt(r._2)).sum.toString
      }
      assert(got == want, s"got $got, want $want")
    }
  }

  test("graft_sum128 ≡ BigInt fold for SIGNED longs, borrows included") {
    // r18: the limb algebra is sign-exact — with t = lo + x the
    // update's (t >> 62)·2^62 + (t & mask) = t identity holds for
    // NEGATIVE t too (arithmetic shift), so hi just absorbs a −1
    // borrow. This pin drives mixed-sign values near ±2^61 so both
    // carries and borrows fire on almost every add and on merges of
    // shuffled partials (repartition(7)), plus sign-flip runs whose
    // partial sums cross zero repeatedly. Exact BigInt fold as the
    // reference, asserted on the DECIMAL(38,0) string — bit-exact,
    // negative totals included.
    val gen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b")
      near <- Gen.oneOf(true, false)
      neg <- Gen.oneOf(true, false)
      k <- Gen.choose(0L, 1000000L)
    } yield (g, (if (near) (1L << 61) + k else k) * (if (neg) -1L else 1L)))
    forAllSeeded(gen) { rows =>
      val got = rows.toDF("g", "x")
        .repartition(7)
        .groupBy("g")
        .agg(call_function("graft_sum128", col("x")).as("s"))
        .collect()
        .map(r => r.getString(0) -> r.getDecimal(1).toBigInteger.toString)
        .toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => BigInt(r._2)).sum.toString
      }
      assert(got == want, s"got $got, want $want")
    }
  }

  test("chiSquare ≡ local contingency recomputation for ANY rows") {
    // Independent reference: build the contingency table with Scala
    // collections and compute χ² from the textbook per-cell loop —
    // the operator's fixed ten-term chain must agree within
    // conditioning; margins/dof are integers and must match exactly.
    val cats = Seq("p", "q", "r")
    val rowGen = Gen.nonEmptyListOf(for {
      c <- Gen.oneOf(cats :+ "zz") // 'zz' ignored
      j <- Gen.oneOf(0L, 1L)
    } yield (c, j))
    forAllSeeded(rowGen) { rows =>
      val r = graft.operators.AggOps.chiSquare(
          rows.toDF("cat", "cohort"), cats).collect().head
      val kept = rows.filter(p => cats.contains(p._1))
      val n = kept.size
      val cells = kept.groupBy(identity).view.mapValues(_.size).toMap
      def cnt(c: String, j: Long) = cells.getOrElse((c, j), 0)
      val rowM = cats.map(c => c -> (cnt(c, 0) + cnt(c, 1))).toMap
      val colM = (0L to 1L).map(j => j -> cats.map(cnt(_, j)).sum).toMap
      val rEff = rowM.values.count(_ > 0)
      val cEff = colM.values.count(_ > 0)
      val dof = (rEff - 1) * (cEff - 1)
      assert(r.getLong(0) == n.toLong, "n")
      assert(r.getLong(1) == dof.toLong, "dof")
      if (dof == 0) assert(r.isNullAt(2) && r.isNullAt(3), "dof=0 → NULL")
      else {
        val chi2 = (for { c <- cats; j <- 0L to 1L
          if rowM(c) > 0 && colM(j) > 0 } yield {
          val e = rowM(c).toDouble * colM(j).toDouble / n
          val o = cnt(c, j).toDouble
          (o - e) * (o - e) / e
        }).sum
        assert(math.abs(r.getDouble(2) - chi2) <= 1e-6, s"chi2 $r vs $chi2")
        val v = math.sqrt(chi2 / (n.toDouble * math.min(rEff - 1, cEff - 1)))
        assert(math.abs(r.getDouble(3) - v) <= 1e-6, s"V $r vs $v")
      }
    }
  }

  test("momentStats ≡ local centered moments for ANY grouped values") {
    // Independent reference: two-pass centered m₂/m₃/m₄ in plain
    // doubles vs the operator's raw-moment program — agreement within
    // conditioning; constant groups must yield NULL shape stats.
    val rowGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b")
      v <- Gen.choose(0, 1600).map(_ / 16.0)
    } yield (g, v))
    forAllSeeded(rowGen) { rows =>
      val got = graft.operators.AggOps.momentStats(rows.toDF("g", "value"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
          r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))))
        .toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val vs = rs.map(_._2); val n = vs.size
        val mu = vs.sum / n
        val m2 = vs.map(v => (v - mu) * (v - mu)).sum / n
        val m3 = vs.map(v => math.pow(v - mu, 3)).sum / n
        val m4 = vs.map(v => math.pow(v - mu, 4)).sum / n
        val (gn, gmean, gvar, gskew, gkurt) = got(g)
        assert(gn == n.toLong, s"g=$g n")
        assert(math.abs(gmean - mu) <= 1e-6, s"g=$g mean")
        assert(math.abs(gvar - m2) <= 1e-5, s"g=$g var $gvar vs $m2")
        if (m2 <= 1e-12) assert(gskew.isEmpty && gkurt.isEmpty, s"g=$g NULL")
        else {
          val skew = m3 / math.pow(m2, 1.5)
          val kurt = m4 / (m2 * m2) - 3.0
          assert(math.abs(gskew.get - skew) <=
            1e-5 * math.max(1.0, math.abs(skew)), s"g=$g skew")
          assert(math.abs(gkurt.get - kurt) <=
            1e-5 * math.max(1.0, math.abs(kurt)), s"g=$g kurt")
        }
      }
    }
  }

  test("runsTest ≡ local sign-runs fold for ANY series") {
    // Independent reference: compute the mean, signs, and run count
    // with Scala collections; z replays the operator's own double
    // program (all inputs integers) for bit-equality after the fence.
    val rowGen = Gen.nonEmptyListOf(for {
      u <- Gen.oneOf(1L, 2L)
      v <- Gen.choose(0, 1600).map(_ / 16.0)
    } yield (u, v)).map(_.zipWithIndex.map { case ((u, v), i) =>
      (u, i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), v) })
    forAllSeeded(rowGen) { rows =>
      val got = graft.operators.TimeSeries.runsTest(
          rows.toDF("user_id", "event_id", "ts", "value"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4)))))
        .toMap
      rows.groupBy(_._1).foreach { case (u, rs) =>
        val mean = rs.map(r => BigDecimal(r._4).setScale(4)).sum.toDouble /
          rs.size.toDouble
        val signed = rs.sortBy(r => (r._3.getTime, r._2))
          .filter(_._4 != mean).map(_._4 > mean)
        if (signed.isEmpty) assert(!got.contains(u), s"u=$u: empty")
        else {
          val n1 = signed.count(identity); val n2 = signed.size - n1
          val runs = 1 + signed.zip(signed.drop(1)).count(p => p._1 != p._2)
          val (nd, rd) = (signed.size.toDouble, runs.toDouble)
          val p = 2.0 * n1.toDouble * n2.toDouble
          val varR = p * (p - nd) / (nd * nd * (nd - 1.0))
          val z =
            if (nd <= 1.0 || math.max(varR, 0.0) == 0.0) None
            else Some(BigDecimal((rd - (p / nd + 1.0)) /
              math.sqrt(math.max(varR, 0.0)))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          assert(got(u) == ((n1.toLong, n2.toLong, runs.toLong, z)),
            s"u=$u: ${got(u)} vs ${(n1, n2, runs, z)}")
        }
      }
    }
  }

  test("clusteringCoeff ≡ local neighborhood closure for ANY graph") {
    // Independent reference: materialize neighbor SETS and count
    // closed wedges directly per node — a wedge/orientation bug in
    // the triangle core cannot agree with set intersection.
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 9L); d <- Gen.choose(1L, 9L)
    } yield { val b = (a + d) % 10; (math.min(a, b), math.max(a, b)) })
      .map(_.distinct)
    forAllSeeded(edgeGen) { und =>
      val got = graft.llm.LlmGraph.clusteringCoeff(und.toDF("u", "v"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
        .toMap
      val nb = (und ++ und.map { case (a, b) => (b, a) })
        .groupBy(_._1).map { case (x, es) => x -> es.map(_._2).toSet }
      nb.foreach { case (v, ns) =>
        val t = ns.toSeq.combinations(2)
          .count { case Seq(a, b) => nb(a).contains(b) }
        val d = ns.size
        val coeff =
          if (d < 2) None
          else Some(BigDecimal(2.0 * t.toDouble /
            (d.toDouble * (d.toDouble - 1.0)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        assert(got(v) == ((d.toLong, t.toLong, coeff)),
          s"v=$v: ${got(v)} vs ${(d, t, coeff)}")
      }
    }
  }

  test("balancedSample: every stratum keeps exactly the min count, by md5 rank") {
    // Independent reference: recompute the md5 ranking with
    // MessageDigest and the binding min with Scala collections — pins
    // both the balance invariant and WHICH docs survive.
    def key(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s"$id:42".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    val gen = Gen.nonEmptyListOf(Gen.oneOf("en", "de", "fr"))
      .map(_.zipWithIndex.map { case (l, i) => (i.toLong, l) })
    forAllSeeded(gen) { docs =>
      val got = graft.llm.CorpusPipeline.balancedSample(
          docs.toDF("doc_id", "lang"))
        .collect()
        .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
      val byLang = docs.groupBy(_._2)
      val minc = byLang.values.map(_.size).min
      val want = byLang.toSeq.flatMap { case (l, ds) =>
        ds.map(_._1).sortBy(id => (key(id), id)).take(minc)
          .zipWithIndex.map { case (id, i) =>
            (l, id, i + 1L, minc.toLong) }
      }.toSet
      assert(got.toSet == want, s"got ${got.take(5).toSeq}…")
      assert(got.groupBy(_._1).values.forall(_.length == minc), "balance")
    }
  }

  test("cusumExcursions ≡ sequential max(0, S + x − μ) recurrence") {
    // Independent reference: the textbook one-sided CUSUM folds — a
    // genuinely different computation than the operator's windowed
    // prefix-sum identity, so they agree only within float
    // conditioning (1e-6); a baseline or min/max-direction bug lands
    // far outside.
    val gen = Gen.nonEmptyListOf(for {
      u <- Gen.oneOf(1L, 2L)
      v <- Gen.choose(0, 1600).map(_ / 16.0)
    } yield (u, v)).map(_.zipWithIndex.map { case ((u, v), i) =>
      (u, i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), v) })
    forAllSeeded(gen) { rows =>
      val got = graft.operators.TimeSeries.cusumExcursions(
          rows.toDF("user_id", "event_id", "ts", "value"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
          r.getDouble(3))))
        .toMap
      rows.groupBy(_._1).foreach { case (u, rs) =>
        val vs = rs.sortBy(r => (r._3.getTime, r._2)).map(_._4)
        val mu = vs.sum / vs.size
        var (sUp, sDn, mUp, mDn) = (0.0, 0.0, 0.0, 0.0)
        vs.foreach { x =>
          sUp = math.max(0.0, sUp + (x - mu)); mUp = math.max(mUp, sUp)
          sDn = math.max(0.0, sDn - (x - mu)); mDn = math.max(mDn, sDn)
        }
        val (gn, gUp, gDn) = got(u)
        assert(gn == vs.size.toLong, s"u=$u n")
        assert(math.abs(gUp - mUp) <= 1e-6 * math.max(1.0, mUp),
          s"u=$u up $gUp vs $mUp")
        assert(math.abs(gDn - mDn) <= 1e-6 * math.max(1.0, mDn),
          s"u=$u down $gDn vs $mDn")
      }
    }
  }

  test("forecastEval ≡ closed-form EWMA backtest for ANY series") {
    // Independent reference: the capped EWMA closed form on
    // BigDecimal (the ewmaCapped property's recipe), shifted one step
    // for the forecast, exact decimal errors, then the operator's own
    // double programs — bit-equal after the round-6 fence.
    val series = Gen.nonEmptyListOf(for {
      user <- Gen.choose(1L, 2L)
      v <- Gen.choose(-99999, 99999).map(_ / 100.0)
    } yield (user, v))
    forAllSeeded(series) { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((u, v), i) =>
        (u, i.toLong,
          new java.sql.Timestamp(1700000000000L + i * 1000L), v)
      }
      val got = graft.operators.TimeSeries.forecastEval(
          rows.toDF("user_id", "event_id", "ts", "value"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))))
        .toMap
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      for ((u, srs) <- rows.groupBy(_._1)) {
        val xs = srs.sortBy(r => (r._3.getTime, r._2))
          .map(r => BigDecimal(r._4).setScale(4,
            BigDecimal.RoundingMode.HALF_UP))
        val ewma = xs.indices.map { i =>
          val m = math.min(i + 1, 8)
          (0 until m).map { j =>
            val coef =
              if (j == m - 1) BigDecimal(1) / BigDecimal(BigInt(1) << (m - 1))
              else BigDecimal(1) / BigDecimal(BigInt(1) << (j + 1))
            xs(i - j) * coef
          }.sum.setScale(4, BigDecimal.RoundingMode.HALF_UP)
        }
        if (xs.size >= 2) {
          val errs = (1 until xs.size).map(i => xs(i) - ewma(i - 1))
          val n = errs.size.toDouble
          val want = (errs.size.toLong,
            r6(errs.map(_.abs).sum.toDouble / n),
            r6(errs.sum.toDouble / n),
            r6(math.sqrt(errs.map(e => e * e).sum.toDouble / n)))
          assert(got(u) == want, s"u=$u: ${got(u)} vs $want")
        } else assert(!got.contains(u), s"u=$u: single row must drop")
      }
    }
  }

  test("contaminationReport ≡ local shingle-set overlap for ANY docs") {
    // Independent reference: materialize each doc's DISTINCT 3-shingle
    // SET with Scala collections and intersect pairs directly — the
    // operator goes through an inverted posting join instead.
    val gen = Gen.nonEmptyListOf(for {
      n <- Gen.choose(1, 10)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield ws.mkString(" ")).map(_.zipWithIndex.map { case (t, i) =>
      (i.toLong, t) })
    forAllSeeded(gen) { docs =>
      val (bench, train) = docs.partition(_._1 % 3 == 0)
      if (bench.nonEmpty && train.nonEmpty) {
        val got = graft.llm.CorpusPipeline.contaminationReport(
            train.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
            minSharedShingles = 2)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
            r.getBoolean(3))))
          .toMap
        def sh(t: String): Set[String] = {
          val w = t.split(" ")
          if (w.length < 3) Set.empty
          else w.sliding(3).map(_.mkString(" ")).toSet
        }
        bench.foreach { case (bid, bt) =>
          val overlaps = train
            .map { case (_, tt) => (sh(bt) & sh(tt)).size }
            .filter(_ >= 2)
          val want = (overlaps.size.toLong,
            (if (overlaps.isEmpty) 0 else overlaps.max).toLong,
            overlaps.nonEmpty)
          assert(got(bid) == want, s"bench=$bid: ${got(bid)} vs $want")
        }
      }
    }
  }

  test("degreeHistogram ≡ local log2 bucket fold for ANY graph") {
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 9L); d <- Gen.choose(1L, 9L)
    } yield { val b = (a + d) % 10; (math.min(a, b), math.max(a, b)) })
      .map(_.distinct)
    forAllSeeded(edgeGen) { und =>
      val got = graft.llm.LlmGraph.degreeHistogram(und.toDF("u", "v"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3))))
        .toMap
      val deg = (und ++ und.map { case (a, b) => (b, a) })
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val want = deg.values.groupBy(d =>
          (63 - java.lang.Long.numberOfLeadingZeros(d)).toLong)
        .map { case (b, ds) =>
          b -> ((ds.size.toLong, ds.min, ds.max)) }
      assert(got == want, s"got $got, want $want")
    }
  }

  test("phashNearDup ≡ exhaustive 1-NN scan for ANY signatures") {
    // Independent reference: scan ALL pairs with Scala collections and
    // pick each doc's nearest neighbor among those satisfying the
    // operator's documented contract — shares ≥ 1 exact band AND
    // within the level distance. (The contract is band-gated by
    // design: a pair differing in every band is LSH-invisible, like
    // dedup_simhash's.) The reference materializes pairs and bands
    // directly, so a join/dedup/rank bug in the operator cannot agree
    // with it.
    val sigGen = Gen.nonEmptyListOf(
      Gen.listOfN(16, Gen.choose(0, 2)).map(_.mkString))
      .map(_.zipWithIndex.map { case (s, i) => (i.toLong, s) })
    forAllSeeded(sigGen) { sigs =>
      val got = graft.llm.Multimodal.phashNearDup(
          sigs.toDF("doc_id", "signature"), bandLen = 4, maxDist = 6)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      def bands(s: String) = (0 until 4).map(b => (b, s.substring(b * 4, b * 4 + 4)))
      def dist(a: String, b: String) =
        a.zip(b).map { case (x, y) => math.abs(x - y) }.sum.toLong
      val want = sigs.flatMap { case (id, s) =>
        val cands = sigs.filter { case (oid, os) =>
          oid != id && (bands(s).toSet & bands(os).toSet).nonEmpty &&
            dist(s, os) <= 6
        }
        if (cands.isEmpty) None
        else {
          val best = cands.map { case (oid, os) => (dist(s, os), oid) }.min
          Some(id -> ((best._2, best._1)))
        }
      }.toMap
      assert(got == want, s"got ${got.take(4)}, want ${want.take(4)}")
    }
  }

  test("fkCheck ≡ local set-difference fold for ANY parent/child") {
    // Independent reference: Scala sets and group counts. Pins the
    // NULL-key exclusion and the distinct-key (not row) orphan count.
    val gen = for {
      child <- Gen.nonEmptyListOf(Gen.oneOf(
        Gen.choose(0L, 12L).map(Option(_)), Gen.const(Option.empty[Long])))
      parent <- Gen.listOf(Gen.choose(0L, 9L))
    } yield (child, parent)
    forAllSeeded(gen) { case (child, parent) =>
      val r = graft.operators.DomainOps.fkCheck(Seq(
          ("t", child.map(Tuple1(_)).toDF("k"), "k",
            (parent :+ 99L).map(Tuple1(_)).toDF("p"), "p")))
        .collect().head
      val keys = child.flatten
      val pset = (parent :+ 99L).toSet
      val byKey = keys.groupBy(identity).view.mapValues(_.size).toMap
      val orphanKeys = byKey.keys.filterNot(pset).toSeq
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((keys.size.toLong, byKey.size.toLong, orphanKeys.size.toLong,
          orphanKeys.map(byKey).sum.toLong)),
        s"got $r vs ${(keys.size, byKey.size, orphanKeys.size)}")
    }
  }

  test("containmentPairs ≡ local shingle-set division for ANY docs") {
    // Independent reference: materialized DISTINCT shingle SETS and a
    // direct pair scan — the operator's inverted-index join cannot
    // agree with a set intersection by accident. Pins the DIRECTED
    // semantics (A-in-B survives where B-in-A fails).
    val gen = Gen.nonEmptyListOf(for {
      n <- Gen.choose(3, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield ws.mkString(" ")).map(_.zipWithIndex.map { case (t, i) =>
      (i.toLong, t) })
    forAllSeeded(gen) { docs =>
      val got = graft.llm.LlmDedup.containmentPairs(
          docs.toDF("doc_id", "text"), minContainment = 0.5,
          minShingles = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
      def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val want = (for {
        (a, ta) <- docs; (b, tb) <- docs if a != b
        sa = sh(ta); shared = (sa & sh(tb)).size
        c = BigDecimal(shared.toDouble / sa.size.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if shared > 0 && c >= 0.5 && sa.size >= 2
      } yield (a, b) -> ((sa.size.toLong, shared.toLong, c))).toMap
      assert(got == want, s"got ${got.take(4)}, want ${want.take(4)}")
    }
  }

  test("degreeAssortativity ≡ local exact fold for ANY simple graph") {
    // Independent reference: mirrored endpoint-degree moments in exact
    // BigInt, then the operator's own sqrt-free double program —
    // bit-equal after the same round(·, 6) fence. Pins the
    // zero-variance → NULL guard (a single edge: both degrees 1).
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 9L); d <- Gen.choose(1L, 9L)
    } yield { val b = (a + d) % 10; (math.min(a, b), math.max(a, b)) })
      .map(_.distinct)
    forAllSeeded(edgeGen) { und =>
      val row = graft.llm.LlmGraph.degreeAssortativity(und.toDF("u", "v"))
        .collect().head
      val adj = und ++ und.map { case (a, b) => (b, a) }
      val deg = adj.groupBy(_._1).view.mapValues(_.size).toMap
      val m2 = adj.size
      val sx = BigInt(adj.map(e => deg(e._1)).sum)
      val sxx = adj.map(e => BigInt(deg(e._1)) * deg(e._1)).sum
      val sxy = adj.map(e => BigInt(deg(e._1)) * deg(e._2)).sum
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val den = m2.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
      val want =
        if (den == 0.0) None
        else Some(r6((m2.toDouble * sxy.toDouble -
          sx.toDouble * sx.toDouble) / den))
      assert(row.getLong(0) == und.size.toLong, "n_edges")
      assert(row.getDouble(1) == r6(sx.toDouble / m2), "mean_deg")
      val gotR = if (row.isNullAt(2)) None else Some(row.getDouble(2))
      assert(gotR == want, s"assortativity $gotR vs $want")
    }
  }

  test("sub_recursive ≡ independent Scala fold on random fact tables") {
    // The oracle blind spot (the r9 triangle lesson): the DuckDB
    // replay composes the SAME SQL fragments, so a shared semantic bug
    // in the trade-graph derivation or the bag-semantics path count
    // would hash-match green. This fold recomputes everything —
    // paircnt, top-3 trade edges, seed, bounded-hop reachability with
    // UNION ALL multiplicities — in plain Scala collections over
    // RANDOM fact tables, including graphs with cycles, empty
    // paircnt (every supplier trades its own nation), and seed ties.
    val gen = for {
      nNat  <- Gen.choose(2, 5)
      supN  <- Gen.listOfN(6, Gen.choose(0, nNat - 1))
      cusN  <- Gen.listOfN(8, Gen.choose(0, nNat - 1))
      ordC  <- Gen.listOfN(12, Gen.choose(1, 8))
      lines <- Gen.listOfN(30, Gen.zip(Gen.choose(1, 12), Gen.choose(1, 6)))
    } yield (nNat, supN, cusN, ordC, lines)
    forAllSeeded(gen, n = 4) { case (nNat, supN, cusN, ordC, lines) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_recprop").toString
      (0 until nNat).map(i => (i, s"NATION_$i")).toDF("n_nationkey", "n_name")
        .write.parquet(s"$dir/nation.parquet")
      supN.zipWithIndex.map { case (n, i) => ((i + 1).toLong, n) }
        .toDF("s_suppkey", "s_nationkey").write.parquet(s"$dir/supplier.parquet")
      cusN.zipWithIndex.map { case (n, i) => ((i + 1).toLong, n) }
        .toDF("c_custkey", "c_nationkey").write.parquet(s"$dir/customer.parquet")
      ordC.zipWithIndex.map { case (c, i) => ((i + 1).toLong, c.toLong) }
        .toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
      lines.map { case (o, s) => (o.toLong, s.toLong) }
        .toDF("l_orderkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")

      // Independent fold, no Spark.
      val custNat = cusN.zipWithIndex.map { case (n, i) => (i + 1) -> n }.toMap
      val ordCust = ordC.zipWithIndex.map { case (c, i) => (i + 1) -> c }.toMap
      val supNat = supN.zipWithIndex.map { case (n, i) => (i + 1) -> n }.toMap
      val paircnt = lines
        .map { case (o, s) => (supNat(s), custNat(ordCust(o))) }
        .filter { case (src, dst) => src != dst }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val trade: Seq[(Int, Int)] = paircnt.groupBy(_._1._1).toSeq
        .flatMap { case (src, m) =>
          m.toSeq.map { case ((_, d), c) => (d, c) }
            .sortBy { case (d, c) => (-c, d) }.take(3)
            .map { case (d, _) => (src, d) }
        }
      val seedOpt = paircnt.groupBy(_._1._1)
        .map { case (s, m) => s -> m.values.sum }.toSeq
        .sortBy { case (s, tot) => (-tot, s) }.headOption.map(_._1)
      val adj = trade.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      val rows = scala.collection.mutable.Buffer[(Int, Int, Long)]()
      var frontier: Map[Int, Long] = seedOpt match {
        case Some(sd) => adj.getOrElse(sd, Seq.empty)
          .groupBy(identity).map { case (d, v) => d -> v.size.toLong }
        case None => Map.empty
      }
      frontier.foreach { case (nk, c) => rows += ((nk, 1, c)) }
      for (h <- 2 to 3) {
        frontier = frontier.toSeq
          .flatMap { case (nk, c) => adj.getOrElse(nk, Seq.empty).map(_ -> c) }
          .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
        frontier.foreach { case (nk, c) => rows += ((nk, h, c)) }
      }
      val want = rows.groupBy(_._1).toSeq.map { case (nk, rs) =>
        (s"NATION_$nk", rs.map(_._2).min.toLong, rs.map(_._3).sum)
      }.sortBy { case (n, mh, _) => (mh, n) }

      val got = graft.operators.SubqueryOps.queries("sub_recursive")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want, s"recursive reachability:\n$got\nvs fold\n$want")
    }
  }

  test("graft_json_valid ≡ an independent Jackson validity walk over " +
    "randomized JSON and mutations of it") {
    // The scanner is hand-rolled (exceptions-as-control-flow made the
    // Jackson probe 2.5× the whole key — see JsonValid's scaladoc), so
    // its grammar needs an INDEPENDENT reference: Jackson streaming
    // validation, the implementation the scanner replaced. Generator:
    // structurally random JSON documents plus byte-level mutations
    // (truncations, brace injections, quote drops) — the mutation
    // space is where a scanner bug would hide. ASCII-only strings: the
    // reference goes through String (lossy for invalid UTF-8), the
    // scanner reads raw bytes; the keys only probe ASCII shapes.
    val jsonGen: Gen[String] = {
      def value(depth: Int): Gen[String] =
        if (depth <= 0) scalar
        else Gen.frequency(
          3 -> scalar,
          1 -> Gen.listOfN(2, value(depth - 1)).map(_.mkString("[", ",", "]")),
          1 -> Gen.listOfN(2, Gen.zip(Gen.alphaStr.map(k => "\"" + k + "\""),
            value(depth - 1))).map(_.map { case (k, v) => s"$k:$v" }
            .mkString("{", ",", "}")))
      lazy val scalar: Gen[String] = Gen.oneOf(
        Gen.choose(-1000000L, 1000000L).map(_.toString),
        Gen.choose(-999.0, 999.0).map(d => f"$d%.3f"),
        Gen.alphaStr.map(t => "\"" + t + "\""),
        Gen.oneOf("true", "false", "null"),
        Gen.const("1e5"), Gen.const("-0.5E-2"),
        Gen.const("\"esc\\n\\u0041\""))
      value(3)
    }
    val mutated: Gen[String] = for {
      j <- jsonGen
      m <- Gen.oneOf[String => String](
        identity[String] _,
        (x: String) => "{" + x,
        (x: String) => x + "}",
        (x: String) => x.take(math.max(0, x.length - 1)),
        (x: String) => x.replaceFirst("\\{", ""),
        (x: String) => x.replace("\"", ""),
        (x: String) => x + " ",
        (x: String) => " \t" + x,
        (x: String) => x + "garbage",
        (x: String) => x.replaceFirst(",", ",,"))
    } yield m(j)
    val factory = new com.fasterxml.jackson.core.JsonFactory()
    def jacksonValid(t: String): Boolean =
      try {
        val p = factory.createParser(t)
        try {
          if (p.nextToken() == null) false
          else { p.skipChildren(); p.nextToken() == null }
        } finally p.close()
      } catch { case _: Exception => false }
    forAllSeeded(Gen.listOfN(200, mutated)) { texts =>
      texts.foreach { t =>
        val got = graft.functions.JsonValid.compute(
          org.apache.spark.unsafe.types.UTF8String.fromString(t))
        val want = jacksonValid(t)
        assert(got == want, s"json_valid('$t'): scanner=$got jackson=$want")
      }
    }
  }

  test("graft_variant_gets ≡ an independent Jackson tree walk over " +
    "randomized flat objects") {
    // The streaming battery's typed-get semantics vs jackson-databind's
    // TREE API — a different code path through a different parser
    // surface (the r9 triangle lesson: only an independent fold
    // catches a bug shared between an implementation and its oracle).
    val fieldGen: Gen[(String, String)] = for {
      name <- Gen.oneOf("k", "s", "z", "big", "neg", "obj", "arr", "dbl")
      v <- Gen.oneOf(
        Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
        Gen.const("99999999999999999999999999"), // BigInteger → NULL
        Gen.alphaStr.map(t => "\"" + t + "\""),
        Gen.const("{\"nested\": [1, 2]}"),
        Gen.const("[3, {\"d\": 4}]"),
        Gen.choose(-99.0, 99.0).map(d => f"$d%.4f"),
        Gen.oneOf("true", "false", "null"))
    } yield (name, v)
    val objGen: Gen[String] = Gen.listOfN(5, fieldGen).map(fs =>
      fs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val specs = Array(
      graft.functions.VariantGets.parseSpec("k:bigint:kn"),
      graft.functions.VariantGets.parseSpec("k:string:ks"),
      graft.functions.VariantGets.parseSpec("s:string:ss"),
      graft.functions.VariantGets.parseSpec("big:bigint:bn"),
      graft.functions.VariantGets.parseSpec("missing:bigint:mn"))
    forAllSeeded(Gen.listOfN(100, objGen)) { texts =>
      texts.foreach { t =>
        val row = graft.functions.VariantGets.compute(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), specs)
        val tree = mapper.readTree(t)
        // Jackson tree keeps the LAST duplicate; the streaming battery
        // keeps the last matching field too (each match overwrites).
        def refLong(f: String): Any = {
          val nd = tree.get(f)
          if (nd != null && nd.isIntegralNumber && nd.canConvertToLong)
            nd.asLong() else null
        }
        def refStr(f: String): Any = {
          val nd = tree.get(f)
          if (nd == null) null
          else if (nd.isTextual) nd.asText()
          else if (nd.isIntegralNumber && nd.canConvertToLong)
            java.lang.Long.toString(nd.asLong())
          else null
        }
        def got(i: Int): Any =
          if (row.isNullAt(i)) null
          else if (specs(i).asString) row.getUTF8String(i).toString
          else row.getLong(i)
        val want = Seq(refLong("k"), refStr("k"), refStr("s"),
          refLong("big"), refLong("missing"))
        val gotAll = (0 until 5).map(got)
        assert(gotAll == want, s"variant_gets('$t'): $gotAll vs $want")
      }
    }
  }

  test("fn_collate's collated GROUP BY ≡ a plain-Scala case-fold over " +
    "randomized mixed-case strings incl. non-ASCII") {
    // UTF8_LCASE grouping vs an independent Scala groupBy(toLowerCase):
    // the oracle replays lower(t) in SQL, so only a JVM-side fold can
    // catch a shared folding bug. Alphabet: Latin, Latin-1 accents,
    // Greek and Cyrillic — scripts with clean 1:1 case mappings where
    // UTF8_LCASE and java.lang.String.toLowerCase(ROOT) agree (the
    // locale-sensitive outliers — Turkish dotless i, ß→ss full folds —
    // are exactly what a collation comparison must NOT silently decide,
    // so they stay out of the generator and out of the key's claims).
    val letter = Gen.oneOf(
      ('a' to 'z') ++ ('A' to 'Z') ++ "àÀéÉöÖüÜñÑ" ++
        "αΑβΒγΓ" ++ "бБвВгГ")
    val word = Gen.listOfN(4, letter).map(_.mkString)
    forAllSeeded(Gen.listOfN(60, word), n = 3) { words =>
      import spark.implicits._
      val df = words.toDF("t")
      df.createOrReplaceTempView("collate_prop")
      val got = spark.sql(
        """SELECT lower(min(t)) AS lc, CAST(COUNT(*) AS BIGINT) AS n,
          |CAST(COUNT(DISTINCT t) AS BIGINT) AS forms
          |FROM collate_prop GROUP BY t COLLATE UTF8_LCASE
          |ORDER BY lc""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val want = words.groupBy(_.toLowerCase(java.util.Locale.ROOT)).toSeq
        .map { case (_, ws) =>
          (ws.min.toLowerCase(java.util.Locale.ROOT), ws.size.toLong,
            ws.distinct.size.toLong)
        }.sortBy(_._1)
      spark.catalog.dropTempView("collate_prop")
      assert(got == want, s"collated grouping:\n$got\nvs fold\n$want")
    }
  }
}
