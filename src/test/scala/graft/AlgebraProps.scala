package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck algebraic cross-checks (SURVEY.md §5.3): properties the
  * operators must satisfy on ARBITRARY inputs, complementing the
  * DuckDB oracle (fixed data) and the unit suites (fixed cases).
  * Each property is checked on generated micro-frames — the point is
  * input-shape coverage (dups, ties, empty groups, single-row users),
  * not volume.
  */
object AlgebraProps extends Properties("graft.algebra") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = 1704067200000L // 2024-01-01 00:00:00 UTC

  /** (user, offset-seconds, value) event rows; offsets bounded to a
    * few hours so windows actually interact. */
  private val genEvents: Gen[List[(Long, Long, Long)]] =
    Gen.listOfN(40, for {
      u <- Gen.choose(0L, 3L)
      t <- Gen.choose(0L, 4L * 3600L)
      v <- Gen.choose(-50L, 50L)
    } yield (u, t, v))

  private def eventsDf(rows: List[(Long, Long, Long)]) =
    rows.map { case (u, t, v) => (u, new Timestamp(base + t * 1000), v) }
      .toDF("user_id", "ts", "v")

  property("tumbling windows partition both count and sum") =
    forAll(genEvents) { rows =>
      val df = eventsDf(rows)
      val w = df.groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      val (n, sv) =
        if (rows.isEmpty) (0L, 0L)
        else {
          val r = w.agg(sum("n"), sum("sv")).head()
          (r.getLong(0), r.getLong(1))
        }
      n == rows.length && sv == rows.map(_._3).sum
    }

  property("session windows: gaps within < 30min, between >= 30min; events conserved") =
    forAll(genEvents) { rows =>
      val df = eventsDf(rows)
      val sess = df.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("session_window.start").cast("long").as("st"),
          col("session_window.end").cast("long").as("en"), col("n"))
        .collect()
      val conserved = sess.map(_.getAs[Long]("n")).sum == rows.length
      val separated = sess.groupBy(_.getAs[Long]("user_id")).forall { case (_, ss) =>
        val sorted = ss.sortBy(_.getAs[Long]("st"))
        sorted.sliding(2).forall { pair =>
          if (pair.length < 2) true
          else pair(1).getAs[Long]("st") >= pair(0).getAs[Long]("en")
        }
      }
      conserved && separated
    }

  property("distinct is idempotent and a lower bound") =
    forAll(genEvents) { rows =>
      val df = eventsDf(rows).select("user_id", "v")
      val d1 = df.distinct()
      d1.count() == d1.distinct().count() && d1.count() <= math.max(rows.length, 0)
    }

  property("rollup contains the plain group-by as its finest level") =
    forAll(genEvents) { rows =>
      val df = eventsDf(rows)
      val plain = df.groupBy("user_id", "v").agg(count(lit(1)).as("n"))
      val finest = df.rollup("user_id", "v").agg(count(lit(1)).as("n"))
        .where(grouping("user_id") === 0 && grouping("v") === 0)
        .select("user_id", "v", "n")
      plain.except(finest).isEmpty && finest.except(plain).isEmpty
    }

  property("union/intersect/except agree with Scala set algebra") =
    forAll(Gen.listOf(Gen.choose(0L, 12L)), Gen.listOf(Gen.choose(0L, 12L))) {
      (xs, ys) =>
        val a = xs.toDF("k"); val b = ys.toDF("k")
        val inter = a.intersect(b).collect().map(_.getLong(0)).toSet
        val exc = a.except(b).collect().map(_.getLong(0)).toSet
        val uni = a.union(b).distinct().collect().map(_.getLong(0)).toSet
        inter == (xs.toSet intersect ys.toSet) &&
          exc == (xs.toSet diff ys.toSet) &&
          uni == (xs.toSet union ys.toSet)
    }

  property("salted top-k equals the plain window top-k") =
    forAll(genEvents) { rows =>
      val df = eventsDf(rows)
      val ordering = Seq(col("v").desc, col("ts").asc)
      val salted = graft.operators.TopK
        .perGroup(df, Seq("user_id"), ordering, k = 3, salts = 4)
        .select("user_id", "rn", "v").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(ordering: _*)
      val plain = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3).select("user_id", "rn", "v").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      salted == plain
    }

  /** (group, tie, unique-ish) rows — ties and full duplicates are
    * frequent on purpose: rank boundaries and duplicate-row rn
    * interleaving are the hard cases. */
  private val genRankRows: Gen[List[(Long, Long, Long)]] =
    Gen.listOfN(40, for {
      g <- Gen.choose(0L, 2L)
      t <- Gen.choose(0L, 5L)
      u <- Gen.choose(0L, 9L)
    } yield (g, t, u))

  property("DistributedRank.ranked equals the window ranking family (both paths)") =
    forAll(genRankRows) { rows =>
      val df = rows.toDF("g", "t", "u")
      def tup(r: org.apache.spark.sql.Row) =
        // ranks read width-agnostically: got emits LONG, want's
        // window built-ins emit INT — same values, different width
        (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Number](3).longValue, r.getAs[Number](4).longValue,
          r.getAs[Number](5).longValue, r.getInt(6))
      // adaptiveCut default → small-value-frame path; 0 → bucketed
      // path; -1 → declared-small (probe-free) path
      def got(cut: Int) = graft.operators.DistributedRank
        .ranked(df, Seq("g"), Seq("t"), Seq("u"), ntileK = 3, numRanges = 5,
          adaptiveCut = cut)
        .select("g", "t", "u", "rnk", "drnk", "rn", "nt")
        .collect().map(tup).sorted.toSeq
      val wTie = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("t")
      val wTot = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("t", "u")
      val want = df.select(col("g"), col("t"), col("u"),
          rank().over(wTie).as("rnk"), dense_rank().over(wTie).as("drnk"),
          row_number().over(wTot).as("rn"), ntile(3).over(wTot).as("nt"))
        .collect().map(tup).sorted.toSeq
      got(10000) == want && got(0) == want && got(-1) == want
    }

  property("DistributedRank.quantiles equals percentile() bit-for-bit (both paths)") =
    forAll(Gen.listOfN(30, for {
      g <- Gen.choose(0L, 2L)
      v <- Gen.choose(0L, 16L) // small domain → plenty of ties
      isNull <- Gen.frequency(5 -> false, 1 -> true)
    } yield (g, v, isNull))) { rows =>
      val df = rows.toDF("g", "v0", "nn")
        .select(col("g"),
          when(col("nn"), lit(null))
            .otherwise(col("v0").cast("double") / 4.0).as("v"))
      val qs = Seq("q0" -> 0.0, "q25" -> 0.25, "q50" -> 0.5,
        "q95" -> 0.95, "q100" -> 1.0)
      def tup(r: org.apache.spark.sql.Row) =
        (r.getLong(0), qs.indices.map(i => r.getDouble(i + 1)).toList)
      // default cut → prefix-window path; 0 → bucketed path
      def got(cut: Int) = graft.operators.DistributedRank
        .quantiles(df, Seq("g"), "v", qs, numRanges = 4, adaptiveCut = cut)
        .collect().map(tup).sortBy(_._1).toList
      // builtin exact form; all-null groups are absent from quantiles'
      // output by contract, so drop their NULL results here too
      val want = df.groupBy("g").agg(
          expr("percentile(v, 0.0)").as("q0"),
          expr("percentile(v, 0.25)").as("q25"),
          expr("percentile(v, 0.5)").as("q50"),
          expr("percentile(v, 0.95)").as("q95"),
          expr("percentile(v, 1.0)").as("q100"))
        .where(col("q50").isNotNull)
        .collect().map(tup).sortBy(_._1).toList
      got(10000) == want && got(0) == want
    }

  property("IntervalJoin.pointInInterval equals the plain theta join") =
    forAll(for {
      pts <- Gen.listOfN(30, Gen.choose(-50L, 50L))
      ivs <- Gen.listOfN(15, for {
        lo <- Gen.choose(-50L, 50L)
        len <- Gen.choose(0L, 9L)
      } yield (lo, lo + len))
      w <- Gen.choose(1L, 12L)
    } yield (pts, ivs, w)) { case (pts, ivs, w) =>
      val p = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("pid", "p")
      val iv = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      val got = graft.operators.IntervalJoin
        .pointInInterval(p, iv, "p", "lo", "hi", maxLen = 9, bucketWidth = w)
        .select("pid", "iid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (v, i) <- pts.zipWithIndex
        ((lo, hi), j) <- ivs.zipWithIndex
        if lo <= v && v <= hi
      } yield (i.toLong, j.toLong)).toSet
      got == want
    }

  property("IntervalJoin.intervalOverlap equals brute force, each pair exactly once") =
    forAll(for {
      as <- Gen.listOfN(12, for {
        lo <- Gen.choose(-40L, 40L); len <- Gen.choose(0L, 8L)
      } yield (lo, lo + len))
      bs <- Gen.listOfN(12, for {
        lo <- Gen.choose(-40L, 40L); len <- Gen.choose(0L, 8L)
      } yield (lo, lo + len))
      w <- Gen.choose(1L, 10L)
    } yield (as, bs, w)) { case (as, bs, w) =>
      val l = as.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("aid", "alo", "ahi")
      val r = bs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("bid", "blo", "bhi")
      val got = graft.operators.IntervalJoin
        .intervalOverlap(l, r, "alo", "ahi", "blo", "bhi",
          maxLen = 8, bucketWidth = w)
        .select("aid", "bid")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      // exactly once: no dedup pass ran, so multiplicity matters
      val want = for {
        ((alo, ahi), i) <- as.zipWithIndex
        ((blo, bhi), j) <- bs.zipWithIndex
        if alo <= bhi && blo <= ahi
      } yield (i.toLong, j.toLong)
      got.sorted == want.sorted
    }

  property("MisraGries guarantees hold on multi-partition skewed streams") =
    forAll(Gen.listOfN(200, Gen.frequency(
      8 -> Gen.choose(0L, 3L),     // hot keys
      2 -> Gen.choose(10L, 200L)   // long tail
    ))) { xs =>
      xs.isEmpty || {
        val k = 8
        val agg = org.apache.spark.sql.functions.udaf(
          new graft.functions.MisraGries(k))
        // repartition forces the partial + merge path the mergeable
        // bound covers
        val out = xs.toDF("x").repartition(4)
          .agg(agg(col("x")).as("tk"))
          .select(explode(col("tk")).as("kc"))
          .select(col("kc._1"), col("kc._2"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val exact = xs.groupBy(identity).map { case (key, l) => key -> l.size.toLong }
        val eps = xs.size.toDouble / (k + 1)
        // every key above the band is retained…
        val hotKept = exact.forall { case (key, c) =>
          c <= eps || out.contains(key) }
        // …and every report is a lower bound within the band
        val bounded = out.forall { case (key, c) =>
          val t = exact.getOrElse(key, 0L)
          c >= 1 && c <= t && t - c <= eps }
        hotKept && bounded
      }
    }

  property("prefixJaccardJoin equals brute-force thresholded Jaccard") =
    forAll(Gen.listOfN(12, for {
      len <- Gen.choose(0, 12)
      ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
    } yield ws.mkString(" "))) { texts =>
      // tiny alphabet + bigrams → plenty of ties and high-J pairs;
      // docs with < 2 tokens must drop out on both sides
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.operators.TextDedup
        .prefixJaccardJoin(df, "doc_id", "text", n = 2, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      def gramsOf(s: String): Set[String] =
        s.split(" ").filter(_.nonEmpty).sliding(2)
          .filter(_.length == 2).map(_.mkString(" ")).toSet
      val g = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> gramsOf(t) }.filter(_._2.nonEmpty)
      val want = (for {
        (a, ga) <- g; (b, gb) <- g if a < b
        inter = (ga & gb).size
        if inter.toDouble / (ga.size + gb.size - inter) >= 0.5
      } yield (a, b, inter.toLong)).toSet
      got == want
    }

  property("containmentJoin equals brute-force directed containment") =
    forAll(Gen.listOfN(10, for {
      len <- Gen.choose(0, 12)
      ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
    } yield ws.mkString(" "))) { texts =>
      // tiny alphabet + bigrams → subset-heavy pairs; directionality
      // means BOTH (a,b) and (b,a) can qualify independently
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.operators.TextDedup
        .containmentJoin(df, "doc_id", "text", n = 2, threshold = 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      def gramsOf(s: String): Set[String] =
        s.split(" ").filter(_.nonEmpty).sliding(2)
          .filter(_.length == 2).map(_.mkString(" ")).toSet
      val g = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> gramsOf(t) }.filter(_._2.nonEmpty)
      val want = (for {
        (a, ga) <- g; (b, gb) <- g if a != b
        inter = (ga & gb).size
        if inter.toDouble / ga.size >= 0.6
      } yield (a, b, inter.toLong)).toSet
      got == want
    }

  property("Triangles.perNode equals brute-force triangle membership") =
    forAll(Gen.listOfN(25, for {
      a <- Gen.choose(0L, 9L)
      b <- Gen.choose(0L, 9L)
    } yield (a, b))) { raw =>
      // dups, self-loops, both orientations — the operator must cope
      val got = graft.operators.Triangles.perNode(raw.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val edges = raw.collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = edges.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val tris = nodes.combinations(3).filter { case Seq(x, y, z) =>
        edges((x, y)) && edges((x, z)) && edges((y, z)) }.toSeq
      val want = tris.flatten.groupBy(identity)
        .map { case (n, l) => n -> l.size.toLong }
      got == want
    }

  property("DistributedRank.ranked keeps and ranks NULL tie values") =
    forAll(genRankRows) { rows =>
      // every 4th tie value nulled: the join-back must not drop these
      // rows, and their ranks must match the window form (nulls first)
      val df = rows.toDF("g", "t", "u")
        .withColumn("t", when(col("u") % 4 === 0, lit(null)).otherwise(col("t")))
      def tup(r: org.apache.spark.sql.Row) =
        (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2),
          r.getAs[Number](3).longValue, r.getAs[Number](4).longValue,
          r.getAs[Number](5).longValue)
      val got = graft.operators.DistributedRank
        .ranked(df, Seq("g"), Seq("t"), Seq("u"), ntileK = 3, numRanges = 4)
        .select("g", "t", "u", "rnk", "drnk", "rn")
        .collect().map(tup).sorted.toSeq
      val wTie = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("t")
      val wTot = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("t", "u")
      val want = df.select(col("g"), col("t"), col("u"),
          rank().over(wTie).as("rnk"), dense_rank().over(wTie).as("drnk"),
          row_number().over(wTot).as("rn"))
        .collect().map(tup).sorted.toSeq
      got == want
    }

  property("DistributedRank.ranked handles multi-column ties") =
    forAll(genRankRows) { rows =>
      // tie = (t, u % 3): composite tie key whose leading column is the
      // bucketing value; unique suffix = u.
      val df = rows.toDF("g", "t", "u").withColumn("t2", col("u") % 2)
      def tup(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Number](4).longValue, r.getAs[Number](5).longValue,
          r.getAs[Number](6).longValue, r.getInt(7))
      val got = graft.operators.DistributedRank
        .ranked(df, Seq("g"), Seq("t", "t2"), Seq("u"), ntileK = 2, numRanges = 4)
        .select("g", "t", "t2", "u", "rnk", "drnk", "rn", "nt")
        .collect().map(tup).sorted.toSeq
      val wTie = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("t", "t2")
      val wTot = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("t", "t2", "u")
      val want = df.select(col("g"), col("t"), col("t2"), col("u"),
          rank().over(wTie).as("rnk"), dense_rank().over(wTie).as("drnk"),
          row_number().over(wTot).as("rn"), ntile(2).over(wTot).as("nt"))
        .collect().map(tup).sorted.toSeq
      got == want
    }

  property("DistributedRank.ranked spreads a massively-hot tie (salted rn phase)") =
    forAll(genRankRows) { rows =>
      // ~90% of rows collapse onto tie value 2 — with hotTieCut = 3
      // the salted row_number branch engages for it while the minority
      // ties stay on the plain branch (both paths in one frame).
      val skewed = rows.map { case (g, t, u) =>
        if (u != 9L) (g, 2L, u) else (g, t, u) }
      val df = skewed.toDF("g", "t", "u")
      def tup(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Number](3).longValue, r.getAs[Number](4).longValue,
          r.getAs[Number](5).longValue, r.getInt(6))
      def got(cut: Int) = graft.operators.DistributedRank
        .ranked(df, Seq("g"), Seq("t"), Seq("u"), ntileK = 3, numRanges = 4,
          adaptiveCut = cut, hotTieCut = 3)
        .select("g", "t", "u", "rnk", "drnk", "rn", "nt")
        .collect().map(tup).sorted.toSeq
      val wTie = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("t")
      val wTot = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("t", "u")
      val want = df.select(col("g"), col("t"), col("u"),
          rank().over(wTie).as("rnk"), dense_rank().over(wTie).as("drnk"),
          row_number().over(wTot).as("rn"), ntile(3).over(wTot).as("nt"))
        .collect().map(tup).sorted.toSeq
      got(10000) == want && got(0) == want
    }

  property("DistributedRank.bandCount equals the RANGE-frame window count (both paths)") =
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0L, 2L), Gen.choose(-30L, 30L)))) {
      rows =>
        val df = rows.toDF("g", "v")
        def tup(r: org.apache.spark.sql.Row) =
          (r.getLong(0), r.getLong(1), r.getLong(2))
        def got(cut: Int, n: Int = 0) = graft.operators.DistributedRank
          .bandCount(df, Seq("g"), "v", width = 7L, numRanges = n,
            adaptiveCut = cut)
          .select("g", "v", "n_band").collect().map(tup).sorted.toSeq
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("v").rangeBetween(-7, 0)
        val want = df.select(col("g"), col("v"),
            count(lit(1)).over(w).as("n_band"))
          .collect().map(tup).sorted.toSeq
        // numRanges = 64 >> distinct values: most buckets are EMPTY —
        // probes must still resolve through the complete offset grid
        got(10000) == want && got(0) == want && got(0, n = 64) == want
    }

  property("hashSample: deterministic, monotone in rate, exact at the extremes") =
    forAll(Gen.listOfN(30, Gen.zip(Gen.choose(0L, 500L), Gen.oneOf("en", "fr", "de")))) {
      rows =>
        val df = rows.distinctBy(_._1).toDF("id", "lang")
        def ids(rate: Double) = graft.operators.TextDedup
          .hashSample(df, "id", "lang", Map("en" -> rate), defaultRate = rate)
          .select("id").collect().map(_.getLong(0)).toSet
        val lo = ids(0.3); val hi = ids(0.8)
        ids(0.3) == lo &&                 // replayable
          lo.subsetOf(hi) &&              // monotone in rate
          ids(0.0).isEmpty &&             // zero keeps nothing
          ids(1.0).size == df.count()     // one keeps everything
    }

  property("repeatedNgramStats equals brute-force span counting") =
    // tiny alphabet + short docs force in-doc AND cross-doc repeats;
    // n = 3 keeps the brute force readable
    forAll(Gen.listOfN(8, Gen.listOfN(8, Gen.oneOf("a", "b", "c")))) { docs =>
      val rows = docs.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" "))
      }
      val got = graft.operators.TextDedup
        .repeatedNgramStats(rows.toDF("id", "text"), "id", "text", n = 3)
        .select("id", "n_pos", "dup_pos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val grams = rows.flatMap { case (id, t) =>
        t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.size == 3)
          .map(g => (id, g.mkString(" "))).toList
      }
      val freq = grams.groupBy(_._2).view.mapValues(_.size).toMap
      val want = grams.groupBy(_._1).map { case (id, gs) =>
        (id, gs.size.toLong, gs.count(g => freq(g._2) >= 2).toLong)
      }.toSet
      got == want
    }

  property("rolling-distinct fan-out equals the brute-force window count") =
    // q141's shape: dedup (key, day) -> explode to <=W contributing
    // window ends -> dedup -> count, vs directly counting distinct
    // keys in [d-W+1, d] for every active day
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 20L)))) {
      rows =>
        val w = 7
        val df = rows.toDF("k", "day").distinct()
        val maxDay = rows.map(_._2).maxOption.getOrElse(0L)
        val got = df
          .select(col("k"), explode(expr(
            s"sequence(day, least(day + ${w - 1}, ${maxDay}L))")).as("wd"))
          .distinct()
          .join(df.select(col("day").as("wd")).distinct(), "wd")
          .groupBy("wd").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val pairs = rows.distinct
        val want = pairs.map(_._2).distinct.map { d =>
          d -> pairs.filter(p => p._2 >= d - (w - 1) && p._2 <= d)
            .map(_._1).distinct.size.toLong
        }.toMap
        got == want
    }

  property("Sessionize.assign equals a per-key linear walk") =
    forAll(genEvents) { rows =>
      val got = graft.operators.Sessionize
        .assign(eventsDf(rows), "user_id", "ts", gapSec = 1800L,
          orderCols = Seq("v"))
        .select(col("user_id"), col("ts").cast("long"), col("v"), col("sess"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sorted.toSeq
      val want = rows.map { case (u, t, v) => (u, base / 1000 + t, v) }
        .groupBy(_._1).toSeq.flatMap { case (_, evs) =>
          var last = Long.MinValue
          var sess = 0
          evs.sortBy(e => (e._2, e._3)).map { case (u, t, v) =>
            if (last == Long.MinValue || t - last > 1800L) sess += 1
            last = t
            (u, t, v, sess)
          }
        }.sorted
      got == want
    }

  property("Funnel.strictOrder equals per-key brute force for any stage list") =
    forAll(
      Gen.listOfN(30, for {
        u <- Gen.choose(0L, 3L)
        t <- Gen.choose(0L, 50L)
        e <- Gen.oneOf("a", "b", "c", "d")
      } yield (u, t, e)),
      Gen.oneOf(Seq("a", "b"), Seq("b", "a"), Seq("a", "b", "c"),
        Seq("d", "c", "b", "a"))) { (rows, stages) =>
        val df = rows.toDF("k", "t", "et")
        val got = graft.operators.Funnel
          .strictOrder(df, "k", "et", "t", stages)
          .collect().map { r =>
            (r.getLong(0),
              stages.indices.map(i =>
                if (r.isNullAt(i + 1)) None else Some(r.getLong(i + 1))),
              r.getInt(stages.size + 1))
          }.toSet
        // brute force: stage k's time is the key's min stage-k event
        // strictly after the stage-(k-1) anchor; keys without stage 1
        // are absent
        val want = rows.groupBy(_._1).flatMap { case (k, evs) =>
          val times = stages.scanLeft(Option(Long.MinValue)) {
            case (Some(prev), st) =>
              evs.filter(e => e._3 == st && e._2 > prev).map(_._2)
                .minOption
            case (None, _) => None
          }.tail
          if (times.head.isEmpty) None
          else Some((k, times.toIndexedSeq,
            if (times.last.isDefined) 1 else 0))
        }.toSet
        got == want
    }

  property("BloomPrune.prunedJoin equals the plain inner join for any fpp") =
    forAll(
      Gen.listOfN(40, Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 9L))),
      Gen.listOfN(12, Gen.choose(0L, 30L)),
      Gen.oneOf(0.5, 0.03, 0.0001)) { (factRows, dimKeys, fpp) =>
        val fact = factRows.toDF("fk", "fv")
        val dim = dimKeys.distinct.toDF("dk")
        def tup(r: org.apache.spark.sql.Row) =
          (r.getLong(0), r.getLong(1), r.getLong(2))
        val got = graft.operators.BloomPrune
          .prunedJoin(fact, dim, "fk", "dk", expectedItems = 64, fpp = fpp)
          .select("fk", "fv", "dk").collect().map(tup).sorted.toSeq
        val want = fact.join(dim, col("fk") === col("dk"))
          .select("fk", "fv", "dk").collect().map(tup).sorted.toSeq
        got == want
    }

  property("BloomPrune.pruneProbe: keeps all matches; empty build keeps nothing") =
    forAll(
      Gen.listOfN(30, Gen.choose(0L, 60L)),
      Gen.listOfN(10, Gen.choose(0L, 30L))) { (factKeys, dimKeys) =>
        val fact = factKeys.toDF("fk")
        val dim = dimKeys.distinct.toDF("dk")
        val kept = graft.operators.BloomPrune
          .pruneProbe(fact, col("fk"), dim, col("dk"), expectedItems = 64)
          .collect().map(_.getLong(0))
        val dimSet = dimKeys.toSet
        val matches = factKeys.filter(dimSet)
        val keptOfEmpty = graft.operators.BloomPrune
          .pruneProbe(fact, col("fk"), dim.where(lit(false)), col("dk"),
            expectedItems = 64)
          .count()
        // every true match survives (no false negatives — the bloom
        // contract; pruning never duplicates, so counts are exact),
        // and an empty build side prunes everything
        matches.groupBy(identity).forall { case (k, ms) =>
          kept.count(_ == k) == ms.size } &&
          keptOfEmpty == 0L
    }

  property("DistributedRank.bandCount handles NULL order values as one peer group") =
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0L, 2L), Gen.choose(-30L, 30L)))) {
      rows =>
        val df = rows.toDF("g", "v")
          .withColumn("v", when(col("v") % 5 === 0, lit(null)).otherwise(col("v")))
        def tup(r: org.apache.spark.sql.Row) =
          (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2))
        def got(cut: Int) = graft.operators.DistributedRank
          .bandCount(df, Seq("g"), "v", width = 7L, adaptiveCut = cut)
          .select("g", "v", "n_band").collect().map(tup).sorted.toSeq
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("v").rangeBetween(-7, 0)
        val want = df.select(col("g"), col("v"),
            count(lit(1)).over(w).as("n_band"))
          .collect().map(tup).sorted.toSeq
        got(10000) == want && got(0) == want
    }

  property("DistributedRank.fullFrameEdges equals first/last/nth over the full frame") =
    forAll(genRankRows) { rows =>
      val df = rows.toDF("g", "t", "u")
      val got = graft.operators.DistributedRank
        .fullFrameEdges(df, Seq("g"), Seq(col("t"), col("u")), "u", nth = 2)
        .select("g", "first_v", "last_v", "nth_v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("t"), col("u"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val want = df.select(col("g"),
          first("u").over(w).as("f"), last("u").over(w).as("l"),
          nth_value(col("u"), 2).over(w).as("n2"))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      got == want
    }

  property("DistributedRank.ranked handles composite partition keys") =
    forAll(genRankRows) { rows =>
      val df = rows.toDF("g", "t", "u").withColumn("g2", col("u") % 2)
      def tup(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Number](4).longValue, r.getAs[Number](5).longValue,
          r.getAs[Number](6).longValue)
      val got = graft.operators.DistributedRank
        .ranked(df, Seq("g", "g2"), Seq("t"), Seq("u"), ntileK = 3, numRanges = 4)
        .select("g", "g2", "t", "u", "rnk", "drnk", "rn")
        .collect().map(tup).sorted.toSeq
      val wTie = org.apache.spark.sql.expressions.Window
        .partitionBy("g", "g2").orderBy("t")
      val wTot = org.apache.spark.sql.expressions.Window
        .partitionBy("g", "g2").orderBy("t", "u")
      val want = df.select(col("g"), col("g2"), col("t"), col("u"),
          rank().over(wTie).as("rnk"), dense_rank().over(wTie).as("drnk"),
          row_number().over(wTot).as("rn"))
        .collect().map(tup).sorted.toSeq
      got == want
    }

  property("DistributedRank.fullFrameEdges handles NULL order values") =
    forAll(genRankRows) { rows =>
      val df = rows.toDF("g", "t", "u")
        .withColumn("t", when(col("u") % 4 === 0, lit(null)).otherwise(col("t")))
      def tup(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]))
      val got = graft.operators.DistributedRank
        .fullFrameEdges(df, Seq("g"), Seq(col("t"), col("u")), "u", nth = 2)
        .select("g", "first_v", "last_v", "nth_v")
        .collect().map(tup).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("t"), col("u"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val want = df.select(col("g"),
          first("u").over(w).as("f"), last("u").over(w).as("l"),
          nth_value(col("u"), 2).over(w).as("n2"))
        .distinct().collect().map(tup).toSet
      got == want
    }

  property("DistributedRank.prefixSum equals the unpartitioned running total") =
    forAll(Gen.listOf(Gen.choose(-20L, 20L))) { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = rows.toDF("id", "v")
      def tup(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2))
      val got = graft.operators.DistributedRank
        .prefixSum(df, "id", "v", numRanges = 4)
        .select("id", "v", "cum_sum").collect().map(tup).sorted.toSeq
      val w = org.apache.spark.sql.expressions.Window.orderBy("id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val want = df.select(col("id"), col("v"),
          sum("v").over(w).as("cum_sum"))
        .collect().map(tup).sorted.toSeq
      got == want
    }

  property("Packing.packGreedy equals the per-stream greedy walk, oversize docs included") =
    forAll(Gen.listOf(Gen.choose(1L, 40L)), Gen.choose(10L, 30L)) { (lens, cap) =>
      val rows = lens.zipWithIndex.map { case (len, i) => (i.toLong, len) }
      val df = rows.toDF("doc_id", "len")
      val got = graft.operators.Packing
        .packGreedy(df, "doc_id", "len", capacity = cap, streams = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // brute force: same md5 stream hash, same walk
      def stream(id: Long): Int = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        (java.lang.Long.parseLong(hex, 16) % 3).toInt
      }
      val want = rows.groupBy { case (id, _) => stream(id) }.flatMap {
        case (st, docs) =>
          var bin = 0L; var rem = 0L
          docs.sortBy(_._1).map { case (id, len) =>
            if (bin == 0L || len > rem) { bin += 1; rem = math.max(0L, cap - len) }
            else rem -= len
            (id, st, bin)
          }
      }.toSet
      got == want
    }

  property("prefixSumBy lexicographic order is exact past 2^33 keys") =
    forAll(Gen.listOf(for {
      c <- Gen.choose(0L, 5L)                       // leading col, heavy ties
      k <- Gen.choose(1L << 33, 1L << 35)           // keys the packed-long form overflowed on
    } yield (c, k))) { rows =>
      val df = rows.distinct.map { case (c, k) => (c, k, 1L) }
        .toDF("c", "k", "v")
      def tup(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2))
      val got = graft.operators.DistributedRank
        .prefixSumBy(df, Seq("c", "k"), "v", numRanges = 4)
        .select("c", "k", "cum_sum").collect().map(tup).sorted.toSeq
      val w = org.apache.spark.sql.expressions.Window.orderBy("c", "k")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val want = df.select(col("c"), col("k"),
          sum("v").over(w).as("cum_sum"))
        .collect().map(tup).sorted.toSeq
      got == want
    }

  property("fullFrameNth equals nth_value over the full frame for each position") =
    forAll(genRankRows) { rows =>
      val df = rows.toDF("g", "t", "u")
      val positions = Seq(1, 3, 5)
      def opt(r: org.apache.spark.sql.Row, i: Int) =
        Option(r.get(i)).map(_.asInstanceOf[Long])
      val got = graft.operators.DistributedRank
        .fullFrameNth(df, Seq("g"), Seq(col("t"), col("u")), "u", positions)
        .collect().map(r => (r.getLong(0), opt(r, 1), opt(r, 2), opt(r, 3))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("t"), col("u"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val want = df.select(col("g") +:
          positions.map(p => nth_value(col("u"), p).over(w).as(s"nth_$p")): _*)
        .distinct().collect()
        .map(r => (r.getLong(0), opt(r, 1), opt(r, 2), opt(r, 3))).toSet
      got == want
    }

  property("dupClusters equals union-find connected components") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))) { raw =>
      val pairs = raw.collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b))
      }.distinct
      pairs.isEmpty || {
        val got = graft.operators.TextDedup
          .dupClusters(pairs.toDF("a_id", "b_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        got == got.keys.map(id => id -> find(id)).toMap
      }
    }

  /** The k-core by a naive driver-side peel: drop every node with
    * fewer than k neighbours until none is left to drop; (id, degree). */
  private def naiveCore(pairs: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var low = adj.keySet.filter(adj(_).size < k)
    while (low.nonEmpty) {
      adj = adj.collect { case (n, ns) if !low(n) => n -> (ns -- low) }
      low = adj.keySet.filter(adj(_).size < k)
    }
    adj.map { case (n, ns) => n -> ns.size.toLong }
  }

  private def kCoreOf(pairs: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    graft.operators.TextDedup.kCore(pairs.toDF("a_id", "b_id"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  property("kCore equals a naive driver-side peel") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L))),
        Gen.choose(1, 3)) { (raw, k) =>
      val pairs = raw.collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b))
      }.distinct
      kCoreOf(pairs, k) == naiveCore(pairs, k)
    }

  property("kCore: empty graph, empty core, and a 30-round peel") = {
    val star = (1L to 6L).map(0L -> _)
    // a 30-edge path hanging off a triangle peels one edge per round
    val tail = (0L until 30L).map(i => i -> (i + 1)) ++
      Seq(30L -> 31L, 31L -> 32L, 30L -> 32L)
    val triangle = Map(30L -> 2L, 31L -> 2L, 32L -> 2L)
    org.scalacheck.Prop(
      kCoreOf(Nil, 2).isEmpty &&
        kCoreOf(star, 2).isEmpty && naiveCore(star, 2).isEmpty &&
        kCoreOf(tail, 2) == triangle && naiveCore(tail, 2) == triangle)
  }

  property("salted skew join equals the plain equi-join") =
    forAll(genRankRows, Gen.listOfN(8, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 9L)))) {
      (rows, dims) =>
        // skewed fact (g is 3-valued) joined to a small dim on g
        val fact = rows.toDF("g", "t", "u")
        val dim = dims.toDF("g", "attr")
        def tup(r: org.apache.spark.sql.Row) =
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val got = graft.operators.SkewJoin.inner(fact, dim, Seq("g"), salts = 4)
          .select("g", "t", "u", "attr").collect().map(tup).sorted.toSeq
        val want = fact.join(dim, "g")
          .select("g", "t", "u", "attr").collect().map(tup).sorted.toSeq
        got == want
    }

  property("latestByKey picks the max order column per key") =
    forAll(Gen.listOfN(30, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 100L)))) {
      pairs =>
        val df = pairs.toDF("k", "ver")
        val got = graft.streaming.CdcStreams.latestByKey(df, Seq("k"), Seq("ver"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = pairs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
        got == want
    }

  property("mmrRerank equals the reference greedy walk") = {
    val vecGen = Gen.listOfN(4, Gen.choose(1, 10)).map(_.map(_.toFloat).toArray)
    forAll(
      Gen.choose(4, 12).flatMap(n => Gen.listOfN(n, vecGen)),
      vecGen, Gen.choose(2, 6), Gen.choose(1, 4),
      Gen.oneOf(0.3, 0.5, 0.7)) { (cvecs, qvec, topN, k, lambda) =>
      val corpus = cvecs.zipWithIndex
        .map { case (v, i) => (i.toLong + 10L, v) }
      val corpusDf = corpus.toDF("vec_id", "embedding")
      val qDf = Seq((0L, qvec)).toDF("qid", "qv")
      val got = graft.operators.Similarity.mmrRerank(
          corpusDf, qDf, "vec_id", "embedding", "qid", "qv",
          topN = topN, k = k, lambda = lambda)
        .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id")))
        .sortBy(_._1).toList
      // reference walk: same cosine arithmetic (float->double per
      // element, sequential), same r4e rounding, same tie-breaks
      def r4e(x: Double): Double =
        BigDecimal(x + 1.23e-6).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val rels = corpus.map { case (id, v) => (id, r4e(cos(v, qvec)), v) }
        .sortBy { case (id, r, _) => (-r, id) }.take(topN)
      val mu = 1.0 - lambda
      var selected = List(rels.head)
      var remaining = rels.tail
      for (_ <- 2 to math.min(k, rels.size)) {
        val pick = remaining.map { case (id, r, v) =>
          val ms = selected.map(s => r4e(cos(v, s._3))).max
          ((id, r, v), lambda * r - mu * ms)
        }.minBy { case ((id, _, _), sc) => (-sc, id) }._1
        selected = selected :+ pick
        remaining = remaining.filterNot(_._1 == pick._1)
      }
      val want = selected.zipWithIndex
        .map { case ((id, _, _), i) => (i + 1, id) }
      got == want
    }
  }

  // ---- JsonModify round-trip properties (round 10) -----------------

  /** Small random JSON documents: identifier-keyed objects nesting
    * scalars, arrays of scalars, and one more object level — the
    * shapes the path grammar addresses without quoting. */
  private val genScalar: Gen[String] = Gen.oneOf(
    Gen.choose(-999, 999).map(_.toString),
    Gen.alphaNumStr.map(s => "\"" + s.take(6) + "\""),
    Gen.oneOf("true", "false", "null"))
  private val genKey: Gen[String] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n,
      Gen.alphaChar).map(_.mkString))
  private def genObj(depth: Int): Gen[String] =
    Gen.choose(1, 4).flatMap { n =>
      Gen.listOfN(n, for {
        k <- genKey
        v <- if (depth <= 0) genScalar
          else Gen.frequency(
            4 -> genScalar,
            1 -> Gen.choose(0, 3).flatMap(m =>
              Gen.listOfN(m, genScalar).map(_.mkString("[", ",", "]"))),
            1 -> genObj(depth - 1))
      } yield (k, v)).map(kvs =>
        // duplicate keys collapse on parse; last-wins like Jackson
        kvs.toMap.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}"))
    }

  /** All (path, member-name, parent-is-root) scalar MEMBER leaves of a
    * parsed doc (array elements excluded — deleting one shifts its
    * siblings, which is correct but complicates the frame test). */
  private def memberLeaves(json: String): List[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    def walk(n: com.fasterxml.jackson.databind.JsonNode,
        prefix: String): List[String] = {
      import scala.jdk.CollectionConverters._
      if (!n.isObject) Nil
      else n.fields().asScala.toList.flatMap { e =>
        val p = s"$prefix.${e.getKey}"
        if (e.getValue.isValueNode) List(p)
        else walk(e.getValue, p)
      }
    }
    walk(mapper.readTree(json), "$")
  }

  property("json_modify: set/delete a member touches ONLY that member") =
    forAll(genObj(2), genKey) { (doc, newVal) =>
      import graft.functions.{JsonModify, JsonValue}
      val leaves = memberLeaves(doc)
      leaves.isEmpty || {
        val target = leaves.head
        val others = leaves.tail
        val before = others.map(p => p -> JsonValue.extract(doc, p))
        // set: read-back equals the new value, every other member
        // leaf reads exactly as before (the FRAME condition)
        val set = JsonModify.modify(doc, target, newVal, raw = false)
        val setOk = JsonValue.extract(set, target) == newVal &&
          before.forall { case (p, v) => JsonValue.extract(set, p) == v }
        // delete: lax read of the target is NULL, frame holds, and
        // the member is GONE (strict read now errors)
        val del = JsonModify.modify(doc, target, null, raw = false)
        val delOk = JsonValue.extract(del, target) == null &&
          before.forall { case (p, v) => JsonValue.extract(del, p) == v } &&
          (try { JsonValue.extract(del, "strict " + target)
            ; false } catch { case _: IllegalArgumentException => true })
        setOk && delOk
      }
    }

  property("json_modify: append grows exactly the targeted array") =
    forAll(genObj(1), genKey, genKey) { (doc, arrKey, v) =>
      import graft.functions.{JsonModify, JsonQuery}
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val withArr = JsonModify.modify(doc, s"$$.$arrKey",
        "[1,2]", raw = true)
      val appended = JsonModify.modify(withArr, s"append $$.$arrKey",
        v, raw = false)
      val arr = mapper.readTree(
        JsonQuery.extract(appended, s"$$.$arrKey"))
      arr.size == 3 && arr.get(2).asText == v &&
        // appending twice keeps growing (no replace semantics)
        mapper.readTree(JsonQuery.extract(
          JsonModify.modify(appended, s"append $$.$arrKey", v, raw = false),
          s"$$.$arrKey")).size == 4
    }

  // ---- JSON family differential fuzz (round 12, VERDICT r11 #4):
  // random nested docs with escapes / control chars / unicode (incl.
  // astral plane) / deep nesting / exotic member names, random paths,
  // asserting equality with Spark's own JSON machinery
  // (get_json_object, from_json) on the overlapping semantics and
  // with an independent Jackson walk everywhere the semantics
  // deliberately differ (scalar-only JSON_VALUE, fragment-only
  // JSON_QUERY, OPENJSON type codes). ------------------------------------

  private val jf = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
  private lazy val jMapper = new com.fasterxml.jackson.databind.ObjectMapper
  private type JNode = com.fasterxml.jackson.databind.JsonNode

  /** Scalars exercising the string classes fixed examples can't
    * enumerate: every JSON escape, control chars, unicode, astral
    * surrogate pairs, empty, trailing backslash. */
  private val genFuzzScalar: Gen[JNode] = Gen.frequency(
    4 -> Gen.oneOf("plain", "sp ace", "q\"uote", "back\\slash",
      "new\nline", "tab\tx", "ctl", "ünïcodé ✓ 漢字",
      "astral 😀", "", "ends with \\", "/slash/")
      .map(s => jf.textNode(s): JNode),
    2 -> Gen.choose(-1000000L, 1000000L).map(n => jf.numberNode(n): JNode),
    1 -> Gen.oneOf(0.5, -2.25, 100.125).map(d => jf.numberNode(d): JNode),
    1 -> Gen.oneOf(true, false).map(b => jf.booleanNode(b): JNode),
    1 -> Gen.const(jf.nullNode: JNode))

  /** Paths compared against get_json_object use identifier keys only
    * (the two grammars agree there); docs ALSO carry non-identifier
    * keys (spaces, dots, unicode, quotes) so walks routinely traverse
    * objects whose sibling members have exotic names. */
  private val fuzzPathKeys = List("a", "b9", "_x", "q")
  private val fuzzExoticKeys = List("a b", "k.v", "üß", "q\"m")
  private def genFuzzNode(depth: Int): Gen[JNode] =
    if (depth <= 0) genFuzzScalar
    else Gen.frequency(
      3 -> genFuzzScalar,
      2 -> Gen.choose(0, 3).flatMap(n =>
        Gen.listOfN(n, genFuzzNode(depth - 1)).map { els =>
          val a = jf.arrayNode(); els.foreach(a.add); a: JNode }),
      4 -> Gen.choose(0, 3).flatMap(n =>
        Gen.listOfN(n, Gen.zip(
          Gen.frequency(5 -> Gen.oneOf(fuzzPathKeys),
            1 -> Gen.oneOf(fuzzExoticKeys)),
          genFuzzNode(depth - 1))).map { ms =>
          val o = jf.objectNode()
          ms.foreach { case (k, v) => o.set(k, v); () }
          o: JNode }))

  private val genFuzzSegs: Gen[List[Either[String, Int]]] =
    Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.frequency(
      4 -> Gen.oneOf(fuzzPathKeys).map(Left(_): Either[String, Int]),
      2 -> Gen.choose(0, 3).map(Right(_): Either[String, Int]))))

  private def renderFuzzPath(segs: List[Either[String, Int]]): String =
    "$" + segs.map {
      case Left(k) => s".$k"
      case Right(i) => s"[$i]"
    }.mkString

  /** The independent reference walk — deliberately re-derived here,
    * not shared with JsonValue.navigate. */
  private def refWalk(root: JNode, segs: List[Either[String, Int]]): JNode = {
    var n = root
    segs.foreach { s =>
      if (n != null) n = s match {
        case Left(k) => if (n.isObject) n.get(k) else null
        case Right(i) => if (n.isArray) n.get(i) else null
      }
    }
    n
  }

  property("json fuzz: json_value/json_query equal get_json_object + independent walk on random nested docs") =
    forAll(genFuzzSegs, Gen.listOfN(48, genFuzzNode(4))) { (segs, docs) =>
      graft.functions.JsonValue.register(spark)
      graft.functions.JsonQuery.register(spark)
      val path = renderFuzzPath(segs)
      val got = docs.map(_.toString).toDF("js").selectExpr(
        s"get_json_object(js, '$path')",
        s"json_value(js, '$path')",
        s"json_query(js, '$path')").collect()
      docs.zip(got).forall { case (doc, r) =>
        val (gjo, jv, jq) = (r.getString(0), r.getString(1), r.getString(2))
        refWalk(doc, segs) match {
          case null => gjo == null && jv == null && jq == null
          // JSON null: ours is SQL NULL by T-SQL rule; engines differ
          // on get_json_object's rendering, so it is unconstrained
          case n if n.isNull => jv == null && jq == null
          case n if n.isValueNode =>
            jv == n.asText && jq == null && gjo == jv
          case n => // container: both fragments parse to the same tree
            // (canonicalize BOTH sides through readTree: a generated
            // LongNode(5) re-parses as IntNode(5), and Jackson numeric
            // equality is class-sensitive)
            val want = jMapper.readTree(n.toString)
            jv == null && jq != null && gjo != null &&
              jMapper.readTree(jq) == want && jMapper.readTree(gjo) == want
        }
      }
    }

  property("json fuzz: openjson_entries equals an independent Jackson shred (keys, value rules, type codes)") =
    forAll(genFuzzSegs, Gen.listOfN(36, genFuzzNode(3))) { (segs, docs) =>
      graft.functions.OpenJsonEntries.register(spark)
      import scala.jdk.CollectionConverters._
      def entryOk(e: org.apache.spark.sql.Row, key: String, n: JNode): Boolean = {
        val wantType = if (n.isNull) 0 else if (n.isTextual) 1
          else if (n.isNumber) 2 else if (n.isBoolean) 3
          else if (n.isArray) 4 else 5
        val valueOk =
          if (n.isNull) e.isNullAt(1)
          else if (n.isTextual) e.getString(1) == n.asText
          else if (n.isContainerNode)
            jMapper.readTree(e.getString(1)) == jMapper.readTree(n.toString)
          else e.getString(1) == n.asText
        e.getString(0) == key && e.getInt(2) == wantType && valueOk
      }
      val path = renderFuzzPath(segs)
      val got = docs.map(_.toString).toDF("js")
        .selectExpr(s"openjson_entries(js, '$path')").collect()
      docs.zip(got).forall { case (doc, r) =>
        val ref = refWalk(doc, segs)
        val entries =
          if (r.isNullAt(0)) null else r.getSeq[org.apache.spark.sql.Row](0)
        ref match {
          case n if n != null && n.isArray =>
            entries != null && entries.size == n.size &&
              entries.zipWithIndex.forall { case (e, i) =>
                entryOk(e, i.toString, n.get(i)) }
          case n if n != null && n.isObject =>
            val fields = n.fields().asScala.toList
            entries != null && entries.size == fields.size &&
              entries.zip(fields).forall { case (e, f) =>
                entryOk(e, f.getKey, f.getValue) }
          case _ => entries == null // scalar / missing: lax empty rowset
        }
      }
    }

  property("json fuzz: json_modify set/insert/delete equals an independent Jackson modify (tree equality through escaped writes)") =
    forAll(Gen.listOfN(24, Gen.zip(genFuzzNode(3),
        Gen.oneOf(fuzzPathKeys ++ fuzzExoticKeys), genFuzzScalar))) { cases =>
      cases.forall { case (inner, k, vNode) =>
        val root = jf.objectNode()
        root.set[JNode]("w", inner.deepCopy[JNode]())
        val json = root.toString
        val pathSeg =
          if (k.matches("[A-Za-z0-9_]+")) s".$k"
          else ".\"" + k.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        val path = "$" + pathSeg
        // the boxed value json_modify receives, and its node twin
        val (boxed, refNode): (Any, JNode) = vNode match {
          case n if n.isTextual => (n.asText, jf.textNode(n.asText))
          case n if n.isIntegralNumber => (n.asLong, jf.numberNode(n.asLong))
          case n if n.isNumber => (n.asDouble, jf.numberNode(n.asDouble))
          case n if n.isBoolean => (n.asBoolean, jf.booleanNode(n.asBoolean))
          case _ => (null, null) // JSON null draw → the DELETE leg
        }
        val got = graft.functions.JsonModify.modify(json, path, boxed,
          raw = false)
        val want = root.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
        if (boxed == null) want.remove(k) // lax delete: remove / no-op
        else want.set[JNode](k, refNode)  // replace-or-insert-at-end
        // canonicalize both sides (Long/Int node class sensitivity)
        jMapper.readTree(got) == jMapper.readTree(want.toString)
      }
    }

  property("json fuzz: duplicate keys take the LAST occurrence, agreeing with from_json's map semantics") =
    forAll(Gen.listOfN(16, Gen.zip(
        Gen.oneOf("first", "x\"1", "ü1"), Gen.oneOf("last", "x\"2", "ü2"),
        Gen.oneOf(fuzzPathKeys)))) { cases =>
      graft.functions.JsonValue.register(spark)
      val docs = cases.map { case (v1, v2, k) =>
        // raw text with a literal duplicate member (Jackson builders
        // dedup) — both sides must resolve to the LAST occurrence
        val kq = "\"" + k + "\""
        (s"""{$kq:${jf.textNode(v1)},"other":1,$kq:${jf.textNode(v2)}}""",
          k, v2)
      }
      val got = docs.map(x => (x._1, x._2)).toDF("js", "k").selectExpr(
        "json_value(js, 'lax $.a') ja", "json_value(js, 'lax $.b9') jb",
        "json_value(js, 'lax $._x') jx", "json_value(js, 'lax $.q') jq",
        "from_json(js, 'map<string,string>') m", "k").collect()
      docs.zip(got).forall { case ((_, k, v2), r) =>
        val jvs = Map("a" -> 0, "b9" -> 1, "_x" -> 2, "q" -> 3)
        val jv = if (r.isNullAt(jvs(k))) null else r.getString(jvs(k))
        val m = r.getMap[String, String](4)
        jv == v2 && m.get(k).contains(v2)
      }
    }

  // ---- snapshot claim protocol: model-based interleaving check ---------

  property("snapshot claim protocol: arbitrary two-writer interleavings never lose a committed version or publish a broken one") =
    forAll(Gen.listOfN(24, Gen.choose(0, 5))) { steps =>
      // a MODEL run over a real local store: two writers, each step
      // one protocol action (stage / commit / vacuum), sequenced in an
      // arbitrary interleaving. Data dirs are empty mkdirs — Snapshot
      // never reads content, so the protocol state machine is fully
      // exercised without a single Spark job. Invariants after EVERY
      // step: (1) the current version's members all exist on disk
      // (vacuum/recovery never break the served snapshot), (2) commit
      // returns strictly increasing, duplicate-free versions (the
      // claim serializes), (3) a loser always loses LOUDLY
      // (ConcurrentCommitException), never by silent absorption.
      import org.apache.hadoop.fs.Path
      import graft.sources.Snapshot
      val conf = spark.sparkContext.hadoopConfiguration
      val dir = new Path(TestSpark.tmpDir("snap-model") + "/s")
      val fs = dir.getFileSystem(conf)
      fs.mkdirs(dir)
      // writer state: staged (name, base) awaiting commit
      val staged = Array[Option[(String, Long)]](None, None)
      val roles = Array("wa", "wb")
      var committed = Vector.empty[Long]
      var ok = true
      steps.foreach { s =>
        val w = s % 2
        (s / 2) match {
          case 0 => // STAGE: resolve base, claim-sweep, mkdir hidden
            val base = Snapshot.currentVersion(fs, dir).getOrElse(0L)
            val name = Snapshot.stageDirName(fs, dir, roles(w))
            fs.mkdirs(Snapshot.stagePath(dir, name))
            staged(w) = Some((name, base))
          case 1 => // COMMIT: carried members at base + the staged dir
            staged(w).foreach { case (name, base) =>
              try {
                val carried =
                  if (base == 0L) Nil
                  else Snapshot.members(fs, dir, base)
                val v = Snapshot.commit(fs, conf, dir, carried :+ name,
                  base = base)
                committed :+= v
              } catch {
                case _: Snapshot.ConcurrentCommitException => () // loud loss: re-stage later
                case _: java.io.FileNotFoundException => () // base vacuumed away: loud too
              }
              staged(w) = None
            }
          case 2 => Snapshot.vacuum(fs, dir, keep = 2)
        }
        // invariant (1): the served snapshot is never broken
        Snapshot.currentVersion(fs, dir).foreach { v =>
          ok &= Snapshot.members(fs, dir, v)
            .forall(m => fs.exists(new Path(dir, m)))
        }
      }
      // invariants (2): strictly increasing, no duplicates — the claim
      // admitted each version exactly once
      ok && committed == committed.sorted && committed.distinct == committed
    }

  property("publish-set claim protocol: arbitrary publisher/vacuum/tag interleavings keep every resolvable version parseable and monotone") =
    forAll(Gen.listOfN(20, Gen.choose(0, 7))) { steps =>
      // same model style as the snapshot property, one level up: two
      // publishers race publish(); recovery, manifest vacuum, and a
      // composed pin interleave arbitrarily. Invariants after EVERY
      // step: current resolves to a parseable member map; the current
      // version's manifest is NEVER vacuumed; published versions from
      // publish() are strictly increasing and duplicate-free; a tag
      // pin resolves for as long as the tag exists.
      import org.apache.hadoop.fs.Path
      import graft.sources.PublishSet
      val conf = spark.sparkContext.hadoopConfiguration
      val dir = new Path(TestSpark.tmpDir("pub-model") + "/p")
      val fs = dir.getFileSystem(conf)
      var published = Vector.empty[Long]
      var pinned: Option[Long] = None
      var ok = true
      steps.zipWithIndex.foreach { case (s, i) =>
        s match {
          case 0 | 1 => // publish (two "publishers" — same fs path)
            try published :+= PublishSet.publish(fs, conf, dir,
              Map("a" -> (i + 1).toLong, "b" -> 7L))
            catch {
              case _: graft.sources.Snapshot.ConcurrentCommitException => ()
            }
          case 2 => // a crashed claim strands the next manifest
            val strand = new Path(dir,
              s"_pub_v${PublishSet.currentVersion(fs, dir).getOrElse(0L) + 1}.list")
            fs.mkdirs(dir)
            if (!fs.exists(strand)) {
              val out = fs.create(strand, false)
              out.write("a=99".getBytes("UTF-8")); out.close()
            }
          case 3 => PublishSet.recoverStrandedClaim(fs, dir); ()
          case 4 | 5 => PublishSet.vacuumManifests(fs, dir, keep = 2)
          case 6 => // pin the current publish with a raw pubtag
            PublishSet.currentVersion(fs, dir).foreach { v =>
              val out = fs.create(new Path(dir, "_pubtag.pin"), true)
              out.write(v.toString.getBytes("UTF-8")); out.close()
              pinned = Some(v)
            }
          case 7 => // release the pin
            fs.delete(new Path(dir, "_pubtag.pin"), false)
            pinned = None
        }
        PublishSet.currentVersion(fs, dir).foreach { v =>
          val m = PublishSet.resolveAt(fs, dir, v) // throws if broken
          ok &= m.contains("b")
        }
        pinned.foreach { v =>
          ok &= PublishSet.resolveAt(fs, dir, v).contains("b")
        }
      }
      ok && published == published.sorted &&
        published.distinct == published
    }

  property("composed publish-set surface: member commits/vacuums interleaved with publish/tagPublished/manifest vacuums keep every composed pin readable end to end, both modes") =
    forAll(Gen.oneOf(false, true), Gen.listOfN(28, Gen.choose(0, 9))) {
      (markerMode, steps) =>
      // round-13 (VERDICT r12 item 3): the round-12 model checked
      // Snapshot and PublishSet in isolation; this one drives the
      // COMPOSED surface — two member stores committing and vacuuming
      // while the set publishes, tags composed pins, recovers strands,
      // and vacuums manifests — in both commit modes. Invariants after
      // EVERY step: (1) the current publish resolves to a parseable
      // map naming both members; (2) every LIVE composed tag is
      // readable END TO END — its pubtag resolves, its manifest
      // survives vacuumManifests, and every member version it pins
      // still has its manifest + data dirs on disk (member vacuums
      // must honor the pub.<name> member tags tagPublished placed);
      // (3) published versions are strictly increasing and
      // duplicate-free. Loud losses (a fresh strand blocking publish,
      // tagPublished hitting an already-vacuumed member version — the
      // documented retention coupling) are allowed; silent breakage is
      // not.
      import org.apache.hadoop.fs.Path
      import graft.sources.{PublishSet, Snapshot}
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      conf.setBoolean(Snapshot.MarkerCommitKey, markerMode)
      val base = TestSpark.tmpDir("pubcomp-model")
      val stores = Map("a" -> new Path(s"$base/a"), "b" -> new Path(s"$base/b"))
      val pub = new Path(s"$base/pub")
      val fs = pub.getFileSystem(conf)
      def memberCommit(which: String): Unit = {
        val d = stores(which)
        fs.mkdirs(d)
        val b = Snapshot.currentVersion(fs, d).getOrElse(0L)
        val name = Snapshot.stageDirName(fs, d, "w")
        fs.mkdirs(Snapshot.stagePath(d, name))
        val carried = if (b == 0L) Nil else Snapshot.members(fs, d, b)
        Snapshot.commit(fs, conf, d, carried :+ name, base = b)
        ()
      }
      def memberVersions(): Map[String, Long] = stores.flatMap {
        case (n, d) => Snapshot.currentVersion(fs, d).map(n -> _)
      }
      // seed: one committed version per member, one publish
      memberCommit("a"); memberCommit("b")
      PublishSet.publish(fs, conf, pub, memberVersions())
      var published = Vector(1L)
      var liveTags = Map.empty[String, Long] // tag name -> pub version
      var ok = true
      steps.zipWithIndex.foreach { case (s, i) =>
        s match {
          case 0 | 1 => memberCommit(if (s == 0) "a" else "b")
          case 2 | 3 =>
            Snapshot.vacuum(fs, stores(if (s == 2) "a" else "b"), keep = 2)
          case 4 =>
            try published :+= PublishSet.publish(fs, conf, pub,
              memberVersions())
            catch { // a fresh strand blocks — loud, allowed
              case _: Snapshot.ConcurrentCommitException => ()
            }
          case 5 => // a crashed publisher's strand above current
            val strand = new Path(pub,
              s"_pub_v${PublishSet.currentVersion(fs, pub).getOrElse(0L) + 1}.list")
            if (!fs.exists(strand)) {
              val out = fs.create(strand, false)
              out.write("a=99\nb=99".getBytes("UTF-8")); out.close()
            }
          case 6 => PublishSet.recoverStrandedClaim(fs, pub); ()
          case 7 => PublishSet.vacuumManifests(fs, pub, keep = 2)
          case 8 => // composed pin on the current publish
            try {
              val t = s"t$i"
              val v = PublishSet.tagPublished(fs, conf, pub, t,
                m => stores(m))
              liveTags += (t -> v)
            } catch { // retention coupling violated — loud, allowed
              case _: IllegalArgumentException => ()
            }
          case 9 => // release the OLDEST live pin
            liveTags.toSeq.sortBy(_._2).headOption.foreach { case (t, _) =>
              PublishSet.untagPublished(fs, pub, t, m => stores(m))
              liveTags -= t
            }
        }
        // (1) current publish parseable, both members named
        PublishSet.currentVersion(fs, pub).foreach { v =>
          val m = PublishSet.resolveAt(fs, pub, v)
          ok &= m.contains("a") && m.contains("b")
        }
        // (2) every live composed pin readable END TO END
        liveTags.foreach { case (t, pv) =>
          ok &= PublishSet.resolveTag(fs, pub, t).contains(pv)
          val pins = PublishSet.resolveAt(fs, pub, pv) // throws if vacuumed
          pins.foreach { case (member, mv) =>
            val d = stores(member)
            val members = Snapshot.members(fs, d, mv) // throws if vacuumed
            ok &= members.nonEmpty &&
              members.forall(m => fs.exists(new Path(d, m)))
          }
        }
      }
      ok && published == published.sorted && published.distinct == published
    }

  // ---- q179 BPE apply: the rank-order lemma ----------------------------

  /** Reference GPT-2 encode loop: repeatedly merge all left-to-right
    * non-overlapping occurrences of the MINIMUM-rank pair present. */
  private def refBpe(word: List[String],
      merges: Seq[(String, String)]): List[String] = {
    val rank = merges.zipWithIndex.toMap
    var syms = word
    var go = true
    while (go) {
      val present = syms.zip(syms.drop(1)).flatMap(p => rank.get(p).map(_ -> p))
      if (present.isEmpty) go = false
      else {
        val (p1, p2) = present.minBy(_._1)._2
        val out = scala.collection.mutable.ListBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == p1 && syms(i + 1) == p2) {
            out += (p1 + p2); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toList
      }
    }
    syms
  }

  /** The engine's formulation: ranks in order, ONE disjoint pass each
    * (the scala twin of MiningQueries.bpeMergeExpr's aggregate fold). */
  private def foldBpe(word: List[String],
      merges: Seq[(String, String)]): List[String] =
    merges.foldLeft(word) { case (syms, (p1, p2)) =>
      syms.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == p1 && x == p2) acc.init :+ (p1 + p2)
        else acc :+ x
      }
    }

  private val bpeAlpha = List("a", "b", "c", "d")

  /** Learned-shaped merge tables: each merge joins two DISTINCT
    * existing symbols into a new one — the creation-order
    * precondition of q179's lemma (a table ranking a pair before its
    * symbols exist is not learnable and the lemma does not cover it). */
  private val genMergeTable: Gen[List[(String, String)]] = {
    def step(syms: List[String], acc: List[(String, String)],
        n: Int, fuel: Int): Gen[List[(String, String)]] =
      if (n == 0 || fuel == 0) Gen.const(acc.reverse)
      else for {
        p1 <- Gen.oneOf(syms)
        p2 <- Gen.oneOf(syms)
        res <- if (p1 == p2 || syms.contains(p1 + p2))
                 step(syms, acc, n, fuel - 1)
               else step((p1 + p2) :: syms, (p1, p2) :: acc, n - 1, fuel - 1)
      } yield res
    step(bpeAlpha, Nil, 6, 40)
  }

  private val genWord: Gen[List[String]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf(bpeAlpha)))

  property("bpe rank-order fold equals the min-rank-first reference loop") =
    forAll(genMergeTable, Gen.listOfN(8, genWord)) { (merges, words) =>
      words.forall(w => foldBpe(w, merges) == refBpe(w, merges))
    }

  /** Words over the q179 table's own letters, so merges actually fire. */
  private val genWordQ179: Gen[List[String]] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(List("t", "h", "e", "i", "n", "a", "o", "r", "d", "g"))))

  property("bpeMergeExpr (the q179 expression) equals the reference loop") =
    forAll(Gen.listOfN(6, genWordQ179)) { words =>
      import graft.queries.MiningQueries
      val df = words.zipWithIndex
        .map { case (w, i) => (i, w.mkString("")) }.toDF("i", "w")
      val got = df.orderBy("i").select(expr(
          MiningQueries.bpeMergeExpr("split(w, '')", MiningQueries.BPE_MERGES))
          .as("m"))
        .collect().map(_.getSeq[String](0).toList).toList
      val want = words.map(w => refBpe(w, MiningQueries.BPE_MERGES))
      got == want
    }

  // ---- q190 BPE training -----------------------------------------------

  /** Reference subword-nmt trainer (heterogeneous pairs only — the
    * shared self-pair contract): per round, weighted adjacent-pair
    * counts over the vocabulary, argmax under (count desc, then
    * lexicographic), one disjoint merge pass. The scala twin of
    * BpeTrain.learnMerges' plan. */
  private def refTrain(words: List[(String, Long)],
      rounds: Int): List[graft.operators.BpeTrain.Merge] = {
    var v = words.map { case (w, c) => (w.toList.map(_.toString), c) }
    val out = scala.collection.mutable.ListBuffer
      .empty[graft.operators.BpeTrain.Merge]
    var r = 0
    var stop = false
    while (r < rounds && !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      v.foreach { case (syms, c) =>
        syms.zip(syms.drop(1)).foreach { p =>
          if (p._1 != p._2) counts(p) = counts.getOrElse(p, 0L) + c
        }
      }
      if (counts.isEmpty) stop = true
      else {
        val ((p1, p2), c) =
          counts.toList.minBy { case ((a, b), n) => (-n, a, b) }
        out += graft.operators.BpeTrain.Merge(r + 1, p1, p2, c)
        v = v.map { case (s, c0) => (foldBpe(s, Seq((p1, p2))), c0) }
        r += 1
      }
    }
    out.toList
  }

  /** Duplicated small words so counts differ from 1 and ties occur. */
  private val genCorpusWords: Gen[List[String]] =
    Gen.listOfN(10, Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(bpeAlpha)).map(_.mkString(""))))

  property("BpeTrain.learnMerges equals the reference trainer (argmax, tie-breaks, passes)") =
    forAll(genCorpusWords) { ws =>
      import graft.operators.BpeTrain
      val counted = ws.groupBy(identity).view
        .mapValues(_.size.toLong).toList.sortBy(_._1)
      val df = counted.toDF("w", "cnt")
      BpeTrain.learnMerges(df, "w", "cnt", rounds = 3) ==
        refTrain(counted, rounds = 3)
    }

  // ---- q184 content-defined chunking ----------------------------------

  /** Token streams over a tiny alphabet so window hashes collide into
    * boundaries often at every tested mod. */
  private val genCdcText: Gen[String] =
    Gen.choose(20, 150).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
        .map(_.mkString(" ")))

  property("cdcChunks: lossless, and append-only edits preserve every closed chunk") =
    forAll(genCdcText, genCdcText, Gen.oneOf(8, 16, 32)) { (base, suffix, mod) =>
      import graft.operators.TextDedup
      val df = Seq((1L, base), (2L, base + " " + suffix))
        .toDF("doc_id", "text")
      val ch = TextDedup.cdcChunks(df, "doc_id", "text",
          window = 3, mod = mod)
        .orderBy("doc_id", "ci").select("doc_id", "chunk")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val c1 = ch.filter(_._1 == 1L).map(_._2).toList
      val c2 = ch.filter(_._1 == 2L).map(_._2).toList
      // lossless reconstruction, in order
      val lossless = c1.mkString(" ") == base &&
        c2.mkString(" ") == (base + " " + suffix)
      // a boundary at i depends only on the window ENDING at i, so
      // appending text cannot move any boundary inside the base:
      // every CLOSED chunk of the base (all but its boundary-less
      // tail) reappears verbatim as a prefix of the extended doc's
      // chunking
      val appendStable = c2.startsWith(c1.init)
      lossless && appendStable
    }

  /** (group, integer value) rows for the quantile shift property:
    * integer-valued doubles keep percentile interpolation exact
    * (f ∈ {0, ½} ⇒ lo+c, hi+c, and ½(lo+hi) are all exact IEEE). */
  private val genGrouped: Gen[List[(String, Long)]] =
    Gen.listOfN(30, for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-100L, 100L)
    } yield (g, v))

  property("q206 algebra: shifting values moves the median and fixes the MAD") =
    forAll(genGrouped, Gen.choose(-50L, 50L)) { (rows, c) =>
      rows.isEmpty || {
        import graft.operators.DistributedRank
        def medMad(df: org.apache.spark.sql.DataFrame)
            : Map[String, (Double, Double)] = {
          val med = DistributedRank.quantiles(df, Seq("g"), "v",
            Seq("med" -> 0.5))
          val dev = df.join(broadcast(med), "g")
            .select(col("g"), abs(col("v") - col("med")).as("dv"))
          val mad = DistributedRank.quantiles(dev, Seq("g"), "dv",
            Seq("mad" -> 0.5))
          med.join(mad, "g").collect()
            .map(r => r.getAs[String]("g") ->
              (r.getAs[Double]("med"), r.getAs[Double]("mad"))).toMap
        }
        val df = rows.toDF("g", "v0")
          .select(col("g"), col("v0").cast("double").as("v"))
        val base = medMad(df)
        val shifted = medMad(df.select(col("g"),
          (col("v") + lit(c.toDouble)).as("v")))
        // location estimator translates, scale estimator is invariant —
        // EXACTLY (integer grid, see genGrouped)
        base.forall { case (g, (m, d)) =>
          shifted(g) == (m + c, d) }
      }
    }

  /** Funnel rows: (event_id, user, stage-or-noise type, offset sec). */
  private val genFunnelRows: Gen[List[(Long, Long, String, Long)]] =
    Gen.listOfN(35, for {
      u <- Gen.choose(0L, 3L)
      s <- Gen.oneOf("view", "click", "purchase", "noise")
      t <- Gen.choose(0L, 600L)
    } yield (u, s, t)).map(_.zipWithIndex.map { case ((u, s, t), i) =>
      (i.toLong, u, s, t) })

  property("strictOrder funnel equals the per-user reference fold") =
    forAll(genFunnelRows) { rows =>
      val stages = Seq("view", "click", "purchase")
      val df = rows.map { case (e, u, s, t) =>
        (e, u, s, new Timestamp(base + t * 1000)) }
        .toDF("event_id", "user_id", "event_type", "ts")
      val got = graft.operators.Funnel
        .strictOrder(df, "user_id", "event_type", "ts", stages)
        .collect().map { r =>
          r.getAs[Long]("user_id") ->
            stages.map(st => Option(r.getAs[Timestamp](s"t_$st"))
              .map(_.getTime)) }.toMap
      // reference: anchor k = min ts of stage-k events strictly after
      // anchor k−1 (stage 0 unconstrained), per user
      val want = rows.groupBy(_._2).flatMap { case (u, rs) =>
        val byStage = stages.map(st =>
          rs.filter(_._3 == st).map(t => base + t._4 * 1000).sorted)
        val anchors = byStage.foldLeft(List.empty[Option[Long]]) {
          (acc, ts) =>
            val prev = acc.lastOption.getOrElse(Some(Long.MinValue))
            val nxt = prev.flatMap { p =>
              ts.find(t => if (acc.isEmpty) true else t > p) }
            acc :+ nxt
        }
        if (anchors.head.isEmpty) None else Some(u -> anchors)
      }
      got == want
    }

  /** q215's counting identity: on token-TERMINATED strings over an
    * alphabet where no symbol is a suffix of another, the
    * replace-shrink count (len − len(replace(s, p, '')))/len(p)
    * equals the greedy non-overlapping scan over the TOKEN list —
    * i.e. the string trick never matches across token boundaries and
    * never over- or under-counts. */
  private val patAlphabet =
    Vector("click", "error", "purchase", "signup", "view")

  property("q215 identity: replace-shrink equals the greedy token scan") =
    forAll(Gen.listOfN(30, Gen.choose(0, 4)),
        Gen.choose(1, 3), Gen.choose(0, 4)) { (idxs, plen, pstart) =>
      val toks = idxs.map(patAlphabet)
      val pat = (0 until plen).map(i => patAlphabet((pstart + i) % 5))
      val s = toks.map(_ + ">").mkString
      val p = pat.map(_ + ">").mkString
      val shrink = (s.length - s.replace(p, "").length) / p.length
      var i = 0; var cnt = 0
      while (i + pat.length <= toks.length) {
        if (toks.slice(i, i + pat.length) == pat) { cnt += 1; i += pat.length }
        else i += 1
      }
      shrink == cnt
    }

  /** s45's streaming honesty invariant: folding ANY batch-split of a
    * key's event-time-ordered rows (each batch internally scrambled —
    * the processor sorts within a batch) produces the same final
    * state AND the same alert sequence as one fold over everything.
    * Exact equality including the ewma doubles: the op chain is
    * identical, only the call boundaries move. */
  private val genCadence: Gen[(List[Long], List[Int], Long)] = for {
    gaps <- Gen.listOfN(25, Gen.choose(0L, 5000L))
    cuts <- Gen.listOfN(3, Gen.choose(0, 25))
    seed <- Gen.choose(0L, 1000L)
  } yield (gaps, cuts, seed)

  /** s46's twin invariant: any batch-split of a key's ordered rows,
    * each batch internally scrambled, folds to the same state and the
    * same conversion rows — including sessions that straddle batch
    * boundaries (first_touch carried in state, never re-derived). */
  property("s46 attribution fold is batch-split invariant") =
    forAll(Gen.listOfN(25, for {
        t <- Gen.oneOf("view", "click", "purchase", "signup")
        g <- Gen.choose(0L, 2400L)
        v <- Gen.choose(0, 99)
      } yield (t, g, v.toDouble)),
      Gen.listOfN(3, Gen.choose(0, 25)), Gen.choose(0L, 1000L)) {
      (evs, cuts, seed) =>
      import graft.streaming.StatefulOps
      val offs = evs.map(_._2).scanLeft(0L)(_ + _).tail
      val rows = evs.zip(offs).zipWithIndex.map {
        case (((t, _, v), off), i) =>
          (i.toLong, 3L, t, v, new Timestamp(base + off * 1000L)) }
      val whole = StatefulOps.attributionFold(
        StatefulOps.attributionInit, 3L, 1800L, "purchase", rows)
      val rnd = new scala.util.Random(seed)
      val bounds = (cuts.map(_ min rows.length) :+ 0 :+ rows.length)
        .distinct.sorted
      val split = bounds.zip(bounds.tail).map { case (a, b) =>
        rnd.shuffle(rows.slice(a, b)) }
        .foldLeft((StatefulOps.attributionInit,
            Seq.empty[(Long, Timestamp, String, String, Double)])) {
          case ((st, acc), batch) =>
            val (next, out) = StatefulOps.attributionFold(
              st, 3L, 1800L, "purchase", batch)
            (next, acc ++ out)
        }
      split == whole
    }

  /** s47 ≡ q215: the KMP automaton with session-gap reset and
    * reset-on-complete counts EXACTLY the greedy non-overlapping
    * replace-shrink occurrences over the per-session token-terminated
    * chain strings — on ARBITRARY streams, including self-overlapping
    * patterns (a,a) that exercise the failure table. Also pins
    * batch-split invariance in the same pass (three-way equality). */
  property("s47 pattern fold equals q215's replace-shrink count and splits freely") =
    forAll(
      Gen.listOfN(30, for {
        t <- Gen.oneOf("a", "b", "c")
        g <- Gen.choose(0L, 2400L)
      } yield (t, g)),
      Gen.choose(1, 3), Gen.listOfN(2, Gen.oneOf("a", "b", "c")),
      Gen.listOfN(3, Gen.choose(0, 30)), Gen.choose(0L, 1000L)) {
      (evs, plen, pseed, cuts, seed) =>
      import graft.streaming.StatefulOps
      val pattern = (pseed ++ pseed).take(plen)
      val fail = StatefulOps.kmpFailure(pattern)
      val offs = evs.map(_._2).scanLeft(0L)(_ + _).tail
      val rows = evs.zip(offs).zipWithIndex.map {
        case (((t, _), off), i) =>
          (i.toLong, 5L, t, new Timestamp(base + off * 1000L)) }
      val (endState, hits) = StatefulOps.patternFold(
        StatefulOps.patternInit, 5L, 1800L, pattern, fail, rows)
      // reference: sessionize in plain scala, count via replace-shrink
      // on the q215 token-terminated string form
      val secs = rows.map(r => r._4.getTime / 1000L)
      val sess = secs.zipWithIndex.map { case (_, i) =>
        secs.take(i + 1).zip(secs.drop(1).take(i))
          .count { case (prev, next) => next - prev > 1800L } }
      val want = rows.map(_._3).zip(sess).groupBy(_._2).map { case (_, g) =>
        val s = g.map(_._1 + ">").mkString
        val p = pattern.map(_ + ">").mkString
        (s.length - s.replace(p, "").length) / p.length
      }.sum
      val whole = hits.length == want
      // batch-split invariance on the same rows
      val rnd = new scala.util.Random(seed)
      val bounds = (cuts.map(_ min rows.length) :+ 0 :+ rows.length)
        .distinct.sorted
      val split = bounds.zip(bounds.tail).map { case (a, b) =>
        rnd.shuffle(rows.slice(a, b)) }
        .foldLeft((StatefulOps.patternInit,
            Seq.empty[(Long, Timestamp)])) {
          case ((st, acc), batch) =>
            val (next, out) = StatefulOps.patternFold(
              st, 5L, 1800L, pattern, fail, batch)
            (next, acc ++ out)
        }
      whole && split == ((endState, hits))
    }

  /** s50's twin invariant: the cusum fold is all-integer, so
    * batch-split equality is exact (no float blend to worry about);
    * warm-up rows, the split point, and alert rows all land
    * identically wherever the batch boundaries fall. */
  property("s50 cusum fold is batch-split invariant") =
    forAll(for {
      xs <- Gen.listOfN(25, Gen.choose(0L, 100L))
      cuts <- Gen.listOfN(3, Gen.choose(0, 25))
      seed <- Gen.choose(0L, 1000L)
    } yield (xs, cuts, seed)) { case (xs, cuts, seed) =>
      import graft.streaming.StatefulOps
      val rows = xs.zipWithIndex.map { case (x, i) =>
        (i.toLong, 7L, new Timestamp(base + i * 1000L), x) }
      val whole = StatefulOps.cusumFold(
        StatefulOps.cusumInit, 7L, 4L, 20L, rows)
      val rnd = new scala.util.Random(seed)
      val bounds = (cuts.map(_ min rows.length) :+ 0 :+ rows.length)
        .distinct.sorted
      val split = bounds.zip(bounds.tail)
        .map { case (a, b) => rnd.shuffle(rows.slice(a, b)) }
        .foldLeft((StatefulOps.cusumInit,
            Seq.empty[(Long, Timestamp, Long, Long)])) {
          case ((st, acc), batch) =>
            val (next, out) = StatefulOps.cusumFold(st, 7L, 4L, 20L, batch)
            (next, acc ++ out)
        }
      split == whole
    }

  /** q228's integer-midrank trick, pinned against the definition:
    * U = #{(r,c) : r > c} + ½·#{(r,c) : r = c}, so 2U must equal the
    * brute-force 2·greater + equal pair count — and the two one-sided
    * statistics must partition the pair grid (2U_ref + 2U_cur =
    * 2·n₁·n₂) for ANY tie structure. */
  property("q228 midrank prefix form equals brute-force pair count") =
    forAll(for {
      rs <- Gen.listOf(Gen.choose(0, 12))
      cs <- Gen.listOf(Gen.choose(0, 12))
    } yield (rs, cs)) { case (rs, cs) =>
      def u2of(a: Seq[Int], b: Seq[Int]): Long = {
        val vals = (a ++ b).distinct.sorted
        var cum = 0L; var r2 = 0L
        vals.foreach { v =>
          val ac = a.count(_ == v).toLong; val bc = b.count(_ == v).toLong
          val tc = ac + bc; cum += tc
          r2 += ac * (2L * cum - tc + 1L)
        }
        r2 - a.length.toLong * (a.length + 1L)
      }
      val brute = rs.map(r => cs.map(c =>
        if (r > c) 2L else if (r == c) 1L else 0L).sum).sum
      u2of(rs, cs) == brute &&
        u2of(rs, cs) + u2of(cs, rs) ==
          2L * rs.length.toLong * cs.length.toLong
    }

  /** q229's rank-form numerator, pinned against the mean-absolute-
    * difference definition: 2·(2·Σ rank·x − (n+1)·Σx) = Σᵢⱼ|xᵢ−xⱼ|
    * over ALL ordered pairs — exact integers on both sides, ties
    * included (the rank form is tie-safe because permuting equal x
    * across adjacent ranks leaves Σ rank·x unchanged). */
  property("q229 gini rank form equals pairwise absolute differences") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 50L))) { xs =>
      val n = xs.length.toLong
      val srx = xs.sorted.zipWithIndex
        .map { case (x, i) => (i + 1L) * x }.sum
      val num = 2L * srx - (n + 1L) * xs.sum
      val pair = xs.map(a => xs.map(b => math.abs(a - b)).sum).sum
      2L * num == pair
    }

  /** s51's twin invariant: the benford fold's alert rule is the
    * all-integer cross-multiply max_d |c_d·10⁶ − ppm_d·n| > tau·n,
    * so batch-split equality is exact; zero amounts (skipped rows),
    * the warm-up boundary, and worst-digit tie-breaks all land
    * identically wherever the batch boundaries fall. */
  property("s51 benford fold is batch-split invariant") =
    forAll(for {
      xs <- Gen.listOfN(30, Gen.choose(0L, 999L))
      cuts <- Gen.listOfN(3, Gen.choose(0, 30))
      seed <- Gen.choose(0L, 1000L)
    } yield (xs, cuts, seed)) { case (xs, cuts, seed) =>
      import graft.streaming.StatefulOps
      val rows = xs.zipWithIndex.map { case (x, i) =>
        (i.toLong, 7L, new Timestamp(base + i * 1000L), x) }
      val whole = StatefulOps.benfordFold(
        StatefulOps.benfordInit, 7L, 5L, 200000L, rows)
      val rnd = new scala.util.Random(seed)
      val bounds = (cuts.map(_ min rows.length) :+ 0 :+ rows.length)
        .distinct.sorted
      val split = bounds.zip(bounds.tail)
        .map { case (a, b) => rnd.shuffle(rows.slice(a, b)) }
        .foldLeft((StatefulOps.benfordInit,
            Seq.empty[(Long, Timestamp, Long, Int, Long)])) {
          case ((st, acc), batch) =>
            val (next, out) = StatefulOps.benfordFold(
              st, 7L, 5L, 200000L, batch)
            (next, acc ++ out)
        }
      split == whole
    }

  property("s45 cadence fold is batch-split invariant") =
    forAll(genCadence) { case (gaps, cuts, seed) =>
      import graft.streaming.StatefulOps
      val rows = gaps.scanLeft(0L)(_ + _).zipWithIndex.map {
        case (off, i) => (i.toLong, 7L, new Timestamp(base + off * 1000L)) }
      val whole = StatefulOps.cadenceFold(
        StatefulOps.cadenceInit, 7L, 4.0, 3L, rows)
      val rnd = new scala.util.Random(seed)
      val bounds = (cuts.map(_ min rows.length) :+ 0 :+ rows.length)
        .distinct.sorted
      val batches = bounds.zip(bounds.tail).map { case (a, b) =>
        rnd.shuffle(rows.slice(a, b)) }
      val split = batches.foldLeft(
          (StatefulOps.cadenceInit,
           Seq.empty[(Long, Timestamp, Long, Double)])) {
        case ((st, acc), batch) =>
          val (next, out) = StatefulOps.cadenceFold(st, 7L, 4.0, 3L, batch)
          (next, acc ++ out)
      }
      split == whole
    }

  // ---- partitioned merge path: model-based interleaving check ----------

  property("partitioned merge surface: merges over overlapping/disjoint day sets, crash strands, compaction, retention, and live racing writers keep every day serving the model content and the change feed exact") =
    forAll(Gen.listOfN(7, Gen.choose(0, 6))) { steps =>
      // the round-12/13 model style one level up (VERDICT r13 item 6):
      // real mergeIntoPartitioned calls over a 2-day lake, sequenced
      // with fabricated crash artifacts, compaction, retention, and
      // one TRUE two-thread race over overlapping day sets. A
      // driver-side model map tracks expected content under the
      // engine's documented fold semantics — per committed merge,
      // latest-by-order-cols of (current ∪ batch) per key, tombstones
      // PHYSICAL — applied in the ACTUAL commit order (detected after
      // a race from the version history: with physical tombstones the
      // fold is commit-order-dependent — a racing stale non-delete
      // rebased past a fresher delete re-inserts its key, because the
      // tombstone keeps no version to lose against; see the
      // Lake.mergeInto scaladoc note this model forced). Invariants
      // after every step: (1) each touched day's store serves exactly
      // the model content; at run end: (2) feed ids a gap-tolerant
      // subset of 1..current matching nonempty-diff merge counts (no
      // phantom batch from a strand, no lost publish from a
      // live-staging sweep) and (3) replaying the feed reproduces the
      // store (the feed never lies). This model found the live-race
      // holes the round-14 fixes close: shared stage/cdf names letting
      // one writer publish another's data or diff, entry
      // reconciliation discarding a concurrent writer's live cdf
      // staging, and vacuum's stranded-stage sweep deleting a live
      // loser's staging — and then the tombstone-resurrection
      // commit-order dependence itself.
      import org.apache.hadoop.fs.Path
      import graft.sources.{Lake, Snapshot}
      val conf = spark.sparkContext.hadoopConfiguration
      val base = TestSpark.tmpDir("pmerge-model")
      val lake = s"$base/lake"; val cdf = s"$base/cdf"
      val days = Seq("2024-01-01", "2024-01-02")
      def dayDir(d: String) = new Path(s"$lake/ingest_date=$d")
      def feedDir(d: String) = new Path(s"$cdf/ingest_date=$d")
      val fs = new Path(base).getFileSystem(conf)
      val model = scala.collection.mutable.Map[(String, Long), (String, Long)]()
      val mergedDays = scala.collection.mutable.Set[String]()
      val feedBatches = scala.collection.mutable.Map[String, Int]()
        .withDefaultValue(0)
      // race slack: when two writers race a shared day, the lower-ver
      // writer's diff is EMPTY if the higher-ver writer landed first
      // (all its rows lose) — an empty diff publishes no feed entry,
      // so the shared day's feed count is raceCount short at most
      val feedSlack = scala.collection.mutable.Map[String, Int]()
        .withDefaultValue(0)
      var ok = true
      var i = 0
      def batch(ds: Seq[String], w: Int) = {
        i += 1
        val ver = i * 10L + w
        val rows = for (d <- ds; k <- 1L to 3L)
          yield (d, k, s"s${i}w$w", ver, k == 3L && i % 3 == 0)
        rows.toDF("ingest_date", "k", "v", "ver", "del")
      }
      // the ENGINE's fold: per key, max-ver among (current ∪ batch)
      // wins; a winning tombstone removes the row physically (so a
      // later stale non-delete has nothing to lose against)
      def applyModel(b: org.apache.spark.sql.DataFrame): Unit =
        b.collect().groupBy(r => (r.getString(0), r.getLong(1)))
          .foreach { case (key, rows) =>
            val top = rows.maxBy(_.getLong(3))
            if (model.get(key).forall(_._2 <= top.getLong(3))) {
              if (top.getBoolean(4)) model.remove(key)
              else model(key) = (top.getString(2), top.getLong(3))
            }
          }
      def mergeCall(b: org.apache.spark.sql.DataFrame): Unit = {
        Lake.mergeIntoPartitioned(spark, lake, b, "ingest_date",
          Seq("k"), Seq("ver"), Some(col("del")),
          changeDir = Some(cdf), attempts = 8)
        ()
      }
      def record(b: org.apache.spark.sql.DataFrame, ds: Seq[String]): Unit = {
        applyModel(b); mergedDays ++= ds
        ds.foreach(d => feedBatches(d) += 1)
      }
      steps.foreach { s =>
        s match {
          case 0 => // disjoint-set merge: day 1 only
            val b = batch(Seq(days(0)), 0); mergeCall(b); record(b, Seq(days(0)))
          case 1 => // overlapping-set merge: both days
            val b = batch(days, 1); mergeCall(b); record(b, days)
          case 2 => // crash strand: a dead writer's pre-commit cdf staging
            mergedDays.headOption.foreach { d =>
              val cur = Snapshot.currentVersion(fs, dayDir(d)).getOrElse(0L)
              fs.mkdirs(new Path(dayDir(d), s"_cdf_v${cur + 1}.deadbeef")); ()
            }
          case 3 => // crash strand: a dead writer's staged data dir
            mergedDays.headOption.foreach { d =>
              val cur = Snapshot.currentVersion(fs, dayDir(d)).getOrElse(0L)
              fs.mkdirs(Snapshot.stagePath(dayDir(d),
                s"d${cur + 1}-mergedead00")); ()
            }
          case 4 => // compaction (its own role; rebases on conflict)
            mergedDays.foreach(d => Snapshot.retrying(3) {
              Lake.compactDay(spark, lake, d, 1L << 20)
            })
          case 5 => // retention sweep on every day store
            mergedDays.foreach(d => Snapshot.vacuum(fs, dayDir(d), keep = 2))
          case 6 => // TRUE RACE: two live writers, overlapping day sets
            val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
            val b0 = batch(Seq(days(0)), 0); val i0 = i
            val b1 = batch(days, 1)
            val vPre = Snapshot.currentVersion(fs, dayDir(days(0)))
              .getOrElse(0L)
            val ts = Seq(b0, b1).map(b => new Thread(() =>
              try mergeCall(b)
              catch { case t: Throwable => errs.add(t); () }))
            ts.foreach(_.start()); ts.foreach(_.join(180000))
            ok &= errs.isEmpty
            // the fold is COMMIT-order-dependent on the shared day
            // (b1 may delete a key b0 re-inserts on rebase): detect
            // which writer committed vPre+1 from the version history
            // and fold the model in that order. Day 2 is b1-only.
            val firstV = Lake.readStoreAt(spark,
                dayDir(days(0)).toString, vPre + 1)
              .select("v").collect().map(_.getString(0)).toSet
            val b0First = firstV.contains(s"s${i0}w0")
            if (b0First) { record(b0, Seq(days(0))); record(b1, days) }
            else {
              record(b1, days)
              record(b0, Seq(days(0)))
            }
            feedSlack(days(0)) += 1
        }
        // invariant (1): every merged day serves exactly the model
        mergedDays.foreach { d =>
          val got = Lake.readStore(spark, dayDir(d).toString)
            .select("k", "v", "ver").collect()
            .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
          val want = model.collect { case ((`d`, k), vv) => k -> vv }.toMap
          ok &= got == want
        }
      }
      // end-of-run feed invariants per day
      mergedDays.foreach { d =>
        val fd = feedDir(d)
        val ids =
          if (!fs.exists(fd)) Seq.empty[Long]
          else fs.listStatus(fd).map(_.getPath.getName)
            .filter(_.startsWith("merge="))
            .map(_.stripPrefix("merge=").toLong).sorted.toSeq
        // (2) one feed entry per NONEMPTY-diff merge on this day —
        // a phantom strand publish would add one, a swept live
        // staging would lose one; the race slack covers the racer
        // whose rebased diff legitimately telescopes empty (every row
        // lost to the already-committed winner). Ids are VERSION-keyed
        // (round 14): a subset of 1..current, id order ≡ version
        // order — which is what makes the replay below sound.
        val curD = Snapshot.currentVersion(fs, dayDir(d)).getOrElse(0L)
        ok &= ids.forall(id => id >= 1L && id <= curD)
        ok &= ids.length <= feedBatches(d) &&
          ids.length >= feedBatches(d) - feedSlack(d)
        // (3) replaying the feed in id order reproduces the store
        val replay = scala.collection.mutable.Map[Long, (String, Long)]()
        ids.foreach { id =>
          spark.read.parquet(s"$fd/merge=$id").collect().foreach { r =>
            val op = r.getAs[String]("_op")
            val k = r.getAs[Long]("k")
            if (op == "delete") replay.remove(k)
            else replay(k) = (r.getAs[String]("v"), r.getAs[Long]("ver"))
          }
        }
        val want = model.collect { case ((`d`, k), vv) => k -> vv }.toMap
        ok &= replay.toMap == want
      }
      ok
    }

  // ---- retained tombstones: the r14 resurrection counterexample ------

  property("retained-tombstone merge is commit-order independent on delete+stale-update overlap") =
    forAll(for {
      delVer <- Gen.choose(10L, 20L)
      staleVer <- Gen.choose(1L, 9L)    // stale: below the delete
      freshVer <- Gen.choose(21L, 30L)  // fresh: above the delete
      fresh <- Gen.oneOf(true, false)   // overlap flavor
    } yield (delVer, if (fresh) freshVer else staleVer, fresh)) {
      case (delVer, updVer, fresh) =>
        // The exact counterexample the round-14 interleaving model
        // proved order-DEPENDENT under physical tombstones: batch A
        // deletes key 1 at delVer; batch B updates key 1 at updVer.
        // With updVer < delVer (stale) a physical-delete fold
        // resurrects key 1 iff B commits after A. Merged with no
        // `isDelete`, the delete row is retained as key 1's latest row
        // and keeps its version in the arithmetic, so BOTH commit
        // orders converge: stale update loses, fresh update wins —
        // enforced, not documented. Readers filter the flag.
        import graft.sources.Lake
        def batchA = Seq((1L, "dead", delVer, true), (2L, "keep", delVer, false))
          .toDF("k", "v", "ver", "del")
        def batchB = Seq((1L, "upd", updVer, false))
          .toDF("k", "v", "ver", "del")
        def runOrder(first: org.apache.spark.sql.DataFrame,
            second: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] = {
          val dir = TestSpark.tmpDir("tomb-order") + "/t"
          Seq(first, second).foreach(b =>
            Lake.mergeInto(spark, dir, b, Seq("k"), Seq("ver"),
              isDelete = None))
          Lake.readStore(spark, dir).where(!col("del")).collect()
            .map(r => r.getAs[Long]("k") ->
              (r.getAs[String]("v"), r.getAs[Long]("ver"))).toMap
        }
        val ab = runOrder(batchA, batchB)
        val ba = runOrder(batchB, batchA)
        val want =
          if (fresh) Map(1L -> ("upd", updVer), 2L -> ("keep", delVer))
          else Map(2L -> ("keep", delVer))
        ab == want && ba == want
    }

  // ---- CETAS surface: model-based interleaving check -------------------

  property("CETAS surface: REPLACE materializations interleaved with merges, vacuum, tag pins, crash strands, and a live CETAS-vs-merge race keep the store and every pinned tag serving the model content") =
    forAll(Gen.listOfN(7, Gen.choose(0, 6))) { steps =>
      // The round-12/13/14 model style pointed at the one commit
      // surface it had not enumerated (VERDICT r14 item 5):
      // createStoreAs(replace = true) — whose content contract is
      // "exactly the SQL result", NOT a fold — sequenced against
      // mergeInto on the SAME store, vacuum, tag pins, and fabricated
      // crash strands, plus one TRUE two-thread CETAS-vs-merge race.
      // Model: a committed REPLACE sets the expected map to its SQL
      // result verbatim; a committed merge folds (latest-by-ver,
      // physical tombstones) — applied in the ACTUAL commit order,
      // detected from the version history after the race. Invariants
      // after every step: (1) the store serves exactly the model;
      // (2) every still-pinned tag serves the content snapshot taken
      // when it was pinned, through later commits and vacuums.
      import org.apache.hadoop.fs.Path
      import graft.sources.{Lake, Snapshot}
      val conf = spark.sparkContext.hadoopConfiguration
      val base = TestSpark.tmpDir("cetas-model")
      val dir = s"$base/t"
      val fs = new Path(base).getFileSystem(conf)
      val model = scala.collection.mutable.Map[Long, (String, Long)]()
      val pins = scala.collection.mutable.Map[String, Map[Long, (String, Long)]]()
      var ok = true
      var i = 0
      def mergeBatch() = {
        i += 1
        val ver = i * 10L
        Seq((1L, s"m$i", ver, false), (2L, s"m$i", ver, i % 3 == 0),
          (3L, s"m$i", ver, false)).toDF("k", "v", "ver", "del")
      }
      def cetasRows() = {
        i += 1
        val ver = i * 10L + 5L
        (1L to 3L).map(k => (k, s"c$i", ver, false))
      }
      def foldModel(b: org.apache.spark.sql.DataFrame): Unit =
        b.collect().groupBy(_.getLong(0)).foreach { case (k, rows) =>
          val top = rows.maxBy(_.getLong(2))
          if (model.get(k).forall(_._2 <= top.getLong(2))) {
            if (top.getBoolean(3)) model.remove(k)
            else model(k) = (top.getString(1), top.getLong(2))
          }
        }
      def replaceModel(rows: Seq[(Long, String, Long, Boolean)]): Unit = {
        model.clear()
        rows.foreach { case (k, v, ver, _) => model(k) = (v, ver) }
      }
      def cetasCall(rows: Seq[(Long, String, Long, Boolean)]): Unit = {
        rows.toDF("k", "v", "ver", "del").createOrReplaceTempView("cetas_src")
        Lake.createStoreAs(spark, "cetas_model_t", dir,
          "SELECT k, v, ver, del FROM cetas_src", replace = true,
          attempts = 8)
        ()
      }
      def mergeCall(b: org.apache.spark.sql.DataFrame): Unit =
        Lake.mergeIntoRetrying(spark, dir, b, Seq("k"), Seq("ver"),
          Some(col("del")), attempts = 8)
      def curV: Long = Snapshot.currentVersion(fs, new Path(dir)).getOrElse(0L)
      def dump(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
        df.select("k", "v", "ver").collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      steps.foreach { s =>
        s match {
          case 0 => // merge fold
            val b = mergeBatch(); mergeCall(b); foldModel(b)
          case 1 => // CETAS REPLACE: content becomes exactly the SQL result
            val rows = cetasRows(); cetasCall(rows); replaceModel(rows)
          case 2 => // tag-pin the current version with its model snapshot
            if (curV >= 1) {
              val name = s"pin$i"
              Snapshot.tag(fs, conf, new Path(dir), name, curV)
              pins(name) = model.toMap
              // keep at most 2 pins — untag the oldest beyond that
              if (pins.size > 2) {
                val old = pins.keys.minBy(_.stripPrefix("pin").toInt)
                Snapshot.untag(fs, new Path(dir), old)
                pins.remove(old); ()
              }
            }
          case 3 => // crash strands: a dead CETAS stage + a dead merge stage
            if (curV >= 1) {
              fs.mkdirs(Snapshot.stagePath(new Path(dir),
                s"d${curV + 1}-cetasdead0000"))
              fs.mkdirs(Snapshot.stagePath(new Path(dir),
                s"d${curV + 1}-mergedead000")); ()
            }
          case 4 => // vacuum under the tag pins
            if (curV >= 1) Snapshot.vacuum(fs, new Path(dir), keep = 2)
          case 5 => // untag one pin, then vacuum — its version may reclaim
            pins.keys.toSeq.sorted.headOption.foreach { name =>
              Snapshot.untag(fs, new Path(dir), name)
              pins.remove(name)
              Snapshot.vacuum(fs, new Path(dir), keep = 2)
            }
          case 6 => // TRUE RACE: live CETAS REPLACE vs live merge
            if (curV >= 1) { // REPLACE-vs-create race is UserJourney's
              val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
              val rows = cetasRows(); val ci = i
              val b = mergeBatch()
              val vPre = curV
              val ts = Seq(
                new Thread(() => try cetasCall(rows)
                  catch { case t: Throwable => errs.add(t); () }),
                new Thread(() => try mergeCall(b)
                  catch { case t: Throwable => errs.add(t); () }))
              ts.foreach(_.start()); ts.foreach(_.join(180000))
              ok &= errs.isEmpty
              // commit order from the version history: whoever owns
              // vPre+1 applied first. CETAS rows are tagged c<ci>.
              val firstV = dump(Lake.readStoreAt(spark, dir, vPre + 1))
              val cetasFirst = firstV.values.exists(_._1 == s"c$ci")
              if (cetasFirst) { replaceModel(rows); foldModel(b) }
              else {
                // merge committed first; the CETAS retry re-ran its
                // SQL and REPLACED on top — final content is the SQL
                // result regardless of the merge
                foldModel(b); replaceModel(rows)
              }
            }
        }
        // invariant (1): the store serves exactly the model
        if (curV >= 1)
          ok &= dump(Lake.readStore(spark, dir)) == model.toMap
        // invariant (2): every pinned tag still serves its snapshot
        pins.foreach { case (name, snap) =>
          val v = Snapshot.tagVersion(fs, new Path(dir), name)
          ok &= v.isDefined
          v.foreach(tv =>
            ok &= dump(Lake.readStoreAt(spark, dir, tv)) == snap)
        }
      }
      ok
    }
}
