package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcStreams

/** Unit + property tests for the composed operators the DuckDB oracle
  * can't isolate (SURVEY.md §5.2/§5.3): as-of join vs brute force,
  * session windows vs gaps-and-islands, approx-distinct bounds,
  * SimHash reference vectors, dedup idempotence, multimodal batch
  * shape, and edge cases (empty inputs, ties).
  */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  /** Backdate an entire subtree, not just the top dir: strand
    * liveness is SUBTREE-DEEP since round 15 (Snapshot.newestMtimeMs
    * reads the deepest child, so a crash sim whose parquet files are
    * fresh still reads as live — only a whole-tree-old strand is a
    * genuinely dead one). */
  private def backdateTree(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      ageMs: Long = 10L * 60L * 1000L): Unit = {
    val t = System.currentTimeMillis() - ageMs
    def walk(q: org.apache.hadoop.fs.Path): Unit = {
      if (fs.getFileStatus(q).isDirectory)
        fs.listStatus(q).foreach(s => walk(s.getPath))
      fs.setTimes(q, t, -1L)
    }
    walk(p)
  }

  test("t1 smoke: flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query returns rows at sf0.001") {
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n == 0) Some(name) else None
    }
    // candidate-pair queries may legitimately be empty at tiny SF; all
    // others must produce rows. q234 is no longer allowed to be empty:
    // round 13 derives lifetimes from PURCHASE events (observation
    // edge still all-events), which yields real death rows at every
    // shipped SF (1 / 9 / 55 at sf0.001/0.01/0.1) — the oracle now
    // exercises the KM fold for real (VERDICT r12 #6).
    val allowedEmpty = Set("q87_minhash_lsh_pairs", "q90_embed_neardup")
    assert(empties.forall(allowedEmpty.contains), s"unexpected empty: $empties")
  }

  test("pinned constants recompute: q232 Poisson-CDF thresholds and s51 Benford ppm") {
    // both constant tables are pasted VERBATIM into their DuckDB
    // oracles, so a typo would still hash-match — only an
    // independent recomputation can catch one
    val pois = {
      var p = math.exp(-1.0); var f = 0.0
      (0 until 8).map { k =>
        f += p; p /= (k + 1); math.floor(f * math.pow(2, 60)).toLong
      }
    }
    assert(pois == graft.queries.MiningQueries.POIS1_T,
      s"POIS1_T drifted from floor(F_k·2^60): $pois")
    val ppm = (1 to 9).map(d =>
      math.round(math.log10(1.0 + 1.0 / d) * 1000000.0))
    assert(ppm == graft.streaming.StatefulOps.BENFORD_PPM.toSeq,
      s"BENFORD_PPM drifted from round(log10(1+1/d)·1e6): $ppm")
  }

  test("q234/q237 brute-force parity on a fixture with real churn (KM fold, risk-set-emptying sentinel, hypergeometric V, n=1 rule)") {
    // round-11 ADVICE (and r12 #6): the shipped-SF oracle now carries
    // real death rows (purchase-derived lifetimes), but the sentinel
    // and n=1 legs still need a crafted fixture. This one (user ->
    // purchase-day offsets; censor horizon 7 days before the
    // ALL-events dmax = day 32) exercises every branch: deaths at four
    // distinct lifetimes, a tied death, censored users interleaved,
    // a clicks-only viewer excluded from the risk set, and a FINAL
    // death that empties the risk set (n = d -> sentinel in q234,
    // n = 1 -> zero-variance rule in q237).
    val users = Seq(
      1L -> Seq(0, 2), 2L -> Seq(0, 2), 3L -> Seq(1, 4), 4L -> Seq(0, 10),
      5L -> Seq(10, 26), 6L -> Seq(0, 23), 7L -> Seq(8, 30))
    // round 13: lifetimes derive from PURCHASE events; the observation
    // edge from ALL events. A clicks-only viewer (user 8, last click
    // day 32) must (a) be EXCLUDED from the risk set and (b) still
    // push the censoring horizon to day 32 — the flag pattern of the
    // 7 purchase users is unchanged (l > 25 vs the old l > 23 split
    // the same way on these lifetimes), so every hand-derived value
    // below carries over verbatim.
    val viewer = Seq(8L -> Seq(5, 32))
    val dir = TestSpark.tmpDir("km-parity")
    (users.flatMap { case (u, ds) => ds.map(d0 =>
        (u, java.sql.Timestamp.valueOf(f"2024-03-01 12:00:00")
           , d0, "purchase"))
      } ++ viewer.flatMap { case (u, ds) => ds.map(d0 =>
        (u, java.sql.Timestamp.valueOf(f"2024-03-01 12:00:00"), d0, "click"))
      }).map { case (u, t0, d0, ty) =>
        (u, new java.sql.Timestamp(t0.getTime + d0 * 86400000L), ty)
      }.toDF("user_id", "ts", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the reference fold, computed directly from the tuples: horizon
    // over ALL events (viewer included), lifetimes over purchases only
    val dmax = (users ++ viewer).flatMap(_._2).max
    assert(dmax == 32, "viewer must set the all-events observation edge")
    val lifes = users.map { case (u, ds) =>
      (ds.max - ds.min, (dmax - ds.max) < 7, u % 2) } // (t, censored, g)
    val deathTs = lifes.filterNot(_._2).map(_._1).distinct.sorted
    assert(deathTs.size == 4, "fixture must carry real death times")
    def atRisk(t: Int, g: Long = -1L) =
      lifes.count(x => x._1 >= t && (g < 0 || x._3 == g)).toLong
    // q234 expected: S(t) via the same exp/ln fold, sentinel included
    var lnsum = 0.0
    val wantKm = deathTs.map { t =>
      val d = lifes.count(x => !x._2 && x._1 == t).toLong
      val n = atRisk(t)
      lnsum += (if (n > d) math.log((n - d).toDouble / n) else -1000.0)
      (t.toLong, d, n, math.exp(lnsum))
    }
    assert(wantKm.last._2 == wantKm.last._3,
      "fixture must end on a risk-set-emptying death (sentinel leg)")
    assert(wantKm.last._4 == 0.0)
    val gotKm = SparkEntry.queries("q234_km_survival")(spark, dir)
      .collect().map(r => (r.getAs[Long]("t_days"), r.getAs[Long]("n_churn"),
        r.getAs[Long]("n_risk"), r.getAs[Double]("survival"))).sortBy(_._1)
    assert(gotKm.length == wantKm.length, s"death times: $gotKm vs $wantKm")
    gotKm.zip(wantKm).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3, s"$g vs $w")
      assert(math.abs(g._4 - w._4) < 2e-6, s"survival: $g vs $w")
    }
    // q237 expected: O1 exact, E1/V from the same hypergeometric terms
    var (o1, e1, v, dtot) = (0L, 0.0, 0.0, 0L)
    deathTs.foreach { t =>
      val at = lifes.filter(x => !x._2 && x._1 == t)
      val d = at.size.toLong; val n = atRisk(t); val n1 = atRisk(t, 1L)
      dtot += d; o1 += at.count(_._3 == 1L).toLong
      e1 += d.toDouble * n1 / n
      if (n > 1) v += (d.toDouble * n1 / n) * (1.0 - n1.toDouble / n) *
        ((n - d).toDouble / (n - 1))
    }
    val wantChi = (o1 - e1) * (o1 - e1) / v
    val lr = SparkEntry.queries("q237_logrank")(spark, dir).collect()
    assert(lr.length == 1)
    val r = lr.head
    assert(r.getAs[Long]("n_users") == 7L && r.getAs[Long]("n_g1") == 4L)
    assert(r.getAs[Long]("deaths") == dtot && r.getAs[Long]("o1") == o1,
      s"got $r want deaths=$dtot o1=$o1")
    assert(math.abs(r.getAs[Double]("e1") - e1) < 2e-6, s"e1: $r vs $e1")
    assert(math.abs(r.getAs[Double]("v") - v) < 2e-6, s"v: $r vs $v")
    assert(math.abs(r.getAs[Double]("chi2") - wantChi) < 1e-4,
      s"chi2: $r vs $wantChi")
    // independent spot-check of the arithmetic above (hand-derived):
    // O1 = 2, E1 = 8/7 + 3/5 + 1/2, V = 120/294 + 6/25 + 1/4
    assert(o1 == 2L)
    assert(math.abs(e1 - (8.0 / 7 + 3.0 / 5 + 0.5)) < 1e-12)
    assert(math.abs(v - (120.0 / 294 + 6.0 / 25 + 0.25)) < 1e-12)
  }

  test("q239 cum-rule percentile_disc equals Spark's WITHIN GROUP built-in") {
    val mine = SparkEntry.queries("q239_percentile_disc")(spark, sf)
      .select("l_returnflag", "p25", "p50", "p75")
      .collect().map(r => (r.getString(0),
        r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    graft.Tables.lineitem(spark, sf).createOrReplaceTempView("li_q239")
    val ref = spark.sql(
      """SELECT l_returnflag,
                percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
                percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50,
                percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75
         FROM li_q239 GROUP BY l_returnflag""")
      .collect().map(r => (r.getString(0),
        r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(mine == ref, s"cum-rule drifted from the built-in: $mine vs $ref")
  }

  test("q18 as-of join equals brute force (randomized, seeded)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val rows = List.fill(80)((rnd.nextInt(5).toLong, rnd.nextInt(3000).toLong,
        if (rnd.nextBoolean()) "purchase" else "error"))
      val df = rows.zipWithIndex.map { case ((u, t, ty), i) =>
        (i.toLong, u, new Timestamp(1704067200000L + t * 1000), ty, 0.0, "{}")
      }.toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      // engine under test: the union-tag + window composition
      val got = asOf(df).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      // brute force per error event
      val purch = rows.zipWithIndex.collect {
        case ((u, t, "purchase"), i) => (u, t, i.toLong)
      }
      val want = rows.zipWithIndex.collect { case ((u, t, "error"), i) =>
        val cands = purch.filter(p => p._1 == u && p._2 <= t)
        if (cands.isEmpty) None
        else {
          val best = cands.maxBy(p => (p._2, p._3))
          Some(i.toLong -> best._3)
        }
      }.flatten.toMap
      assert(got == want)
    }
  }

  /** q18's shape through the generic operator, against an arbitrary
    * events frame. */
  private def asOf(events: org.apache.spark.sql.DataFrame) = {
    val e = events.withColumn("tsec", date_trunc("second", col("ts")))
    val errs = e.where(col("event_type") === "error")
      .select("event_id", "user_id", "tsec")
    val purch = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("tsec"), col("event_id").as("purchase_id"))
    graft.operators.AsOfJoin.backward(errs, purch,
        keys = Seq("user_id"), leftTs = "tsec", rightTs = "tsec")
      .where(col("purchase_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("purchase_id"))
  }

  test("AsOfJoin.backward: generic path — distinct ts names, extra columns, unmatched rows") {
    val quotes = Seq( // (sym, qt, bid)
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 20L, 5.0), ("B", 15L, 9.0))
      .toDF("sym", "qt", "bid")
    val trades = Seq( // (sym, tt, qty)
      ("A", 9L, 1), ("A", 10L, 2), ("A", 25L, 3), ("B", 14L, 4), ("C", 50L, 5))
      .toDF("sym", "tt", "qty")
    val got = graft.operators.AsOfJoin.backward(
        trades, quotes, keys = Seq("sym"), leftTs = "tt", rightTs = "qt")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet
    assert(got == Set(
      ("A", 9L, 1, None),          // before any quote
      ("A", 10L, 2, Some(1.0)),    // boundary-equal quote visible
      ("A", 25L, 3, Some(5.0)),    // duplicate ts -> lexicographic max tuple
      ("B", 14L, 4, None),         // B's quote is later
      ("C", 50L, 5, None)))        // key with no right rows at all
    // colliding value column is rejected up front
    intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.backward(
        trades, quotes.withColumnRenamed("bid", "qty"),
        keys = Seq("sym"), leftTs = "tt", rightTs = "qt")
    }
  }

  test("reference pipeline end-to-end through the lake: envelopes → ndjson files → glob scan → aggregate") {
    // The reference's full path (README.md:128-196): rows → CDC envelope
    // JSON lines → day-partitioned lake files → schema-on-read scan →
    // SUM/GROUP BY. Here with real files on disk, day partitioning, and
    // the batch glob source; result must equal aggregating the base
    // table directly.
    import org.apache.spark.sql.types._
    val lake = TestSpark.tmpDir("lake")
    val o = Tables.orders(spark, sf).limit(500)
      .withColumn("day", date_format(col("o_orderdate"), "yyyy-MM-dd"))
    o.select(col("day"), to_json(struct(
        struct(col("o_orderkey").as("id"), col("o_orderstatus").as("city"),
          round(col("o_totalprice"), 2).cast("string").as("revenue")).as("after"),
        array(col("o_orderstatus"), col("o_orderkey").cast("string")).as("key"),
        col("o_orderkey").cast("string").as("updated"))).as("value"))
      .write.partitionBy("day").mode("overwrite").text(lake)
    val rideSchema = StructType(Seq(
      StructField("id", LongType), StructField("city", StringType),
      StructField("revenue", StringType)))
    // glob over every day directory, exactly like …/2022-12-12/*.txt
    val scanned = CdcStreams.postImages(
      CdcStreams.readEnvelopeBatch(spark, s"$lake/day=*/*.txt", rideSchema))
    val got = scanned.groupBy("city")
      .agg(round(sum(col("revenue").cast("double")), 2).as("total_revenue"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = o.groupBy(col("o_orderstatus").as("city"))
      .agg(round(sum(round(col("o_totalprice"), 2)), 2).as("total_revenue"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == want, s"lake round-trip drifted: $got vs $want")
  }

  test("lake writer: day filter prunes partitions at planning time") {
    val lake = TestSpark.tmpDir("lake-prune")
    graft.sources.Lake.writePartitioned(
      Tables.events(spark, sf).select("event_id", "ts", "user_id"), "ts", lake)
    val all = graft.sources.Lake.read(spark, lake)
    val days = all.select("ingest_date").distinct().count()
    assert(days > 1, "fixture spans one day; pruning test is vacuous")
    val day = all.select(min(col("ingest_date")).cast("string")).head().getString(0)
    val one = graft.sources.Lake.readDay(spark, lake, day)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ingest_date"),
      s"day filter did not reach partition pruning:\n$plan")
    // pruned read equals the filtered full read
    assert(one.count() ==
      all.where(col("ingest_date") === day).count())
  }

  test("lake writer: ORC format round-trips with day pruning (avro has no DataSource jar — NOTES r5)") {
    val lake = TestSpark.tmpDir("lake-orc")
    val src = Tables.events(spark, sf).select("event_id", "ts", "user_id", "value")
    graft.sources.Lake.writePartitioned(src, "ts", lake, format = "orc")
    val all = graft.sources.Lake.read(spark, lake, format = "orc")
    assert(all.count() == src.count(), "ORC round-trip lost rows")
    // values survive the format round-trip
    val gotSum = all.agg(round(sum("value"), 2)).head().getDouble(0)
    val wantSum = src.agg(round(sum("value"), 2)).head().getDouble(0)
    assert(gotSum == wantSum, s"ORC value drift: $gotSum vs $wantSum")
    // partition pruning works the same as the parquet lake
    val day = all.select(min(col("ingest_date")).cast("string")).head().getString(0)
    val one = all.where(col("ingest_date") === day)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ingest_date"),
      s"ORC day filter did not reach partition pruning:\n$plan")
  }

  test("Lake.compactDay merges small files without changing the data") {
    import org.apache.hadoop.fs.Path
    val lake = TestSpark.tmpDir("lake-compact")
    val day = "2022-12-12"
    val df = spark.range(0, 1000)
      .select(col("id"), lit(day).cast("timestamp").as("ts"))
      .repartition(20) // simulate a changefeed's file-per-flush storm
    graft.sources.Lake.writePartitioned(df, "ts", lake)
    val dayDir = new Path(s"$lake/ingest_date=$day")
    val fs = dayDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readSetFiles: Seq[String] = {
      val set = graft.sources.Snapshot.readSet(fs, dayDir)
        .getOrElse(graft.sources.Snapshot.flatFiles(fs, dayDir))
      set.flatMap { p =>
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath).filter(q =>
            q.getName.endsWith(".parquet")).map(_.toString).toSeq
        else if (p.getName.endsWith(".parquet")) Seq(p.toString) else Nil
      }
    }
    assert(readSetFiles.size >= 20,
      s"expected a small-file storm, got ${readSetFiles.size} files")
    graft.sources.Lake.compactDay(spark, lake, day)
    // the READ SET is one file; the pre-compaction flats stay on disk
    // one version longer (retention for in-flight readers) but are
    // consumed — excluded from every reader
    assert(readSetFiles.size == 1, s"compaction read set: $readSetFiles")
    val after = graft.sources.Lake.read(spark, lake)
    assert(after.count() == 1000)
    assert(after.agg(sum("id")).head().getLong(0) == 499500L)
    // a second compaction's vacuum physically deletes the consumed
    // flats (their retention window has passed)
    graft.sources.Lake.compactDay(spark, lake, day)
    assert(graft.sources.Snapshot.flatFiles(fs, dayDir).isEmpty,
      "consumed flats survived their retention window")
    assert(graft.sources.Lake.read(spark, lake).count() == 1000)
  }

  test("Lake.compactDay: snapshot crash matrix (stranded stage, manifest-no-pointer, pointer tmp)") {
    import org.apache.hadoop.fs.Path
    val lake = TestSpark.tmpDir("lake-rec")
    val day = "2022-12-12"
    val df = spark.range(0, 100)
      .select(col("id"), lit(day).cast("timestamp").as("ts"))
      .repartition(5)
    graft.sources.Lake.writePartitioned(df, "ts", lake)
    val dayDir = new Path(s"$lake/ingest_date=$day")
    val fs = dayDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash 1: a stage dir was written but never committed (death
    // before the manifest) — invisible to readers, deleted on reuse
    spark.range(0, 7).write.parquet(s"$dayDir/d1-compact")
    assert(graft.sources.Lake.readDay(spark, lake, day).count() == 100,
      "an uncommitted stage dir leaked into the read set")
    graft.sources.Lake.compactDay(spark, lake, day)
    assert(graft.sources.Lake.readDay(spark, lake, day).count() == 100,
      "compaction after a stranded stage dir lost or gained rows")
    // crash 2: the NEXT version's manifest was written but the pointer
    // never swapped — readers stay on the committed version. While the
    // strand is FRESH it could be a live racer's claim, so the next
    // writer fails LOUDLY instead of sweeping it (round-13 ADVICE);
    // once it ages past the claim grace the next writer self-heals.
    val cur = graft.sources.Snapshot.currentVersion(fs, dayDir).get
    val stale = new Path(dayDir, s"_v${cur + 1}.list")
    val out = fs.create(stale, true)
    out.write("dGhost-compact\n".getBytes("UTF-8")); out.close()
    assert(graft.sources.Lake.readDay(spark, lake, day).count() == 100,
      "a stale future manifest disturbed readers")
    intercept[graft.sources.Snapshot.ConcurrentCommitException] {
      graft.sources.Lake.compactDay(spark, lake, day)
    }
    assert(graft.sources.Lake.readDay(spark, lake, day).count() == 100,
      "the loud loss disturbed readers")
    fs.setTimes(stale, System.currentTimeMillis() -
      graft.sources.Snapshot.DefaultClaimGraceMs - 1000L, -1L)
    graft.sources.Lake.compactDay(spark, lake, day)
    assert(graft.sources.Snapshot.currentVersion(fs, dayDir).get == cur + 1)
    assert(graft.sources.Lake.readDay(spark, lake, day).count() == 100)
    // crash 3: a stranded _current.tmp from a death mid pointer-write
    // is simply overwritten by the next commit
    val tmp = fs.create(new Path(dayDir, "_current.tmp"), true)
    tmp.write("999".getBytes("UTF-8")); tmp.close()
    graft.sources.Lake.compactDay(spark, lake, day)
    assert(graft.sources.Lake.readDay(spark, lake, day).count() == 100)
    assert(graft.sources.Lake.readDay(spark, lake, day)
      .agg(sum("id")).head().getLong(0) == 4950L)
  }

  test("Lake snapshot: named tags pin versions past vacuum, untag/retarget releases, bad tags fail loudly") {
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("snap-tags")
    val dir = s"$base/t"
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    def merge(rows: (Long, String, Long, Boolean)*): Unit =
      graft.sources.Lake.mergeInto(spark, dir,
        rows.toDF("k", "v", "ver", "is_delete"),
        Seq("k"), Seq("ver"), Some(col("is_delete")))
    merge((1L, "a", 1L, false), (2L, "b", 1L, false))
    merge((1L, "a2", 2L, false))
    graft.sources.Snapshot.tag(fs, conf, p, "train-run.1", 1L)
    // two more merges push v1 TWO past the keep=2 window — the tag
    // must hold its manifest and member dirs through both vacuums
    merge((3L, "c", 3L, false))
    merge((4L, "d", 4L, false))
    assert(fs.exists(new Path(p, "_v1.list")),
      "tagged v1 manifest was vacuumed")
    val pinned = graft.sources.Lake.readStoreTag(spark, dir, "train-run.1")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(pinned == Set(1L -> "a", 2L -> "b"),
      s"tag read drifted from the pinned snapshot: $pinned")
    // the UNTAGGED v2 aged out normally — tags pin only their target
    assert(!fs.exists(new Path(p, "_v2.list")),
      "untagged v2 survived past retention")
    intercept[Exception] {
      graft.sources.Lake.readStoreAt(spark, dir, 2L).collect()
    }
    // RETARGET the tag to current; the next vacuum reclaims v1
    val cur = graft.sources.Snapshot.currentVersion(fs, p).get
    graft.sources.Snapshot.tag(fs, conf, p, "train-run.1", cur)
    assert(graft.sources.Snapshot.tagVersion(fs, p, "train-run.1")
      .contains(cur))
    merge((5L, "e", 5L, false))
    assert(!fs.exists(new Path(p, "_v1.list")),
      "retargeted-away v1 survived vacuum")
    // untag releases entirely; unknown/illegal/future tags fail loudly
    graft.sources.Snapshot.untag(fs, p, "train-run.1")
    assert(graft.sources.Snapshot.tags(fs, p).isEmpty)
    intercept[IllegalArgumentException] {
      graft.sources.Lake.readStoreTag(spark, dir, "train-run.1")
    }
    intercept[IllegalArgumentException] {
      graft.sources.Snapshot.tag(fs, conf, p, "bad/name", cur)
    }
    intercept[IllegalArgumentException] {
      graft.sources.Snapshot.tag(fs, conf, p, "future", cur + 9L)
    }
    // a torn tag file is an actionable error naming the file, not a
    // bare NumberFormatException
    val torn = fs.create(new Path(p, "_tag.bad"), true)
    torn.write("garbage".getBytes("UTF-8")); torn.close()
    Seq[() => Any](() => graft.sources.Snapshot.tagVersion(fs, p, "bad"),
        () => graft.sources.Snapshot.tags(fs, p)).foreach { read =>
      val msg = intercept[IllegalStateException](read()).getMessage
      assert(msg.contains("torn") && msg.contains("_tag.bad"), msg)
    }
  }

  test("PublishSet composed tag pins every member store against member vacuums; untag releases") {
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("pub-tags")
    val dirs = Map("a" -> s"$base/a", "b" -> s"$base/b")
    val pub = new Path(s"$base/pub")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = pub.getFileSystem(conf)
    def merge(store: String, rows: (Long, String, Long, Boolean)*): Unit =
      graft.sources.Lake.mergeInto(spark, dirs(store),
        rows.toDF("k", "v", "ver", "is_delete"),
        Seq("k"), Seq("ver"), Some(col("is_delete")))
    def storeDir(n: String) = new Path(dirs(n))
    merge("a", (1L, "a1", 1L, false))
    merge("b", (1L, "b1", 1L, false))
    graft.sources.PublishSet.publish(fs, conf, pub,
      Map("a" -> 1L, "b" -> 1L))
    graft.sources.PublishSet.tagPublished(fs, conf, pub, "run1", storeDir)
    // three refreshes per member push v1 well past keep=2 — the
    // composed tag must hold BOTH stores' v1 through every vacuum
    for (i <- 2L to 4L) {
      merge("a", (1L, s"a$i", i, false))
      merge("b", (1L, s"b$i", i, false))
    }
    assert(graft.sources.PublishSet.resolveTag(fs, pub, "run1")
      .contains(1L))
    val pinned = graft.sources.PublishSet.resolveAt(fs, pub, 1L)
    val got = pinned.map { case (n, v) =>
      n -> graft.sources.Lake.readStoreAt(spark, dirs(n), v)
        .collect().map(_.getAs[String]("v")).toSeq
    }
    assert(got == Map("a" -> Seq("a1"), "b" -> Seq("b1")),
      s"composed tag failed to pin the published pair: $got")
    // the member-store view of the same pin
    assert(graft.sources.Lake.readStoreTag(spark, dirs("a"), "pub.run1")
      .collect().map(_.getAs[String]("v")).toSeq == Seq("a1"))
    // release: the next member vacuums reclaim both v1s
    graft.sources.PublishSet.untagPublished(fs, pub, "run1", storeDir)
    assert(graft.sources.PublishSet.resolveTag(fs, pub, "run1").isEmpty)
    merge("a", (1L, "a5", 5L, false))
    merge("b", (1L, "b5", 5L, false))
    intercept[Exception] {
      graft.sources.Lake.readStoreAt(spark, dirs("a"), 1L).collect()
    }
    intercept[Exception] {
      graft.sources.Lake.readStoreAt(spark, dirs("b"), 1L).collect()
    }
  }

  test("Snapshot multi-writer: version claim serializes commits — loser fails loudly and rebases; crash strand recovers (both modes)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    for (markerMode <- Seq(false, true)) {
      val base = TestSpark.tmpDir(s"snap-mw-$markerMode")
      val dir = new Path(s"$base/t")
      val fs = dir.getFileSystem(conf)
      conf.setBoolean(graft.sources.Snapshot.MarkerCommitKey, markerMode)
      try {
        def stage(role: String, rows: Seq[Long]): String = {
          val name = graft.sources.Snapshot.stageDirName(fs, dir, role)
          rows.toDF("id").coalesce(1).write.mode("overwrite")
            .parquet(graft.sources.Snapshot.stagePath(dir, name).toString)
          name
        }
        def served: Set[Long] = spark.read.parquet(
          graft.sources.Snapshot.resolve(fs, dir).get.map(_.toString): _*)
          .collect().map(_.getLong(0)).toSet
        fs.mkdirs(dir)
        val n0 = stage("init", Seq(1L))
        assert(graft.sources.Snapshot.commit(fs, conf, dir, Seq(n0),
          base = 0L) == 1L)
        // TWO WRITERS resolve the same base and stage distinct roles
        // (the documented concurrency contract) — deterministic
        // interleave of the exact on-disk states a real race produces
        val b = graft.sources.Snapshot.currentVersion(fs, dir).get
        val w1 = stage("w1", Seq(10L))
        val w2 = stage("w2", Seq(20L))
        // writer 1 wins the claim and publishes v2
        assert(graft.sources.Snapshot.commit(fs, conf, dir,
          Seq(n0, w1), base = b) == 2L)
        // writer 2's commit on the now-stale base fails LOUDLY — the
        // lost-update silent overwrite of round-11's verdict is gone
        val e = intercept[graft.sources.Snapshot.ConcurrentCommitException] {
          graft.sources.Snapshot.commit(fs, conf, dir,
            Seq(n0, w2), base = b)
        }
        assert(e.attempted == 2L && e.current == 2L, s"$e")
        // ...and the winner's version is untouched by the loss
        assert(graft.sources.Snapshot.currentVersion(fs, dir).contains(2L))
        assert(served == Set(1L, 10L), s"loser disturbed the winner: $served")
        // RETRY-REBASE: re-resolve, carry the WINNER's members, commit
        // on the new base — no update lost on either side
        val carried = graft.sources.Snapshot.members(fs, dir, 2L)
        val w2b = stage("w2", Seq(20L))
        assert(graft.sources.Snapshot.commit(fs, conf, dir,
          carried :+ w2b, base = 2L) == 3L)
        assert(served == Set(1L, 10L, 20L),
          s"rebased commit lost an update: $served")
        // THE CLAIM WINDOW itself: a racer claimed v4 but has not yet
        // published (the exact state between its claim and its
        // pointer/marker) — a commit racing that window must lose at
        // the claim, not overwrite it
        val carried3 = graft.sources.Snapshot.members(fs, dir, 3L)
        val w3 = stage("w1", Seq(30L))
        val ghost = fs.create(new Path(dir, "_v4.list"), false)
        ghost.write("dGhost-w9\n".getBytes("UTF-8")); ghost.close()
        val e2 = intercept[graft.sources.Snapshot.ConcurrentCommitException] {
          graft.sources.Snapshot.commit(fs, conf, dir,
            carried3 :+ w3, base = 3L)
        }
        assert(e2.attempted == 4L && e2.current == 3L, s"$e2")
        // a LIVE claim survives the hot write path (round-13 ADVICE:
        // the unconditional sweep erased a racer's claim during its
        // claim->publish window): a FRESH strand is left alone by
        // stageDirName, and the commit stays loudly blocked
        stage("w1", Seq(30L))
        assert(fs.exists(new Path(dir, "_v4.list")),
          "stageDirName erased a fresh (potentially live) claim")
        // the racer CRASHED instead — restart path (a): immediate
        // explicit recovery
        assert(graft.sources.Snapshot.recoverStrandedClaim(fs, dir),
          "recoverStrandedClaim found no strand")
        assert(!fs.exists(new Path(dir, "_v4.list")))
        // restart path (b): the age-gated sweep — a strand older than
        // the claim grace is reclaimed by the next write attempt
        val ghost2 = fs.create(new Path(dir, "_v4.list"), false)
        ghost2.write("dGhost-w9\n".getBytes("UTF-8")); ghost2.close()
        fs.setTimes(new Path(dir, "_v4.list"),
          System.currentTimeMillis() -
            graft.sources.Snapshot.DefaultClaimGraceMs - 1000L, -1L)
        val w3b = stage("w1", Seq(30L))
        assert(!fs.exists(new Path(dir, "_v4.list")),
          "stageDirName left an aged-out dead claim behind")
        assert(graft.sources.Snapshot.commit(fs, conf, dir,
          carried3 :+ w3b, base = 3L) == 4L)
        assert(served == Set(1L, 10L, 20L, 30L))
        if (markerMode)
          assert(!fs.exists(new Path(dir, "_current")),
            "marker mode must never write the pointer")
      } finally conf.setBoolean(graft.sources.Snapshot.MarkerCommitKey, false)
    }
  }

  test("mergeInto under a LIVE racing commit: plain form loses loudly, mergeIntoRetrying rebases and wins") {
    import org.apache.hadoop.fs.Path
    // a real second thread commits between mergeInto's read and its
    // commit (it waits for the merge's hidden stage dir to appear —
    // i.e. strictly after the read — then claims the version first):
    // the base CAS guard must fail the merge loudly, and the retrying
    // form must rebase onto the racer's version and land everything.
    val conf = spark.sparkContext.hadoopConfiguration
    // returns (merge outcome, racer outcome): whichever side lost the
    // claim threw ConcurrentCommitException — one of them MUST have
    // contended, and NOBODY may lose silently
    def runScenario(dir: String, retrying: Boolean)
        : (Option[Throwable], Option[Throwable]) = {
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      // v1: seed rows so the racer has carried members to commit
      graft.sources.Lake.mergeInto(spark, dir,
        (1L to 50L).map(i => (i, s"seed$i", 1L, false))
          .toDF("k", "v", "ver", "is_delete"),
        Seq("k"), Seq("ver"), Some(col("is_delete")))
      val cur = graft.sources.Snapshot.currentVersion(fs, p).get
      // round 14: merge stage roles are writer-unique (merge<uniq>) —
      // watch for the PREFIX, not an exact name
      def stageUp = fs.exists(p) && fs.listStatus(p).exists(
        _.getPath.getName.startsWith(s"_stage.d${cur + 1}-merge"))
      @volatile var racerErr: Option[Throwable] = None
      val racer = new Thread(() => {
        try {
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (!stageUp && System.nanoTime() < deadline)
            Thread.sleep(1)
          // the merge has read v-cur and is writing its staged data:
          // claim cur+1 first (carried members only — a metadata-only
          // competing commit)
          val carried = graft.sources.Snapshot.members(fs, p, cur)
          graft.sources.Snapshot.commit(fs, conf, p, carried, base = cur)
          ()
        } catch { case t: Throwable => racerErr = Some(t) }
      })
      racer.start()
      val out =
        try {
          if (retrying)
            graft.sources.Lake.mergeIntoRetrying(spark, dir,
              (51L to 60L).map(i => (i, s"new$i", 2L, false))
                .toDF("k", "v", "ver", "is_delete"),
              Seq("k"), Seq("ver"), Some(col("is_delete")))
          else
            graft.sources.Lake.mergeInto(spark, dir,
              (51L to 60L).map(i => (i, s"new$i", 2L, false))
                .toDF("k", "v", "ver", "is_delete"),
              Seq("k"), Seq("ver"), Some(col("is_delete")))
          None
        } catch { case t: Throwable => Some(t) }
      racer.join(60000)
      (out, racerErr)
    }
    def isConflict(t: Option[Throwable]) = t.exists(
      _.isInstanceOf[graft.sources.Snapshot.ConcurrentCommitException])
    val base = TestSpark.tmpDir("merge-race")
    // leg 1: whoever loses the claim loses LOUDLY — never silently.
    // Timing decides WHICH side loses; if the racer lost (it polled
    // too slowly), re-run on a fresh dir until the merge is the loser
    // (bounded — the racer's ms-scale commit beats the merge's write
    // in practice).
    var mergeLost = false
    var tries = 0
    while (!mergeLost && tries < 5) {
      tries += 1
      val (m, r) = runScenario(s"$base/plain$tries", retrying = false)
      (m, r) match {
        case (m0, None) if isConflict(m0) => mergeLost = true
        case (None, r0) if isConflict(r0) => () // racer lost loudly: retry
        case other => fail(s"unexpected outcome pair: $other")
      }
    }
    assert(mergeLost,
      "merge never lost the claim in 5 interleaves (racer too slow?)")
    // leg 2: the retrying merge rebases and lands BOTH writers' state
    // (again tolerate the racer losing loudly — the merge's own path
    // is conflict-free in that interleave and still must land)
    val (m2, r2) = runScenario(s"$base/retry", retrying = true)
    assert(m2.isEmpty, s"retrying merge failed: $m2")
    assert(r2.isEmpty || isConflict(r2), s"racer failed oddly: $r2")
    val got = graft.sources.Lake.readStore(spark, s"$base/retry")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
    assert(got.size == 60 && got(1L) == "seed1" && got(60L) == "new60",
      s"rebased merge lost rows: ${got.size}")
  }

  test("losing merge deletes its change-feed staging: no phantom CDC batch reaches the feed (round-13 ADVICE)") {
    import org.apache.hadoop.fs.Path
    // the round-12 gap: a merge that LOSES the commit claim had
    // already written `_cdf_v<next>`; the racer's win makes next ≤
    // current, so the next call's strand-reconciliation rule
    // ("publish iff k ≤ current") would publish the LOSER's
    // stale-snapshot diff under a fresh merge= id — a phantom batch
    // incremental consumers would apply twice. The fix deletes the
    // staging inside the ConcurrentCommitException path, where it is
    // known-uncommitted.
    val conf = spark.sparkContext.hadoopConfiguration
    def runOnce(dir: String, feed: String): Boolean = {
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      graft.sources.Lake.mergeInto(spark, dir,
        (1L to 50L).map(i => (i, s"seed$i", 1L, false))
          .toDF("k", "v", "ver", "is_delete"),
        Seq("k"), Seq("ver"), Some(col("is_delete")), changeDir = Some(feed))
      val cur = graft.sources.Snapshot.currentVersion(fs, p).get
      // round 14: merge stage roles are writer-unique (merge<uniq>) —
      // watch for the PREFIX, not an exact name
      def stageUp = fs.exists(p) && fs.listStatus(p).exists(
        _.getPath.getName.startsWith(s"_stage.d${cur + 1}-merge"))
      @volatile var racerErr: Option[Throwable] = None
      val racer = new Thread(() => {
        try {
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (!stageUp && System.nanoTime() < deadline)
            Thread.sleep(1)
          val carried = graft.sources.Snapshot.members(fs, p, cur)
          graft.sources.Snapshot.commit(fs, conf, p, carried, base = cur)
          ()
        } catch { case t: Throwable => racerErr = Some(t) }
      })
      racer.start()
      val out =
        try {
          graft.sources.Lake.mergeInto(spark, dir,
            (51L to 60L).map(i => (i, s"new$i", 2L, false))
              .toDF("k", "v", "ver", "is_delete"),
            Seq("k"), Seq("ver"), Some(col("is_delete")),
            changeDir = Some(feed))
          None
        } catch { case t: Throwable => Some(t) }
      racer.join(60000)
      val mergeLost = out.exists(
        _.isInstanceOf[graft.sources.Snapshot.ConcurrentCommitException])
      if (!mergeLost) {
        assert(out.isEmpty, s"merge failed non-loudly: $out")
        return false // racer lost this interleave — try a fresh dir
      }
      // THE regression assertions, at the exact post-loss state:
      // (1) the loser's change-feed staging is GONE from the store
      assert(fs.listStatus(p).map(_.getPath.getName)
          .filterNot(_.startsWith("_cdf_v")).nonEmpty) // listing sanity
      assert(!fs.listStatus(p).exists(_.getPath.getName.startsWith("_cdf_v")),
        "losing merge left its _cdf_v staging behind")
      // (2) the feed still holds ONLY the seed batch
      val fd = new Path(feed)
      assert(fs.listStatus(fd).map(_.getPath.getName)
          .count(_.startsWith("merge=")) == 1,
        "a phantom feed entry was published at the loss")
      // (3) the rebase (re-running the merge, per the documented retry
      // rule) publishes exactly one NEW diff, computed on the new base
      graft.sources.Lake.mergeInto(spark, dir,
        (51L to 60L).map(i => (i, s"new$i", 2L, false))
          .toDF("k", "v", "ver", "is_delete"),
        Seq("k"), Seq("ver"), Some(col("is_delete")), changeDir = Some(feed))
      // version-keyed feed ids (round 14): seed = v1, the racer's
      // metadata commit took v2 (no feed), the rebased merge = v3
      val entries = fs.listStatus(fd).map(_.getPath.getName)
        .filter(_.startsWith("merge=")).sorted
      assert(entries.toSeq == Seq("merge=1", "merge=3"),
        s"feed entries after rebase: ${entries.toSeq}")
      val inserts = spark.read.option("basePath", feed)
        .parquet(s"$feed/merge=1", s"$feed/merge=3")
        .where(col("_op") === "insert")
        .groupBy("k").count().collect()
      assert(inserts.length == 60 && inserts.forall(_.getAs[Long]("count") == 1L),
        "the feed double-applied a batch: some key inserted twice")
      true
    }
    val base = TestSpark.tmpDir("cdf-race")
    var done = false
    var tries = 0
    while (!done && tries < 5) {
      tries += 1
      done = runOnce(s"$base/t$tries", s"$base/t$tries-feed")
    }
    assert(done,
      "merge never lost the claim in 5 interleaves (racer too slow?)")
  }

  test("PublishSet: concurrent publish loses loudly at the claim; strand recovery; vacuumManifests honors pins; torn pubtag is loud") {
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("pub-mw")
    val dirs = Map("a" -> s"$base/a")
    val pub = new Path(s"$base/pub")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = pub.getFileSystem(conf)
    def merge(i: Long): Unit =
      graft.sources.Lake.mergeInto(spark, dirs("a"),
        Seq((1L, s"a$i", i, false)).toDF("k", "v", "ver", "is_delete"),
        Seq("k"), Seq("ver"), Some(col("is_delete")))
    def storeDir(n: String) = new Path(dirs(n))
    merge(1L)
    assert(graft.sources.PublishSet.publish(fs, conf, pub,
      Map("a" -> 1L)) == 1L)
    // a racer claimed _pub_v2.list but hasn't published: this publish
    // must lose loudly, and the racer's claim must survive the loss
    val ghost = fs.create(new Path(pub, "_pub_v2.list"), false)
    ghost.write("a=1".getBytes("UTF-8")); ghost.close()
    val e = intercept[graft.sources.Snapshot.ConcurrentCommitException] {
      graft.sources.PublishSet.publish(fs, conf, pub, Map("a" -> 1L))
    }
    assert(e.attempted == 2L && e.current == 1L, s"$e")
    assert(fs.exists(new Path(pub, "_pub_v2.list")),
      "the loser deleted the racer's live claim")
    // the racer crashed instead: restart recovery reclaims the strand
    // (explicitly — the immediate form; see scaladoc)
    assert(graft.sources.PublishSet.recoverStrandedClaim(fs, pub))
    assert(graft.sources.PublishSet.publish(fs, conf, pub,
      Map("a" -> 1L)) == 2L)
    // retention: pin v2 with a composed tag, then publish far past it
    graft.sources.PublishSet.tagPublished(fs, conf, pub, "rel", storeDir)
    assert(!fs.exists(new Path(pub, "_pubtag.rel.tmp")),
      "tagPublished left its rename tmp behind")
    for (i <- 3L to 12L)
      graft.sources.PublishSet.publish(fs, conf, pub, Map("a" -> 1L))
    graft.sources.PublishSet.vacuumManifests(fs, pub, keep = 3)
    def manifests = fs.listStatus(pub).map(_.getPath.getName)
      .filter(_.matches("_pub_v\\d+\\.list")).toSeq.sorted
    assert(manifests.toSet == Set("_pub_v2.list", "_pub_v10.list",
      "_pub_v11.list", "_pub_v12.list"),
      s"vacuumManifests retention wrong: $manifests")
    // pinned history still resolves; vacuumed history fails LOUDLY
    assert(graft.sources.PublishSet.resolveAt(fs, pub, 2L) == Map("a" -> 1L))
    intercept[Exception] {
      graft.sources.PublishSet.resolveAt(fs, pub, 5L)
    }
    // release the pin — the next vacuum reclaims v2
    graft.sources.PublishSet.untagPublished(fs, pub, "rel", storeDir)
    graft.sources.PublishSet.vacuumManifests(fs, pub, keep = 3)
    assert(!fs.exists(new Path(pub, "_pub_v2.list")),
      "released pin survived vacuumManifests")
    // a torn pubtag (pre-discipline strand / foreign bytes) resolves
    // to an actionable error, not a NumberFormatException
    val torn = fs.create(new Path(pub, "_pubtag.bad"), true)
    torn.write("garbage".getBytes("UTF-8")); torn.close()
    val msg = intercept[IllegalStateException] {
      graft.sources.PublishSet.resolveTag(fs, pub, "bad")
    }.getMessage
    assert(msg.contains("torn"), msg)
    fs.delete(new Path(pub, "_pubtag.bad"), false)
    // the EVENTUAL recovery form (round 13): a strand older than the
    // claim grace is swept by publish itself — a crash-looped
    // publisher self-heals without operator action, while the
    // fresh-strand leg above keeps a live racer's claim safe
    val curNow = graft.sources.PublishSet.currentVersion(fs, pub).get
    val agedStrand = new Path(pub, s"_pub_v${curNow + 1}.list")
    val ghost2 = fs.create(agedStrand, false)
    ghost2.write("a=1".getBytes("UTF-8")); ghost2.close()
    fs.setTimes(agedStrand,
      System.currentTimeMillis() -
        graft.sources.Snapshot.DefaultClaimGraceMs - 1000L, -1L)
    assert(graft.sources.PublishSet.publish(fs, conf, pub,
      Map("a" -> 1L)) == curNow + 1,
      "publish did not self-heal an aged-out strand")
  }

  test("Snapshot.vacuum sweeps stranded tag tmps and claim tmps") {
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("snap-tmp-sweep")
    val dir = s"$base/t"
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def merge(i: Long): Unit =
      graft.sources.Lake.mergeInto(spark, dir,
        Seq((1L, s"a$i", i, false)).toDF("k", "v", "ver", "is_delete"),
        Seq("k"), Seq("ver"), Some(col("is_delete")))
    merge(1L)
    // strands a crash can leave: a tag rename tmp, a claim rename tmp
    Seq("_tag.run.tmp", "_v9.list.tmp.deadbeef").foreach { n =>
      val out = fs.create(new Path(p, n), true)
      out.write("7".getBytes("UTF-8")); out.close()
    }
    // readers ignore them even before the sweep
    assert(graft.sources.Snapshot.tags(fs, p).isEmpty)
    assert(graft.sources.Snapshot.currentVersion(fs, p).contains(1L))
    merge(2L) // mergeInto runs vacuum
    assert(!fs.exists(new Path(p, "_tag.run.tmp")),
      "vacuum left the stranded tag tmp")
    assert(!fs.exists(new Path(p, "_v9.list.tmp.deadbeef")),
      "vacuum left the stranded claim tmp")
  }

  test("Lake snapshot: concurrent reader sees old-or-new, time travel, vacuum retention") {
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("snap-iso")
    val dir = s"$base/t"
    def merge(rows: (Long, String, Long, Boolean)*): Unit =
      graft.sources.Lake.mergeInto(spark, dir,
        rows.toDF("k", "v", "ver", "is_delete"),
        Seq("k"), Seq("ver"), Some(col("is_delete")))
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    merge((1L, "a", 1L, false), (2L, "b", 1L, false))
    // a reader resolves the store BEFORE the next merge commits — the
    // old snapshot's files must still exist and read cleanly AFTER the
    // commit (vacuum retains the previous version)
    val oldSet = graft.sources.Snapshot.readSet(fs, p).get
    merge((1L, "a2", 2L, false), (3L, "c", 2L, false))
    assert(oldSet.forall(fs.exists),
      "a pre-commit reader's resolved files were deleted by the commit")
    val oldRows = spark.read.parquet(oldSet.map(_.toString): _*)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(oldRows == Set(1L -> "a", 2L -> "b"),
      s"the pre-commit snapshot drifted: $oldRows")
    // the new snapshot is the merged state
    def state = graft.sources.Lake.readStore(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(state == Set(1L -> "a2", 2L -> "b", 3L -> "c"))
    // TIME TRAVEL: version 1 is still inside the retention window
    val v1 = graft.sources.Lake.readStoreAt(spark, dir, 1L).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(v1 == Set(1L -> "a", 2L -> "b"), s"time travel to v1: $v1")
    // a third merge pushes v1 past retention (keep = 2): its manifest
    // and unshared data dirs are vacuumed; readStoreAt fails LOUDLY
    merge((4L, "d", 3L, false))
    assert(!fs.exists(new Path(p, "_v1.list")),
      "v1 manifest survived past the retention window")
    intercept[Exception] {
      graft.sources.Lake.readStoreAt(spark, dir, 1L).collect()
    }
    // the current + previous versions remain readable: v2 held 3 keys
    // (1→a2, 2, 3), v3 added key 4
    assert(graft.sources.Lake.readStoreAt(spark, dir, 2L).count() == 3)
    assert(graft.sources.Lake.readStoreAt(spark, dir, 3L).count() == 4)
    assert(state == Set(1L -> "a2", 2L -> "b", 3L -> "c", 4L -> "d"))
    // post-snapshot flat APPENDS (outside the protocol) join the read
    // set until the next version consumes them
    Seq((9L, "z", 9L, false)).toDF("k", "v", "ver", "is_delete")
      .coalesce(1).write.mode("append").parquet(dir)
    assert(state.contains(9L -> "z"), "a flat append was hidden by the snapshot")
    merge((5L, "e", 4L, false))
    assert(state.count(_._1 == 9L) == 1,
      "a consumed flat append was double-read after the merge")
  }

  test("Snapshot marker-commit mode: rename-free publish, mixed-mode interop, marker retention") {
    // the object-store commit path (VERDICT r9 #8): S3A rename is
    // copy+delete, so commit publishes by CREATING _commit.<n> (one
    // atomic PUT) instead of swapping _current; resolution is
    // max(markers ∪ pointer), so the modes interoperate on one store
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("snap-marker")
    val dir = s"$base/t"
    val conf = spark.sparkContext.hadoopConfiguration
    def merge(rows: (Long, String, Long, Boolean)*): Unit =
      graft.sources.Lake.mergeInto(spark, dir,
        rows.toDF("k", "v", "ver", "is_delete"),
        Seq("k"), Seq("ver"), Some(col("is_delete")))
    def state = graft.sources.Lake.readStore(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    def markers = if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.matches("_commit\\.\\d+")).toSeq.sorted
    conf.setBoolean(graft.sources.Snapshot.MarkerCommitKey, true)
    try {
      merge((1L, "a", 1L, false), (2L, "b", 1L, false))
      // committed via marker, never a pointer file or a pointer tmp
      assert(!fs.exists(new Path(p, "_current")),
        "marker mode must not write the _current pointer")
      assert(markers == Seq("_commit.1"), s"markers after v1: $markers")
      assert(graft.sources.Snapshot.currentVersion(fs, p).contains(1L))
      assert(state == Set(1L -> "a", 2L -> "b"))
      // crash analog: the next version's manifest lands but the
      // marker (the LAST step) never does — readers stay on v1
      val out = fs.create(new Path(p, "_v2.list"), true)
      out.write("dGhost-merge\n".getBytes("UTF-8")); out.close()
      assert(graft.sources.Snapshot.currentVersion(fs, p).contains(1L),
        "a manifest without its marker must not be a committed version")
      assert(state == Set(1L -> "a", 2L -> "b"))
      // while fresh the strand could be a live claim: loud block
      // (round 13); aged past the grace, the next writer self-heals
      intercept[graft.sources.Snapshot.ConcurrentCommitException] {
        merge((3L, "c", 2L, false))
      }
      fs.setTimes(new Path(p, "_v2.list"), System.currentTimeMillis() -
        graft.sources.Snapshot.DefaultClaimGraceMs - 1000L, -1L)
      merge((3L, "c", 2L, false)) // next writer sweeps the aged strand
      assert(graft.sources.Snapshot.currentVersion(fs, p).contains(2L))
      assert(state == Set(1L -> "a", 2L -> "b", 3L -> "c"))
      // mode interop: a rename-mode commit continues the version line
      conf.setBoolean(graft.sources.Snapshot.MarkerCommitKey, false)
      merge((4L, "d", 3L, false))
      assert(graft.sources.Snapshot.currentVersion(fs, p).contains(3L),
        "pointer-mode commit must continue past marker versions")
      assert(state == Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
      // ... and back to marker mode on the same store
      conf.setBoolean(graft.sources.Snapshot.MarkerCommitKey, true)
      merge((5L, "e", 4L, false))
      assert(graft.sources.Snapshot.currentVersion(fs, p).contains(4L))
      assert(state.size == 5)
      // marker retention follows manifest retention (keep = 2):
      // markers below the floor are vacuumed with their manifests
      assert(markers.forall(_.stripPrefix("_commit.").toLong >= 3L),
        s"markers past retention survived vacuum: $markers")
    } finally conf.setBoolean(graft.sources.Snapshot.MarkerCommitKey, false)
  }

  test("Snapshot tags in marker mode: PUT publish, no pointer tmp, retention + retarget hold") {
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("snap-tags-marker")
    val dir = s"$base/t"
    val p = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    def merge(rows: (Long, String, Long, Boolean)*): Unit =
      graft.sources.Lake.mergeInto(spark, dir,
        rows.toDF("k", "v", "ver", "is_delete"),
        Seq("k"), Seq("ver"), Some(col("is_delete")))
    conf.setBoolean(graft.sources.Snapshot.MarkerCommitKey, true)
    try {
      merge((1L, "a", 1L, false))
      merge((1L, "a2", 2L, false))
      graft.sources.Snapshot.tag(fs, conf, p, "run", 1L)
      // marker-mode tag is a plain PUT — no rename tmp may exist
      assert(!fs.exists(new Path(p, "_tag.run.tmp")),
        "marker-mode tag left a rename tmp")
      merge((1L, "a3", 3L, false))
      merge((1L, "a4", 4L, false))
      assert(fs.exists(new Path(p, "_v1.list")),
        "marker-mode tagged v1 was vacuumed")
      assert(graft.sources.Lake.readStoreTag(spark, dir, "run")
        .collect().map(_.getAs[String]("v")).toSeq == Seq("a"))
      // retarget by PUT overwrite, then the pin releases v1
      graft.sources.Snapshot.tag(fs, conf, p, "run", 4L)
      merge((1L, "a5", 5L, false))
      assert(!fs.exists(new Path(p, "_v1.list")),
        "marker-mode retargeted-away v1 survived vacuum")
      assert(graft.sources.Lake.readStoreTag(spark, dir, "run")
        .collect().map(_.getAs[String]("v")).toSeq == Seq("a4"))
    } finally conf.setBoolean(graft.sources.Snapshot.MarkerCommitKey, false)
  }

  test("Lake.writeBucketed: co-bucketed tables join without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try {
      graft.sources.Lake.writeBucketed(
        Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice"),
        "b_orders", "o_custkey", 4)
      graft.sources.Lake.writeBucketed(
        Tables.customer(spark, sf).select("c_custkey", "c_mktsegment"),
        "b_customer", "c_custkey", 4)
      val joined = spark.table("b_orders").join(spark.table("b_customer"),
        col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // the bucketed scans satisfy the join's distribution: no exchange
      assert(!plan.contains("Exchange"),
        s"co-bucketed join still shuffles:\n$plan")
      assert(joined.count() ==
        Tables.orders(spark, sf).join(Tables.customer(spark, sf),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("Lake.readEvolved surfaces the superset schema across days") {
    val lake = TestSpark.tmpDir("lake-evolve")
    graft.sources.Lake.writePartitioned(
      spark.range(0, 10).select(col("id"),
        lit("2022-12-12").cast("timestamp").as("ts")), "ts", lake)
    // the upstream table gained a column the next day
    graft.sources.Lake.writePartitioned(
      spark.range(10, 20).select(col("id"), lit(1.5).as("tip"),
        lit("2022-12-13").cast("timestamp").as("ts")), "ts", lake)
    val all = graft.sources.Lake.readEvolved(spark, lake)
    assert(all.columns.contains("tip"), s"merged schema lost the new column")
    assert(all.count() == 20)
    // old-day rows read the new column as null
    assert(all.where(col("tip").isNull).count() == 10)
  }

  test("GraftExtensions wires native functions into a session") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      "SELECT simhash64('hello world') AS h, wmean(x, w) AS m " +
      "FROM VALUES (1.0D, 1.0D), (3.0D, 3.0D) t(x, w)").head()
    assert(r.getLong(0) == graft.functions.SimHash64.simhash("hello world"))
    assert(math.abs(r.getDouble(1) - 2.5) < 1e-12) // (1*1+3*3)/(1+3)
    val b = spark.sql(
      "SELECT bucket_search(CAST(5 AS DOUBLE), array(1.0D, 4.0D, 9.0D)) AS b")
      .head().getInt(0)
    assert(b == 2, s"bucket_search(5, [1,4,9]) = $b, want 2")
  }

  test("q72 session windows equal gaps-and-islands on real data") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sf)
      .withColumn("t", date_trunc("second", col("ts")))
    val sess = e.groupBy(col("user_id"), session_window(col("t"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("st"), col("n"))
    val w = Window.partitionBy("user_id").orderBy("t")
    val gi = e
      .withColumn("brk", when(
        col("t").cast("long") - lag(col("t"), 1).over(w).cast("long") <= 1800, 0)
        .otherwise(1))
      .withColumn("sid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("t").as("st"), count(lit(1)).as("n"))
      .select(col("user_id"), col("st"), col("n"))
    assert(sess.except(gi).isEmpty && gi.except(sess).isEmpty)
  }

  test("q70 tumbling windows partition the global sum") {
    val e = Tables.events(spark, sf)
    val windowed = SparkEntry.queries("q70_window_tumbling")(spark, sf)
      .agg(sum("n")).head().getLong(0)
    assert(windowed == e.count())
  }

  test("q37 approx percentiles within 2% of exact q29 values") {
    val li = Tables.lineitem(spark, sf)
    val exact = li.groupBy("l_returnflag").agg(
      expr("percentile(l_extendedprice, 0.25)").as("p25"),
      expr("percentile(l_extendedprice, 0.5)").as("p50"),
      expr("percentile(l_extendedprice, 0.95)").as("p95"))
      .collect().map(r => r.getString(0) -> Seq(1, 2, 3).map(r.getDouble)).toMap
    SparkEntry.queries("q37_percentiles_approx")(spark, sf).collect().foreach { r =>
      val es = exact(r.getString(0))
      Seq(1, 2, 3).map(r.getDouble).zip(es).foreach { case (a, e) =>
        assert(math.abs(a - e) / e < 0.02, s"${r.getString(0)}: exact=$e approx=$a")
      }
    }
  }

  test("IVF recall@5: monotone in probe, exact at probe=all (fixture)") {
    // The fixture's labels carry no geometry (within-label cosine
    // ≈ 0.009 vs cross ≈ -0.004: near-random vectors), so probe=1
    // recall is ≈ probe/#clusters BY CONSTRUCTION of the data — the
    // operator contract to pin here is cost ∝ probe, recall
    // non-decreasing in probe, and exact recovery at probe=all. The
    // quality bound on clusterable data is the next test.
    import graft.operators.Similarity
    val em = Tables.embeddings(spark, sf)
    val exact = Similarity.cosineTopK(
        em.where(col("vec_id") =!= 1),
        em.where(col("vec_id") === 1).select(col("embedding").as("qv")),
        "vec_id", "embedding", k = 5)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val cent = Similarity.ivfCentroids(em, "label", "embedding")
    val nClusters = em.select("label").distinct().count().toInt
    def recall(probe: Int): Double =
      Similarity.ivfSearch(em, "vec_id", "embedding", cent,
          queryId = 1, k = 5, probe = probe)
        .collect().map(_.getAs[Long]("vec_id")).toSet
        .intersect(exact).size / 5.0
    val rs = Seq(1, 3, nClusters).map(recall)
    assert(rs == rs.sorted, s"recall must be non-decreasing in probe: $rs")
    assert(rs.last == 1.0, "probe=all must recover the exact top-5")
  }

  test("IVF recall@5 >= 0.8 at probe=1 on clustered data") {
    // Deterministic clustered corpus: 10 well-separated centers, 20
    // points each at small noise — the geometry IVF assumes. probe=1
    // must find >= 4 of the true top-5.
    import graft.operators.Similarity
    val rng = new scala.util.Random(42)
    val dim = 16
    val centers = Array.fill(10, dim)(rng.nextGaussian().toFloat)
    val rows = for (c <- 0 until 10; i <- 0 until 20) yield {
      val v = centers(c).map(x => x + 0.1f * rng.nextGaussian().toFloat)
      (c.toLong * 20 + i, c.toString, v)
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "label", "embedding")
    val cent = Similarity.ivfCentroids(df, "label", "embedding")
    val exact = Similarity.cosineTopK(
        df.where(col("vec_id") =!= 7),
        df.where(col("vec_id") === 7).select(col("embedding").as("qv")),
        "vec_id", "embedding", k = 5)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val got = Similarity.ivfSearch(df, "vec_id", "embedding", cent,
        queryId = 7, k = 5, probe = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val r = got.intersect(exact).size / 5.0
    assert(r >= 0.8, s"recall@5 at probe=1 on clustered data = $r")
  }

  test("kmeansIterate: label centroids are a fixpoint on separated clusters") {
    // Same well-separated corpus as the recall test: starting from the
    // TRUE per-label centroids, one Lloyd step must re-assign every
    // vector to its own label's centroid and reproduce the centroids
    // (up to float noise) — and the output must chain back into the
    // IVF machinery unchanged.
    import graft.operators.Similarity
    val rng = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(8, dim)(rng.nextGaussian().toFloat)
    val rows = for (c <- 0 until 8; i <- 0 until 25) yield {
      val v = centers(c).map(x => x + 0.05f * rng.nextGaussian().toFloat)
      (c.toLong * 25 + i, c.toString, v)
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "label", "embedding")
    val cent0 = Similarity.ivfCentroids(df, "label", "embedding")
    val cent1 = Similarity.kmeansIterate(df, "vec_id", "embedding", cent0)
    assert(cent1.schema.fieldNames.toSeq == cent0.schema.fieldNames.toSeq)
    val joined = cent0.withColumnRenamed("c", "c0")
      .join(cent1, Seq("clabel", "pos"))
    assert(joined.count() == 8L * dim, "a cluster vanished or grew")
    val maxDiff = joined.agg(max(abs(col("c0") - col("c")))).head().getDouble(0)
    assert(maxDiff < 1e-6, s"label centroids not a fixpoint: maxDiff=$maxDiff")
  }

  test("ivfSearchBatch at probe=all equals per-query cosineTopK") {
    import graft.operators.Similarity
    val em = Tables.embeddings(spark, sf)
    val cent = Similarity.ivfCentroids(em, "label", "embedding")
    val nClusters = em.select("label").distinct().count().toInt
    val qIds = Seq(1L, 7L, 42L)
    val queries = em.where(col("vec_id").isin(qIds: _*))
    val got = Similarity.ivfSearchBatch(em, "vec_id", "embedding", cent,
        queries, k = 5, probe = nClusters, excludeSelf = true)
      .collect()
      .groupBy(_.getAs[Long]("a_id"))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Int]("rn"))
          .map(r => (r.getAs[Long]("nb_id"), r.getAs[Double]("cos_sim"))).toSeq }
    qIds.foreach { q =>
      val want = Similarity.cosineTopK(
          em.where(col("vec_id") =!= q),
          em.where(col("vec_id") === q).select(col("embedding").as("qv")),
          "vec_id", "embedding", k = 5)
        .collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      assert(got(q) == want, s"query $q: batch=${got(q)} exact=$want")
    }
  }

  test("pqTopK: re-rank equals exact cosine restricted to the ADC shortlist; shortlist contains the answer") {
    import graft.operators.Similarity
    val em = Tables.embeddings(spark, sf)
    val q = em.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val corpus = em.where(col("vec_id") =!= 0)
    // k = shortlist exposes the whole ADC shortlist, re-ranked
    val sl = Similarity.pqTopK(corpus, q, "vec_id", "embedding",
        dim = 64, m = 4, kc = 16, shortlist = 20, k = 20).collect()
    assert(sl.length == 20, s"shortlist size ${sl.length}")
    val slIds = sl.map(_.getAs[Long]("vec_id")).toSet
    // 1. the k=10 serving answer is exactly the shortlist's top-10 —
    //    no re-scoring drift between the two calls
    val top10 = Similarity.pqTopK(corpus, q, "vec_id", "embedding",
        dim = 64, m = 4, kc = 16, shortlist = 20, k = 10).collect()
    assert(top10.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"))).toSeq ==
      sl.sortBy(_.getAs[Int]("rank")).take(10)
        .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"))).toSeq,
      "k=10 answer diverges from the shortlist's own top-10")
    // 2. the re-rank IS exact cosine on the shortlist: brute-force
    //    cosineTopK restricted to the shortlist ids gives the same
    //    ordered (id, cos) list
    val brute = Similarity.cosineTopK(
        corpus.where(col("vec_id").isin(slIds.toSeq: _*)), q,
        "vec_id", "embedding", k = 20).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    assert(sl.sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq == brute,
      "re-rank diverges from exact cosine over the shortlist")
    // 3. ADC distances are non-negative and the shortlist is adc-sorted
    //    under the emitted ordering rule (adc asc, id asc)
    val byAdc = sl.map(r => (r.getAs[Double]("adc"), r.getAs[Long]("vec_id"))).sorted
    assert(byAdc.head._1 >= 0.0, s"negative ADC distance: ${byAdc.head}")
  }

  test("ivfPqSearch: candidates honor the probed cells; probe=all recovers pqTopK") {
    import graft.operators.Similarity
    val em = Tables.embeddings(spark, sf)
    val cent = Similarity.ivfCentroids(em, "label", "embedding")
    val nCells = cent.select("clabel").distinct().count().toInt
    // 1. cell restriction is real: every served id is INDEXED in one
    //    of the query's probed cells (probe=2 — q191's setting)
    val got = Similarity.ivfPqSearch(em, "vec_id", "embedding", cent,
      queryId = 0, dim = 64, m = 4, kc = 16, shortlist = 20, k = 10,
      probe = 2).collect()
    assert(got.length == 10, s"expected 10 rows, got ${got.length}")
    val qCells = Similarity.ivfAssign(em.where(col("vec_id") === 0),
        "vec_id", "embedding", cent, probe = 2)
      .collect().map(_.getAs[Int]("clabel")).toSet
    val idx = Similarity.ivfAssign(em.where(col("vec_id") =!= 0),
        "vec_id", "embedding", cent)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("clabel"))
      .toMap
    got.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(qCells.contains(idx(id)),
        s"id $id served from unprobed cell ${idx(id)} (probed $qCells)")
    }
    // 2. probing every cell collapses IVF-PQ to plain PQ — identical
    //    (rank, id, adc, cos) rows to pqTopK at the same geometry
    val all = Similarity.ivfPqSearch(em, "vec_id", "embedding", cent,
        queryId = 0, dim = 64, m = 4, kc = 16, shortlist = 20, k = 10,
        probe = nCells).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("adc"), r.getAs[Double]("cos_sim"))).toSeq
    val pq = Similarity.pqTopK(em.where(col("vec_id") =!= 0),
        em.where(col("vec_id") === 0).select(col("embedding").as("qv")),
        "vec_id", "embedding",
        dim = 64, m = 4, kc = 16, shortlist = 20, k = 10).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("adc"), r.getAs[Double]("cos_sim"))).toSeq
    assert(all == pq, s"probe=all diverges from pqTopK:\n$all\nvs\n$pq")
  }

  test("q224: banded LSH degenerates to r=1 exactly; r=2 candidates are a strict subset") {
    import graft.operators.TextDedup
    val sigs = TextDedup.minhashSignatures(
        Tables.documents(spark, sf), "doc_id", "text")
      .localCheckpoint(true)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val r1 = pairSet(TextDedup.lshCandidatePairs(sigs, "doc_id"))
    val b1 = pairSet(TextDedup.lshCandidatePairsBanded(sigs, "doc_id", 1))
    val b2 = pairSet(TextDedup.lshCandidatePairsBanded(sigs, "doc_id", 2))
    // rowsPerBand = 1 IS the single-row-band operator
    assert(b1 == r1, s"banded r=1 diverged: ${b1.size} vs ${r1.size}")
    // a 2-slot band agreement implies both slots agree individually,
    // so every r=2 candidate is an r=1 candidate — and on this fixture
    // the sharpening is strict (precision is the point of r>1)
    assert(b2.subsetOf(r1), s"r=2 emitted pairs r=1 missed: ${b2 -- r1}")
    assert(b2.size < r1.size, s"r=2 did not sharpen: ${b2.size} vs ${r1.size}")
  }

  test("q211: cluster-aware split leaks zero LSH pairs; naive split does leak") {
    import graft.operators.TextDedup
    val base = Tables.documents(spark, sf)
    val sigs = TextDedup.minhashSignatures(base, "doc_id", "text")
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
      .localCheckpoint(true)
    assert(pairs.count() > 0, "fixture has no LSH pairs — test is vacuous")
    val clusters = TextDedup.dupClusters(pairs)
    val rep = clusters.groupBy("cluster").agg(min("id").as("rep"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val aware = TextDedup.hashSplit(
        base.select(col("doc_id"))
          .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .join(rep, Seq("cluster"), "left")
          .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep")),
        "rep", splits)
      .select(col("doc_id"), col("split"))
    val naive = TextDedup.hashSplit(base.select(col("doc_id")), "doc_id", splits)
      .select(col("doc_id"), col("split"))
    def straddles(asg: org.apache.spark.sql.DataFrame): Long = pairs
      .join(asg.select(col("doc_id").as("a_id"), col("split").as("sa")), "a_id")
      .join(asg.select(col("doc_id").as("b_id"), col("split").as("sb")), "b_id")
      .where(col("sa") =!= col("sb")).count()
    // the invariant the key exists for: no pair straddles a boundary
    assert(straddles(aware) == 0L, "cluster-aware split leaked a pair")
    // ...and it is not vacuous: the naive per-doc split DOES leak here
    assert(straddles(naive) > 0L, "fixture never leaks — invariant untested")
    // totality: every doc gets exactly one split
    assert(aware.count() == base.count())
    // minimality: docs in no dup cluster keep their q152 naive split —
    // the cluster-aware rule only ever MOVES duplicate members
    val moved = naive.withColumnRenamed("split", "ns")
      .join(aware, "doc_id")
      .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
      .where(col("ns") =!= col("split")).count()
    assert(moved == 0L, s"$moved pair-free docs changed split")
  }

  test("corpus audit: versioned reports, PSI drift vs previous run, time travel") {
    import graft.examples.CorpusAudit
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("audit").toString
    // v1: first run — expectations/mix/zipf sections, NO drift (no
    // previous histogram to compare against)
    val v1 = CorpusAudit.runAudit(spark, docs, dir)
    assert(v1 == 1L)
    val r1 = CorpusAudit.report(spark, dir).collect()
    val sections1 = r1.map(_.getAs[String]("section")).toSet
    assert(sections1 == Set("expectations", "lang_mix", "zipf", "entropy"),
      s"v1 sections: $sections1")
    // entropy rows: one per language, counts covering the corpus
    val entDocs = r1.filter(_.getAs[String]("section") == "entropy")
      .map(_.getAs[Long]("cnt")).sum
    assert(entDocs == docs.where(length(col("text")) > 0).count(),
      s"entropy section covers $entDocs docs")
    val mixShare = r1.filter(_.getAs[String]("section") == "lang_mix")
      .map(_.getAs[Double]("metric")).sum
    assert(math.abs(mixShare - 1.0) < 1e-9, s"lang shares sum to $mixShare")
    // v2: audit a SHIFTED corpus (short docs dropped) — drift section
    // appears and is positive (the length histogram moved)
    val v2 = CorpusAudit.runAudit(spark, docs.where(col("n_chars") >= 250), dir)
    assert(v2 == 2L)
    val psi2 = CorpusAudit.report(spark, dir).collect()
      .find(r => r.getAs[String]("section") == "drift").get
      .getAs[Double]("metric")
    assert(psi2 > 0.1, s"dropping half the length distribution gave PSI $psi2")
    // v3: identical corpus to v2 — PSI exactly 0 (same counts, every
    // per-bin contribution is (p-p)·ln(1))
    CorpusAudit.runAudit(spark, docs.where(col("n_chars") >= 250), dir)
    val psi3 = CorpusAudit.report(spark, dir).collect()
      .find(r => r.getAs[String]("section") == "drift").get
      .getAs[Double]("metric")
    assert(psi3 == 0.0, s"identical corpora gave PSI $psi3")
    // time travel: the v1 report is still served unchanged
    val r1Again = CorpusAudit.report(spark, dir, Some(1L)).collect()
    assert(r1Again.map(_.toString).sorted.toSeq ==
      r1.map(_.toString).sorted.toSeq, "v1 report changed under later commits")
  }

  test("ivfpq index: cell-partitioned codes serve identically; scan touches only probed dirs; meta guards") {
    import graft.operators.Similarity
    val em = Tables.embeddings(spark, sf)
    val corpus = em.where(col("vec_id") =!= 0)
    val q = em.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cent = Similarity.ivfCentroids(em, "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding", cent,
      dim = 64, m = 4, kc = 16, path = dir)
    // 1. served ≡ in-memory ivfPqSearch at the same build parameters
    val served = Similarity.ivfPqSearchIndexed(corpus, q, "vec_id",
        "embedding", dir, shortlist = 20, k = 10, probe = 2).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("adc"), r.getAs[Double]("cos_sim"))).toSeq
    val direct = Similarity.ivfPqSearch(em, "vec_id", "embedding", cent,
        queryId = 0, dim = 64, m = 4, kc = 16, shortlist = 20, k = 10,
        probe = 2).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("adc"), r.getAs[Double]("cos_sim"))).toSeq
    assert(served == direct, s"served\n$served\nvs direct\n$direct")
    // 2. the probe/#cells I/O claim is literal: the pruned codes scan
    //    reads files ONLY from the probed clabel= directories
    val probed = Similarity.ivfAssign(
        em.where(col("vec_id") === 0), "vec_id", "embedding", cent,
        probe = 2)
      .collect().map(_.getAs[Int]("clabel")).toSet
    val pruned = spark.read.parquet(s"$dir/codes")
      .where(col("clabel").isin(probed.toSeq: _*))
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty => f
    }
    assert(scans.nonEmpty, "codes scan carries no PartitionFilters")
    val sel = scans.head.selectedPartitions
    assert(sel.partitionCount == probed.size,
      s"scan selected ${sel.partitionCount} cell dirs, want ${probed.size} ($probed)")
    val nCells = spark.read.parquet(s"$dir/codes")
      .select("clabel").distinct().count()
    assert(probed.size < nCells,
      s"fixture degenerate: probed ${probed.size} of $nCells cells")
    // 3. a store without meta refuses to serve (geometry drift would
    //    silently join zero ADC cells — the CMS-store discipline)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_ivfpq_meta"), false)
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqSearchIndexed(corpus, q, "vec_id", "embedding",
        dir, shortlist = 20, k = 10, probe = 2)
    }
    assert(ex.getMessage.contains("_ivfpq_meta"))
  }

  test("incremental ivfpq: diff-sized segments serve ≡ full re-encode across update/delete/replay; probe prunes every segment") {
    import graft.operators.Similarity
    import graft.examples.IncrementalIvfPq
    val em = Tables.embeddings(spark, sf)
    val base = TestSpark.tmpDir("inc-ivfpq")
    val table = s"$base/t"; val cdf = s"$base/changes"; val idx = s"$base/idx"
    val q = em.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cent = Similarity.ivfCentroids(em, "label", "embedding")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, table, b, Seq("vec_id"),
        Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    def batch(ids: Seq[Long], ver: Long, del: Boolean = false,
        perturb: Boolean = false) = {
      val rows = em.where(col("vec_id").isin(ids: _*))
        .select(col("vec_id"),
          (if (perturb)
             expr("transform(embedding, x -> cast(x + 0.5 as float))")
           else col("embedding")).as("embedding"),
          lit(ver).as("ver"), lit(del).as("is_delete"))
      rows
    }
    def corpusNow = graft.sources.Lake.readStore(spark, table)
      .select(col("vec_id"), col("embedding"))
    def cbStored = spark.read.parquet(s"$idx/codebook")
    def centStored = spark.read.parquet(s"$idx/centroids")
    // ground truth: re-encode the CURRENT merged corpus against the
    // STORED geometry (geometry is frozen at bootstrap by design)
    def recompute = Similarity.encodeCodes(corpusNow, cbStored,
        centStored, "vec_id", "embedding", 4, 16).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Int]]("codes"), r.getAs[Int]("clabel")))
      .sortBy(t => (t._1, t._3)).toSeq
    def served = IncrementalIvfPq.readCodes(spark, idx).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Int]]("codes"), r.getAs[Int]("clabel")))
      .sortBy(t => (t._1, t._3)).toSeq
    def refresh(): Long = IncrementalIvfPq.refresh(spark, idx, cdf,
      "vec_id", "embedding", compactAt = 4)

    // first merge = store version 1; bootstrap at watermark 1 (feed
    // ids are version-keyed, round 14)
    merge(batch(1L to 40L, ver = 1))
    IncrementalIvfPq.bootstrap(spark, idx, corpusNow, "vec_id",
      "embedding", cent, dim = 64, m = 4, kc = 16, upto = 1L)
    assert(served == recompute, "bootstrap store != re-encode")
    // bootstrap parity with the adjudicated one-shot artifact: same
    // corpus, same training → identical serving, rank for rank
    val oneShot = java.nio.file.Files.createTempDirectory("ivfpq-one").toString
    Similarity.writeIvfPqIndex(corpusNow, "vec_id", "embedding", cent,
      dim = 64, m = 4, kc = 16, path = oneShot)
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("adc"), r.getAs[Double]("cos_sim"))).toSeq
    assert(
      top(IncrementalIvfPq.search(corpusNow, q, "vec_id", "embedding",
        idx, shortlist = 20, k = 10, probe = 2)) ==
      top(Similarity.ivfPqSearchIndexed(corpusNow, q, "vec_id",
        "embedding", oneShot, shortlist = 20, k = 10, probe = 2)),
      "bootstrap serving != one-shot ivfPqSearchIndexed")
    // merge 1: update 1..5 (perturbed vectors), insert 41..45,
    // delete 6..8 — the refresh encodes ONLY the diff
    merge(batch(1L to 5L, ver = 2, perturb = true)
      .unionByName(batch(41L to 45L, ver = 1))
      .unionByName(batch(6L to 8L, ver = 2, del = true)))
    // version-keyed feed ids (round 14): this is store version 2's diff
    assert(refresh() == 2L)
    assert(served == recompute, "post-merge store != re-encode")
    assert(!served.exists(t => Set(6L, 7L, 8L).contains(t._1)),
      "deleted vectors still served")
    // diff-sized claim: the new segment holds 2·5 update rows +
    // 5 inserts + 3 deletes = 18 signed rows, not the 42-vector corpus
    val store = new org.apache.hadoop.fs.Path(s"$idx/codes")
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = graft.sources.Snapshot.resolve(fs, store).get
    val newest = segs.map(_.toString).maxBy(p =>
      p.split("/").last.stripPrefix("d").takeWhile(_.isDigit).toLong)
    assert(spark.read.parquet(newest).count() == 18L,
      "refresh segment is not diff-sized")
    // replay of the same merge: empty feed → no movement
    val vBefore = graft.sources.Snapshot.currentVersion(fs, store).get
    merge(batch(1L to 5L, ver = 2, perturb = true)
      .unionByName(batch(41L to 45L, ver = 1))
      .unionByName(batch(6L to 8L, ver = 2, del = true)))
    refresh()
    assert(served == recompute, "replayed merge moved the store")
    // a ver-only touch (same vectors) telescopes to zero rows but
    // still advances the watermark via a marker-only member
    merge(batch(9L to 12L, ver = 3))
    val upto2 = refresh()
    assert(served == recompute, "no-op vector update moved the codes")
    assert(refresh() == upto2, "watermark did not advance past the no-op")
    // merge again: auto-compaction at compactAt=4 folds to one member
    merge(batch(20L to 22L, ver = 4, perturb = true))
    refresh()
    assert(graft.sources.Snapshot.resolve(fs, store).get.length == 1,
      "auto-compaction did not fold the segments")
    assert(served == recompute, "compaction changed the served codes")
    // search equality vs an ADC reference over the re-encoded corpus,
    // and the probe/#cells claim stays literal partition pruning
    val probed = Similarity.ivfAssign(
        q.select(lit(0L).as("vec_id"), col("qv").as("embedding")),
        "vec_id", "embedding", centStored, probe = 2)
      .collect().map(_.get(1)).toSeq
    val refCodes = Similarity.encodeCodes(corpusNow, cbStored, centStored,
        "vec_id", "embedding", 4, 16)
      .where(col("clabel").isin(probed: _*))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("i", "code")))
    val refTop = top(Similarity.pqServe(refCodes,
      Similarity.pqQueryTable(q, cbStored, 4, 16), corpusNow, q,
      "vec_id", "embedding", 20, 10))
    assert(top(IncrementalIvfPq.search(corpusNow, q, "vec_id",
      "embedding", idx, shortlist = 20, k = 10, probe = 2)) == refTop,
      "incremental serving != ADC reference after maintenance")
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sparkPlan, not executedPlan: the AQE wrapper hides its inner
    val prunedPlan = IncrementalIvfPq.readCodes(spark, idx, Some(probed))
      .queryExecution.sparkPlan
    val scans = prunedPlan.collect {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty => f
    }
    assert(scans.nonEmpty, "probed codes read carries no PartitionFilters")
    scans.foreach { f =>
      val files = f.selectedPartitions.toPartitionArray
        .map(_.urlEncodedPath).toSeq
      assert(files.forall(p => probed.exists(c => p.contains(s"clabel=$c"))),
        s"probed read selected unprobed cell files: $files")
    }
    val nCells = IncrementalIvfPq.readCodes(spark, idx)
      .select("clabel").distinct().count()
    assert(probed.size < nCells, "fixture degenerate: probe covers all cells")
    // geometry guard: no meta → refuse to serve
    fs.delete(new org.apache.hadoop.fs.Path(idx, "_ivfpq_meta"), false)
    val ex = intercept[IllegalArgumentException] {
      IncrementalIvfPq.search(corpusNow, q, "vec_id", "embedding", idx,
        shortlist = 20, k = 10, probe = 2)
    }
    assert(ex.getMessage.contains("_ivfpq_meta"))
  }

  test("pq codebook: Lloyd refinement does not increase the quantization objective") {
    // the property a Lloyd step actually guarantees — mean squared
    // distance to the nearest codebook entry is non-increasing (up to
    // the r6e grid + float-mean noise). Recall is a DIFFERENT
    // objective and measurably moves either way on a single query
    // (sf0.01: shortlist hits 4 → 3 after one step) — which is
    // exactly why q189's calibration key exists.
    import graft.operators.Similarity
    val corpus = Tables.embeddings(spark, sf).where(col("vec_id") =!= 0)
    val e0 = Similarity.pqQuantError(corpus, "vec_id", "embedding",
      dim = 64, m = 4, kc = 16, iters = 0)
    val e1 = Similarity.pqQuantError(corpus, "vec_id", "embedding",
      dim = 64, m = 4, kc = 16, iters = 1)
    val e2 = Similarity.pqQuantError(corpus, "vec_id", "embedding",
      dim = 64, m = 4, kc = 16, iters = 2)
    assert(e1 <= e0 + 1e-6, s"Lloyd step 1 raised the objective: $e0 -> $e1")
    assert(e2 <= e1 + 1e-6, s"Lloyd step 2 raised the objective: $e1 -> $e2")
    assert(e1 < e0, s"refinement did nothing on the fixture: $e0 -> $e1")
  }

  test("pq index: persisted codes serve identically to the in-memory path; meta guards the store") {
    import graft.operators.Similarity
    val em = Tables.embeddings(spark, sf)
    val q = em.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val corpus = em.where(col("vec_id") =!= 0)
    val path = TestSpark.tmpDir("pq-idx") + "/idx"
    Similarity.writePqIndex(corpus, "vec_id", "embedding",
      dim = 64, m = 4, kc = 16, path = path)
    val direct = Similarity.pqTopK(corpus, q, "vec_id", "embedding",
        dim = 64, m = 4, kc = 16, shortlist = 20, k = 10).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("adc"), r.getAs[Double]("cos_sim"))).toSeq
    val served = Similarity.pqSearchIndexed(corpus, q, "vec_id", "embedding",
        path, shortlist = 20, k = 10).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("adc"), r.getAs[Double]("cos_sim"))).toSeq
    assert(served == direct, s"served=$served direct=$direct")
    // the stored artifact really is the m-codes-per-vector table
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.count() == corpus.count())
    assert(codes.select(expr("max(size(codes))")).head().getInt(0) == 4)
    // geometry guard: a store without its meta must refuse to serve
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_pq_meta"), false)
    intercept[IllegalArgumentException] {
      Similarity.pqSearchIndexed(corpus, q, "vec_id", "embedding",
        path, shortlist = 20, k = 10)
    }
  }

  test("ivfSearchIndexed on a prebuilt index equals ivfSearchBatch") {
    import graft.operators.Similarity
    val em = Tables.embeddings(spark, sf)
    val cent = Similarity.ivfCentroids(em, "label", "embedding")
    val queries = em.where(col("vec_id").isin(1L, 7L, 42L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("nb_id"), r.getAs[Double]("cos_sim"))).toSet
    val direct = rows(Similarity.ivfSearchBatch(
      em, "vec_id", "embedding", cent, queries, k = 3, probe = 2))
    val index = Similarity.buildIvfIndex(em, "vec_id", "embedding", cent)
    try {
      val indexed = rows(Similarity.ivfSearchIndexed(
        index, "vec_id", "embedding", cent, queries, k = 3, probe = 2))
      assert(indexed == direct)
      // second batch against the SAME pinned index — still consistent
      val q2 = em.where(col("vec_id").isin(3L, 99L))
      val indexed2 = rows(Similarity.ivfSearchIndexed(
        index, "vec_id", "embedding", cent, q2, k = 3, probe = 2))
      val direct2 = rows(Similarity.ivfSearchBatch(
        em, "vec_id", "embedding", cent, q2, k = 3, probe = 2))
      assert(indexed2 == direct2)
      // persisted + reloaded index (the across-session form): results
      // identical through the parquet round-trip
      val idxPath = TestSpark.tmpDir("ivf-idx") + "/idx"
      Similarity.writeIvfIndex(index, idxPath)
      val reloaded = Similarity.readIvfIndex(spark, idxPath)
      try {
        val viaDisk = rows(Similarity.ivfSearchIndexed(
          reloaded, "vec_id", "embedding", cent, queries, k = 3, probe = 2))
        assert(viaDisk == direct, "reloaded index diverged from in-memory")
      } finally reloaded.unpersist()
    } finally index.unpersist()
  }

  test("mmrRerank: brute-force parity, diversity penalty, short corpus") {
    import graft.operators.Similarity
    // tiny corpus engineered so pure-relevance and MMR DISAGREE: c1/c2
    // are near-duplicates both close to the query; c3 is farther from
    // q but orthogonal to c1 — relevance ranks (c1, c2), MMR must pick
    // (c1, c3) at rank 2 because c2's similarity penalty dominates
    val q = Seq((0L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("qid", "qv")
    val corpus = Seq(
      (10L, Array(0.9f, 0.1f, 0.0f)),   // c1: rel ~0.994
      (11L, Array(0.9f, 0.11f, 0.0f)),  // c2: near-dup of c1, rel ~0.993
      (12L, Array(0.5f, 0.0f, 0.86f)))  // c3: rel ~0.5, orthogonal-ish
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(corpus, q, "vec_id", "embedding",
        "qid", "qv", topN = 10, k = 2, lambda = 0.5)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id")))
      .sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(10L, 12L),
      s"MMR did not diversify: ${out.toSeq}")
    // fewer candidates than k: the walk emits what exists, in order
    val short = Similarity.mmrRerank(corpus, q, "vec_id", "embedding",
        "qid", "qv", topN = 10, k = 5, lambda = 0.7)
      .collect()
    assert(short.length == 3, s"short corpus emitted ${short.length} rows")
    assert(short.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3))
  }

  test("q28 approx distinct within 5% of exact") {
    val approx = SparkEntry.queries("q28_agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n < 0.05,
        s"$k: approx=${approx(k)} exact=$n")
    }
  }

  test("q149 unioned daily HLL sketches within 5% of exact weekly distincts") {
    val approx = SparkEntry.queries("q149_hll_union")(spark, sf)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(date_trunc("week", to_date(col("ts"))).cast("date").as("week"))
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet, s"weeks differ: $approx vs $exact")
    exact.foreach { case (w, n) =>
      assert(math.abs(approx(w) - n).toDouble / n < 0.05,
        s"$w: approx=${approx(w)} exact=$n")
    }
    // mergeability: the stored-sketch union equals sketching each week
    // directly over raw events — the estimate must not depend on which
    // pre-aggregation granularity was persisted
    val direct = Tables.events(spark, sf)
      .groupBy(date_trunc("week", to_date(col("ts"))).cast("date").as("week"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(approx == direct,
      s"daily-sketch union diverged from direct weekly sketch: $approx vs $direct")
  }

  test("q157 histogram quantile estimates land within one bin of the target order stat") {
    // the histogram guarantee: the estimate lies in the SAME bin as
    // the order statistic at rank ⌈p·n⌉, so |est − x_(⌈p·n⌉)| ≤ the
    // 1000-wide bin. (NOT within a bin of the interpolated percentile:
    // with sparse months, adjacent order stats sit many bins apart and
    // interpolation between them leaves every histogram's reach.)
    val got = SparkEntry.queries("q157_histogram_quantiles")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val sorted = Tables.orders(spark, sf)
      .groupBy(date_trunc("month", col("o_orderdate"))
        .cast("date").cast("string").as("month"))
      .agg(sort_array(collect_list("o_totalprice")).as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet == sorted.keySet)
    def orderStat(vs: Seq[Double], p: Double): Double =
      vs(math.ceil(p * vs.size).toInt - 1)
    sorted.foreach { case (m, vs) =>
      val (g25, g50, g95) = got(m)
      Seq((g25, 0.25), (g50, 0.50), (g95, 0.95)).foreach { case (est, p) =>
        val x = orderStat(vs, p)
        assert(math.abs(est - x) <= 1000.001,
          s"$m p$p: est $est vs order stat $x (n=${vs.size})")
      }
    }
  }

  test("Lake.mergeInto: update/insert/delete, stale-loss, idempotent replay, crash recovery") {
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("merge")
    val dir = s"$base/t"
    def df(rows: (Long, String, Long, Boolean)*) =
      rows.toDF("k", "v", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")))
    def read = graft.sources.Lake.readStore(spark, dir)
    def state = read.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"), r.getAs[Long]("ver"))).toSet
    // first merge: all inserts
    merge(df((1L, "a", 1L, false), (2L, "b", 1L, false)))
    assert(state == Set((1L, "a", 1L), (2L, "b", 1L)))
    // matched update + unmatched insert + matched delete in one batch
    val batch = df((1L, "a2", 2L, false), (3L, "c", 2L, false), (2L, "", 2L, true))
    merge(batch)
    assert(state == Set((1L, "a2", 2L), (3L, "c", 2L)))
    // the tombstone is PHYSICAL: no row for key 2 survives in the
    // committed snapshot (older versions retain it only until vacuum)
    assert(read.where(col("k") === 2L).isEmpty)
    // replaying the same batch is a no-op (CDC replay rule)
    merge(batch)
    assert(state == Set((1L, "a2", 2L), (3L, "c", 2L)))
    // a STALE update (older ver than stored) loses
    merge(df((1L, "old", 1L, false)))
    assert(state == Set((1L, "a2", 2L), (3L, "c", 2L)))
    // crash sims on the snapshot protocol: a crashed attempt strands
    // (a) a hidden half-written stage dir, or (b) an unhidden member
    // that never got the pointer swap — both invisible to readers,
    // both reclaimed by the next merge
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(dir)
    val next = graft.sources.Snapshot.currentVersion(fs, target).get + 1
    val strand1 = graft.sources.Snapshot.stagePath(target, s"d$next-merge")
    df((99L, "junk", 99L, false)).write.parquet(strand1.toString)
    // the crash is OLD (round 14: strand reclamation is age-gated so
    // a LIVE concurrent writer's staging is never swept — a real
    // crash strand has a stale mtime; round 15: the age is
    // SUBTREE-DEEP, so the whole tree must read old)
    backdateTree(fs, strand1)
    assert(state == Set((1L, "a2", 2L), (3L, "c", 2L)),
      "a hidden stage strand leaked into readers")
    merge(df((4L, "d", 3L, false)))
    assert(state == Set((1L, "a2", 2L), (3L, "c", 2L), (4L, "d", 3L)))
    assert(!state.exists(_._1 == 99L), "stranded stage data survived the retry")
    val next2 = graft.sources.Snapshot.currentVersion(fs, target).get + 1
    // fabricate the unhidden member OUTSIDE the store and rename it in
    // (a raw datasource write into a managed path is refused by
    // ManagedPathGuard, round 14 — which is the point; a real crashed
    // commit leaves this artifact via the protocol's own rename)
    df((98L, "junk", 98L, false)).write.parquet(s"$base/fab-member")
    fs.rename(new Path(s"$base/fab-member"),
      new Path(target, s"d$next2-merge"))
    assert(state == Set((1L, "a2", 2L), (3L, "c", 2L), (4L, "d", 3L)),
      "an uncommitted unhidden member leaked into readers")
    merge(df((5L, "e", 3L, false)))
    assert(state ==
      Set((1L, "a2", 2L), (3L, "c", 2L), (4L, "d", 3L), (5L, "e", 3L)))
    assert(!state.exists(_._1 == 98L), "uncommitted member survived the retry")
    assert(!fs.listStatus(target).exists(_.getPath.getName.startsWith("_stage.")),
      "stage strands left behind after vacuum")
  }

  test("Lake.mergeInto change data feed: ops, idempotent replay, crash publish rules") {
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("merge-cdf")
    val dir = s"$base/t"
    val cdf = s"$base/changes"
    def df(rows: (Long, String, Long, Boolean)*) =
      rows.toDF("k", "v", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")), changeDir = Some(cdf))
    def feed = spark.read.option("basePath", cdf).parquet(s"$cdf/merge=*")
      .collect().map(r => (r.getAs[Number]("merge").longValue,
        r.getAs[Long]("k"), r.getAs[String]("_op"), r.getAs[String]("v"))).toSet
    // first merge: everything is an insert, published as merge=1 —
    // feed ids are VERSION-keyed (round 14), so id 1 IS snapshot v1
    merge(df((1L, "a", 1L, false), (2L, "b", 1L, false)))
    assert(feed == Set((1L, 1L, "insert", "a"), (1L, 2L, "insert", "b")))
    // update + insert + delete in one batch → merge=2 with 3 ops;
    // the delete row is key-only (post-image columns null)
    val batch = df((1L, "a2", 2L, false), (3L, "c", 2L, false), (2L, "", 2L, true))
    merge(batch)
    assert(feed == Set(
      (1L, 1L, "insert", "a"), (1L, 2L, "insert", "b"),
      (2L, 1L, "update", "a2"), (2L, 3L, "insert", "c"),
      (2L, 2L, "delete", null)))
    // replaying the batch merges to the identical state (version 3) →
    // EMPTY feed increment (no merge=3 appears — a GAP in the ids,
    // which every consumer tolerates by reading ids > watermark)
    merge(batch)
    assert(feed.map(_._1).max == 2L, s"replay published a change set: $feed")
    // crash publish rules (version-stamped staging): a stranded
    // `_cdf_v<k>` whose merge COMMITTED (k ≤ current version)
    // publishes on the next feed-aware call...
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(dir)
    def cur = graft.sources.Snapshot.currentVersion(fs, target).get
    df((9L, "z", 9L, false)).write.parquet(s"$dir/_cdf_v$cur")
    merge(df((4L, "d", 3L, false)))
    assert(feed.exists(r => r._2 == 9L), "stranded landed-merge feed was not published")
    // ...but a strand stamped ABOVE the committed version belongs to a
    // merge that never landed — discarded (once AGED past the claim
    // grace window: fresh above-current staging may be a LIVE
    // concurrent writer's, round 14), never published
    df((8L, "y", 8L, false)).write.parquet(s"$dir/_cdf_v${cur + 7}")
    backdateTree(fs, new Path(s"$dir/_cdf_v${cur + 7}"))
    merge(df((5L, "e", 4L, false)))
    assert(!feed.exists(r => r._2 == 8L), "stale feed from an uncommitted merge leaked")
    assert(graft.sources.Lake.readStore(spark, dir)
      .where(col("k") === 5L).count() == 1)
    // a merge WITHOUT changeDir must reconcile a strand too (round-7
    // ADVICE): if it left the strand behind, a LATER changeDir call
    // would see k ≤ current and publish the stale diff
    df((7L, "w", 7L, false)).write.parquet(s"$dir/_cdf_v$cur")
    // round 15: the feed-off (None, Some(c)) arm waits the claim
    // grace before reclaiming a committed strand (the owner may be
    // between commit and publish) — only an AGED strand is swept
    backdateTree(fs, new Path(s"$dir/_cdf_v$cur"))
    graft.sources.Lake.mergeInto(spark, dir, df((6L, "f", 5L, false)),
      Seq("k"), Seq("ver"), Some(col("is_delete")), changeDir = None)
    assert(!fs.listStatus(target).exists(_.getPath.getName.startsWith("_cdf_v")),
      "feed-less merge left the stale strand for a later call to publish")
    merge(df((6L, "f2", 6L, false)))
    assert(!feed.exists(r => r._2 == 7L), "stale strand leaked into the feed")
    // a NULL in an orderCols value must not drop the change row from
    // the feed (round-7 ADVICE: =!= evaluated to NULL there; <=> is
    // total) — the merge applies it AND the feed reports it
    merge(df((20L, "n0", 1L, false))
      .withColumn("ver", when(col("k") === 20L, lit(null).cast("long"))))
    merge(df((20L, "n1", 2L, false)))
    assert(feed.exists(r => r._2 == 20L && r._3 == "update" && r._4 == "n1"),
      s"null-versioned row's update was dropped from the feed: $feed")
  }

  test("IncrementalView: exact maintenance from the pre-image change feed") {
    import org.apache.hadoop.fs.Path
    import graft.examples.IncrementalView
    val base = TestSpark.tmpDir("inc-view")
    val dir = s"$base/t"; val cdf = s"$base/changes"; val viewDir = s"$base/view"
    def df(rows: (Long, String, Long, Long, Boolean)*) =
      rows.toDF("k", "g", "x", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    def refresh(): Long =
      IncrementalView.refresh(spark, viewDir, cdf, Seq("g"), Seq("x"))
    def viewMap = IncrementalView.read(spark, viewDir).collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_x"))).toMap
    // the ground truth the view must always equal: a full recompute
    // over the merged base store
    def recompute = graft.sources.Lake.readStore(spark, dir)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("sx"))
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sx"))).toMap
    val view = new Path(viewDir)
    val fs = view.getFileSystem(spark.sparkContext.hadoopConfiguration)

    merge(df((1L, "a", 10L, 1L, false), (2L, "a", 5L, 1L, false),
      (3L, "b", 7L, 1L, false)))
    assert(refresh() == 1L)
    assert(viewMap == Map("a" -> (2L, 15L), "b" -> (1L, 7L)))
    assert(viewMap == recompute)
    // nothing pending: refresh is a no-op (no new view version)
    val v1 = graft.sources.Snapshot.currentVersion(fs, view).get
    assert(refresh() == 1L)
    assert(graft.sources.Snapshot.currentVersion(fs, view).get == v1,
      "an empty refresh committed a new view version")
    // one merge carrying an in-group update (x 5→6), a GROUP
    // MIGRATION (k=3 moves b→c), and a delete (k=1): the view needs
    // pre-images for all three — a post-only feed cannot subtract
    merge(df((2L, "a", 6L, 2L, false), (3L, "c", 7L, 2L, false),
      (1L, "a", 10L, 2L, true)))
    assert(refresh() == 2L)
    assert(viewMap == Map("a" -> (1L, 6L), "c" -> (1L, 7L)),
      s"delta application wrong: $viewMap")
    assert(viewMap == recompute)
    assert(!viewMap.contains("b"), "a zero-count group stayed in the view")
    // a crash-replayed merge publishes an EMPTY feed → the view does
    // not move (exactly-once end-to-end)
    merge(df((2L, "a", 6L, 2L, false), (3L, "c", 7L, 2L, false),
      (1L, "a", 10L, 2L, true)))
    assert(refresh() == 2L)
    assert(viewMap == recompute)
    // crash BEFORE the view commit: a stranded staging dir from a
    // dead refresh is deleted and recomputed — same deltas, same
    // result
    merge(df((4L, "a", 100L, 3L, false)))
    val strandName = graft.sources.Snapshot.stageDirName(fs, view, "view")
    df((99L, "zz", 0L, 0L, false)).write.parquet(
      graft.sources.Snapshot.stagePath(view, strandName).toString)
    assert(refresh() == 4L)
    assert(viewMap == Map("a" -> (2L, 106L), "c" -> (1L, 7L)))
    assert(viewMap == recompute)
    // a NULL group value must meet its own delta row on refresh (the
    // view join is null-safe), not fork a duplicate group per refresh
    merge(df((5L, null, 3L, 1L, false)))
    assert(refresh() == 5L)
    assert(viewMap == recompute)
    merge(df((5L, null, 4L, 2L, false)))
    assert(refresh() == 6L)
    assert(viewMap(null) == ((1L, 4L)), s"null group forked: $viewMap")
    assert(viewMap == recompute)
    // feed retention: consumed entries sweep, the highest-id entry
    // survives (the id watermark), and the VERSION-keyed id sequence
    // (gap at the replayed empty-diff version 3) continues past it
    val fsCdf = new org.apache.hadoop.fs.Path(cdf)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def feedIds = fsCdf.listStatus(new org.apache.hadoop.fs.Path(cdf))
      .map(_.getPath.getName).filter(_.startsWith("merge="))
      .map(_.stripPrefix("merge=").toLong).sorted.toSeq
    assert(feedIds == Seq(1L, 2L, 4L, 5L, 6L))
    assert(IncrementalView.vacuumConsumedFeed(spark, viewDir, cdf) == 4)
    assert(feedIds == Seq(6L), s"retention left: $feedIds")
    merge(df((6L, "a", 1L, 1L, false)))
    assert(feedIds == Seq(6L, 7L), "id sequence reset after the sweep")
    assert(refresh() == 7L)
    assert(viewMap == recompute)
    // a feed published WITHOUT pre-images fails loudly at the first
    // non-insert op (a post-only update cannot be subtracted)
    val dir2 = s"$base/t2"; val cdf2 = s"$base/changes2"
    def merge2(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir2, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")), changeDir = Some(cdf2))
    merge2(df((1L, "a", 1L, 1L, false)))
    merge2(df((1L, "a", 2L, 2L, false)))
    intercept[Exception] {
      IncrementalView.refresh(spark, s"$base/view2", cdf2, Seq("g"), Seq("x"))
    }
  }

  test("IncrementalView: MAX columns grow from the feed, shrink via base-assisted recompute") {
    import graft.examples.IncrementalView
    val base = TestSpark.tmpDir("inc-max")
    val dir = s"$base/t"; val cdf = s"$base/changes"; val viewDir = s"$base/view"
    def df(rows: (Long, String, Long, Long, Boolean)*) =
      rows.toDF("k", "g", "x", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    def refresh(): Long = IncrementalView.refresh(spark, viewDir, cdf,
      Seq("g"), Seq("x"), maxCols = Seq("x"), minCols = Seq("x"),
      baseDir = Some(dir))
    def viewMap = IncrementalView.read(spark, viewDir).collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_x"),
          r.getAs[Long]("max_x"), r.getAs[Long]("min_x"))).toMap
    def recompute = graft.sources.Lake.readStore(spark, dir)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"),
        max("x").as("m"), min("x").as("mn"))
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("s"), r.getAs[Long]("m"),
          r.getAs[Long]("mn"))).toMap
    merge(df((1L, "a", 10L, 1L, false), (2L, "a", 5L, 1L, false),
      (3L, "b", 7L, 1L, false)))
    refresh()
    assert(viewMap == Map("a" -> (2L, 15L, 10L, 5L), "b" -> (1L, 7L, 7L, 7L)))
    assert(viewMap == recompute)
    // grow: a non-max row rises above the champion — feed-only fold
    // (for MIN this same update is a SHRINK of the 5-champion:
    // base-assisted)
    merge(df((2L, "a", 30L, 2L, false)))
    refresh()
    assert(viewMap("a") == ((2L, 40L, 30L, 10L)))
    assert(viewMap == recompute)
    // shrink: DELETE the max champion — base-assisted recompute
    merge(df((2L, "a", 30L, 3L, true)))
    refresh()
    assert(viewMap("a") == ((1L, 10L, 10L, 10L)), s"shrink mis-folded: $viewMap")
    assert(viewMap == recompute)
    // shrink via UPDATE-DOWN of the max champion — simultaneously a
    // min GROW (2 undercuts every survivor)
    merge(df((1L, "a", 2L, 4L, false), (5L, "a", 8L, 1L, false)))
    refresh()
    assert(viewMap("a") == ((2L, 10L, 8L, 2L)), s"update-down mis-folded: $viewMap")
    assert(viewMap == recompute)
    // the insert-then-reduce hazard across ENTRIES: key 6 arrives at
    // 50 (entry k), then updates to 1 (entry k+1) BEFORE any refresh —
    // per-entry folding must not keep the phantom 50
    merge(df((6L, "b", 50L, 1L, false)))
    merge(df((6L, "b", 1L, 2L, false)))
    refresh()
    assert(viewMap("b") == ((2L, 8L, 7L, 1L)), s"phantom max survived: $viewMap")
    assert(viewMap == recompute)
    // champion migrates to another group: both sides settle right
    merge(df((5L, "b", 8L, 2L, false)))
    refresh()
    assert(viewMap == recompute)
    assert(viewMap("a") == ((1L, 2L, 2L, 2L)) &&
      viewMap("b") == ((3L, 16L, 8L, 1L)))
  }

  test("IncrementalView: randomized merge sequences equal full recompute (seeded)") {
    import graft.examples.IncrementalView
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val base = TestSpark.tmpDir(s"inc-fuzz-$seed")
      val dir = s"$base/t"; val cdf = s"$base/changes"; val viewDir = s"$base/view"
      val groups = Array("a", "b", "c", null)
      var ver = 0L
      for (_ <- 1 to 4) {
        ver += 1
        // random batch: keys 0..9, random group/value, ~20% tombstones
        val rows = (0 until 6).map { _ =>
          (rnd.nextInt(10).toLong, groups(rnd.nextInt(groups.length)),
            rnd.nextInt(100).toLong, ver, rnd.nextInt(5) == 0)
        }.distinct
        // one row per key per batch (same-version ties are undefined)
        val batch = rows.groupBy(_._1).map(_._2.head).toSeq
          .toDF("k", "g", "x", "ver", "is_delete")
        graft.sources.Lake.mergeInto(spark, dir, batch,
          Seq("k"), Seq("ver"), Some(col("is_delete")),
          changeDir = Some(cdf), cdfPreImages = true)
        IncrementalView.refresh(spark, viewDir, cdf, Seq("g"), Seq("x"),
          m2Cols = Seq("x"), maxCols = Seq("x"), minCols = Seq("x"),
          baseDir = Some(dir))
        val viewMap = IncrementalView.read(spark, viewDir).collect()
          .map(r => r.getAs[String]("g") ->
            (r.getAs[Long]("n"), r.getAs[Long]("sum_x"),
              r.getAs[Long]("sumsq_x"),
              r.getAs[Long]("max_x"), r.getAs[Long]("min_x"))).toMap
        val want = graft.sources.Lake.readStore(spark, dir)
          .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"),
            sum(col("x") * col("x")).as("sq"),
            max("x").as("m"), min("x").as("mn"))
          .collect().map(r => r.getAs[String]("g") ->
            (r.getAs[Long]("n"), r.getAs[Long]("s"), r.getAs[Long]("sq"),
              r.getAs[Long]("m"), r.getAs[Long]("mn"))).toMap
        assert(viewMap == want,
          s"seed=$seed ver=$ver: view $viewMap != recompute $want")
      }
    }
  }

  test("IncrementalView: second-moment columns derive avg/stddev with zero base reads") {
    import graft.examples.IncrementalView
    val base = TestSpark.tmpDir("inc-m2")
    val dir = s"$base/t"; val cdf = s"$base/changes"
    val viewDir = s"$base/views/p=0"
    def df(rows: (Long, String, Long, Long, Boolean)*) =
      rows.toDF("k", "g", "x", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    def refresh(): Long = IncrementalView.refresh(spark, viewDir, cdf,
      Seq("g"), Seq("x"), m2Cols = Seq("x"))
    def triple = IncrementalView.read(spark, viewDir).collect()
      .map(r => r.getAs[String]("g") -> (r.getAs[Long]("n"),
        r.getAs[Long]("sum_x"), r.getAs[Long]("sumsq_x"))).toMap
    def recompute = graft.sources.Lake.readStore(spark, dir)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("sq"))
      .collect().map(r => r.getAs[String]("g") -> (r.getAs[Long]("n"),
        r.getAs[Long]("s"), r.getAs[Long]("sq"))).toMap

    merge(df((1L, "a", 3L, 1L, false), (2L, "a", 5L, 1L, false),
      (3L, "b", 7L, 1L, false)))
    // version-keyed feed ids (round 14): first merge = version 1
    assert(refresh() == 1L)
    assert(triple == Map("a" -> (2L, 8L, 34L), "b" -> (1L, 7L, 49L)))
    assert(triple == recompute)
    // update (3→4: squares net −9+16), group migration (k=2 a→b),
    // delete (k=3): every delta subtracts its own square — no shrink
    // case, no base read, ever
    merge(df((1L, "a", 4L, 2L, false), (2L, "b", 5L, 2L, false),
      (3L, "b", 7L, 2L, true)))
    assert(refresh() == 2L)
    assert(triple == Map("a" -> (1L, 4L, 16L), "b" -> (1L, 5L, 25L)))
    assert(triple == recompute)
    // derived stats: the documented moment formula, NULL spread at n=1
    merge(df((4L, "a", 10L, 1L, false)))
    assert(refresh() == 3L)
    val stats = IncrementalView.readStats(spark, viewDir, Seq("x"))
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Double]("avg_x"),
          if (r.isNullAt(r.fieldIndex("var_x"))) None
          else Some(r.getAs[Double]("var_x")))).toMap
    assert(stats("a")._1 == 7.0)                       // (4+10)/2
    assert(math.abs(stats("a")._2.get - 18.0) < 1e-12) // (116−98)/1
    assert(stats("b") == ((5.0, None)), "n=1 spread must be NULL")
    // growing a NEW aggregate column on an existing view is loud (its
    // history is not in the feed — the view must be rebuilt)
    merge(df((7L, "a", 2L, 1L, false)))
    val exg = intercept[IllegalArgumentException] {
      IncrementalView.refresh(spark, viewDir, cdf,
        Seq("g"), Seq("x"), m2Cols = Seq("x"), maxCols = Seq("x"),
        baseDir = Some(dir))
    }
    assert(exg.getMessage.contains("max_x"))
    IncrementalView.refresh(spark, viewDir, cdf,
      Seq("g"), Seq("x"), m2Cols = Seq("x"))
    assert(triple == recompute)
    // the same triple survives the partitioned re-aggregate path
    val whole = IncrementalView
      .readPartitioned(spark, s"$base/views", Seq("g"), Seq("x"),
        m2Cols = Seq("x"))
    assert(whole.columns.toSet == Set("g", "n", "sum_x", "sumsq_x"))
    val wm = whole.collect().map(r => r.getAs[String]("g") ->
      (r.getAs[Long]("n"), r.getAs[Long]("sum_x"),
        r.getAs[Long]("sumsq_x"))).toMap
    assert(wm == triple)
  }

  test("IncrementalView: bootstrap seeds a new consumer from the base at the feed watermark") {
    import graft.examples.IncrementalView
    val base = TestSpark.tmpDir("inc-boot")
    val dir = s"$base/t"; val cdf = s"$base/changes"; val viewDir = s"$base/view"
    def df(rows: (Long, String, Long, Long, Boolean)*) =
      rows.toDF("k", "g", "x", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    def refresh(): Long = IncrementalView.refresh(spark, viewDir, cdf,
      Seq("g"), Seq("x"), m2Cols = Seq("x"), maxCols = Seq("x"),
      baseDir = Some(dir))
    def viewMap = IncrementalView.read(spark, viewDir).collect()
      .map(r => r.getAs[String]("g") -> (r.getAs[Long]("n"),
        r.getAs[Long]("sum_x"), r.getAs[Long]("sumsq_x"),
        r.getAs[Long]("max_x"))).toMap
    def recompute = graft.sources.Lake.readStore(spark, dir)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("sq"), max("x").as("m"))
      .collect().map(r => r.getAs[String]("g") -> (r.getAs[Long]("n"),
        r.getAs[Long]("s"), r.getAs[Long]("sq"), r.getAs[Long]("m"))).toMap
    merge(df((1L, "a", 3L, 1L, false), (2L, "b", 5L, 1L, false)))
    merge(df((3L, "a", 7L, 1L, false)))
    // retention already swept the first feed entry — the history a
    // late-joining consumer can NEVER replay; the base store is its
    // only summary
    val fs = new org.apache.hadoop.fs.Path(cdf)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$cdf/merge=1"), true)
    assert(IncrementalView.bootstrap(spark, viewDir, dir, cdf,
      Seq("g"), Seq("x"), m2Cols = Seq("x"), maxCols = Seq("x")) == 2L)
    assert(viewMap == Map("a" -> (2L, 10L, 58L, 7L), "b" -> (1L, 5L, 25L, 5L)))
    assert(viewMap == recompute)
    // nothing pending at the bootstrap watermark
    assert(refresh() == 2L)
    assert(viewMap == recompute)
    // incremental from here on: update, migration, delete, max-shrink
    // (version-keyed ids: this is store version 3's feed entry)
    merge(df((3L, "a", 1L, 2L, false), (2L, "a", 5L, 2L, false),
      (1L, "a", 3L, 2L, true)))
    assert(refresh() == 3L)
    assert(viewMap == recompute)
    // a second bootstrap refuses to clobber the live view
    intercept[IllegalArgumentException] {
      IncrementalView.bootstrap(spark, viewDir, dir, cdf, Seq("g"), Seq("x"))
    }
  }

  test("IncrementalView: derived time buckets maintain a windowed view incrementally") {
    import graft.examples.IncrementalView
    val base = TestSpark.tmpDir("inc-bucket")
    val dir = s"$base/t"; val cdf = s"$base/changes"; val viewDir = s"$base/view"
    def df(rows: (Long, String, Long, Long, Boolean)*) =
      rows.toDF("k", "day", "x", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    // bucket = month of an ISO day string — derived on every feed row
    val month = substring(col("day"), 1, 7)
    def refresh(): Long = IncrementalView.refresh(spark, viewDir, cdf,
      Seq("month"), Seq("x"), maxCols = Seq("x"), baseDir = Some(dir),
      derived = Seq("month" -> month))
    def viewMap = IncrementalView.read(spark, viewDir).collect()
      .map(r => r.getAs[String]("month") -> (r.getAs[Long]("n"),
        r.getAs[Long]("sum_x"), r.getAs[Long]("max_x"))).toMap
    def recompute = graft.sources.Lake.readStore(spark, dir)
      .withColumn("month", month)
      .groupBy("month").agg(count(lit(1)).as("n"), sum("x").as("s"),
        max("x").as("m"))
      .collect().map(r => r.getAs[String]("month") -> (r.getAs[Long]("n"),
        r.getAs[Long]("s"), r.getAs[Long]("m"))).toMap

    merge(df((1L, "2026-01-03", 10L, 1L, false),
      (2L, "2026-01-20", 5L, 1L, false),
      (3L, "2026-02-01", 7L, 1L, false)))
    // version-keyed feed ids (round 14): first merge = version 1
    assert(refresh() == 1L)
    assert(viewMap == Map("2026-01" -> (2L, 15L, 10L),
      "2026-02" -> (1L, 7L, 7L)))
    assert(viewMap == recompute)
    // a backdated correction CROSSES the month boundary (k=3 moves
    // Feb→Jan): plain group migration on the derived bucket — the Feb
    // bucket empties out of the view, Jan gains
    merge(df((3L, "2026-01-31", 7L, 2L, false)))
    assert(refresh() == 2L)
    assert(viewMap == Map("2026-01" -> (3L, 22L, 10L)))
    assert(viewMap == recompute)
    // max-shrink inside a bucket: the champion (k=1, x=10) leaves —
    // the group-pruned base recompute runs WITH the derivation applied
    merge(df((1L, "2026-01-03", 10L, 3L, true)))
    assert(refresh() == 3L)
    assert(viewMap == Map("2026-01" -> (2L, 12L, 7L)))
    assert(viewMap == recompute)
  }

  test("IncrementalView: multi-consumer watermark registry gates the feed sweep") {
    import graft.examples.IncrementalView
    val base = TestSpark.tmpDir("inc-consumers")
    val dir = s"$base/t"; val cdf = s"$base/changes"; val viewDir = s"$base/view"
    def df(rows: (Long, String, Long, Long, Boolean)*) =
      rows.toDF("k", "g", "x", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    val fs = new org.apache.hadoop.fs.Path(cdf)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def feedIds = fs.listStatus(new org.apache.hadoop.fs.Path(cdf))
      .map(_.getPath.getName).filter(_.startsWith("merge="))
      .map(_.stripPrefix("merge=").toLong).sorted.toSeq
    (1 to 4).foreach(v => merge(df((v.toLong, "a", v.toLong, 1L, false))))
    // version-keyed feed ids (round 14): merges 1..4 = versions 1..4
    assert(feedIds == Seq(1L, 2L, 3L, 4L))
    // no registered consumers: unknown lag is infinite — sweep nothing
    assert(IncrementalView.vacuumFeedMinWatermark(spark, cdf) == 0)
    // the view consumer catches up fully; a second consumer registers
    // having applied NOTHING (-1) and holds the floor down
    IncrementalView.refresh(spark, viewDir, cdf, Seq("g"), Seq("x"))
    IncrementalView.recordViewConsumer(spark, cdf, "view", viewDir)
    IncrementalView.recordViewConsumer(spark, cdf, "audit", s"$base/no-view-yet")
    assert(IncrementalView.consumerWatermarks(spark, cdf) ==
      Map("view" -> 4L, "audit" -> -1L))
    assert(IncrementalView.vacuumFeedMinWatermark(spark, cdf) == 0,
      "swept entries a registered laggard has not applied")
    // the laggard advances partway: only the fully-consumed prefix goes
    IncrementalView.recordConsumer(spark, cdf, "audit", 1L)
    assert(IncrementalView.vacuumFeedMinWatermark(spark, cdf) == 1)
    assert(feedIds == Seq(2L, 3L, 4L))
    // fully caught up: everything sweeps EXCEPT the highest id (the
    // feed's on-disk high-water anchor)
    IncrementalView.recordConsumer(spark, cdf, "audit", 3L)
    assert(IncrementalView.vacuumFeedMinWatermark(spark, cdf) == 2)
    assert(feedIds == Seq(4L))
    merge(df((9L, "a", 9L, 1L, false)))
    assert(feedIds == Seq(4L, 5L), "id sequence reset after the sweep")
    // watermarks are monotone (a replayed refresh re-records
    // harmlessly) and stale files sweep to one per consumer
    IncrementalView.recordConsumer(spark, cdf, "audit", 2L)
    assert(IncrementalView.consumerWatermarks(spark, cdf)("audit") == 3L)
    val reg = fs.listStatus(new org.apache.hadoop.fs.Path(s"$cdf/_consumers"))
      .map(_.getPath.getName).filter(_.startsWith("audit.")).toSeq
    assert(reg == Seq("audit.upto_3"), s"stale watermark files: $reg")
    intercept[IllegalArgumentException](
      IncrementalView.recordConsumer(spark, cdf, "bad id!", 0L))
    // partitioned twins: one registry per partition feed, each swept
    // at its own min watermark
    val proot = TestSpark.tmpDir("inc-consumers-part")
    val lake = s"$proot/lake"; val pcdf = s"$proot/changes"
    val pview = s"$proot/view"
    def pdf(rows: (Long, String, Long, Long, String, Boolean)*) =
      rows.toDF("k", "g", "x", "ver", "d", "is_delete")
    def pmerge(b: org.apache.spark.sql.DataFrame): Unit = {
      graft.sources.Lake.mergeIntoPartitioned(spark, lake, b, "d",
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(pcdf), cdfPreImages = true)
      ()
    }
    pmerge(pdf((1L, "a", 1L, 1L, "d1", false), (2L, "a", 1L, 1L, "d2", false)))
    pmerge(pdf((1L, "a", 2L, 2L, "d1", false), (2L, "a", 2L, 2L, "d2", false)))
    IncrementalView.refreshPartitioned(spark, pview, pcdf, "d",
      Seq("g"), Seq("x"))
    IncrementalView.recordViewConsumerPartitioned(spark, pcdf, "view",
      pview, "d")
    // a second consumer that has applied NOTHING registers at -1 in
    // every partition (no view dirs exist under its root yet)
    IncrementalView.recordViewConsumerPartitioned(spark, pcdf, "audit",
      s"$proot/audit-views", "d")
    assert(IncrementalView.vacuumFeedMinWatermarkPartitioned(
      spark, pcdf, "d") == 0, "swept past the lagging consumer")
    // audit catches up to the view's watermarks → each day sweeps its
    // consumed entry 1, retaining the highest id (2)
    IncrementalView.recordViewConsumerPartitioned(spark, pcdf, "audit",
      pview, "d")
    assert(IncrementalView.vacuumFeedMinWatermarkPartitioned(
      spark, pcdf, "d") == 2)
    val pfs = new org.apache.hadoop.fs.Path(pcdf)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("d1", "d2").foreach { day =>
      val ids = pfs.listStatus(new org.apache.hadoop.fs.Path(s"$pcdf/d=$day"))
        .map(_.getPath.getName).filter(_.startsWith("merge="))
        .map(_.stripPrefix("merge=").toLong).sorted.toSeq
      assert(ids == Seq(2L), s"day $day: $ids")
    }
  }

  test("Lake.publishCdfVersioned is idempotent per version: an existing entry absorbs the staged copy, never nests or doubles") {
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("cdf-guard")
    val cd = new Path(s"$base/changes")
    val fs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$base/staged")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$cd/merge=1")
    // version 1's diff is already published: only v1's committer ever
    // publishes at 1, so the staged copy is the SAME diff (a crash
    // strand the reconciler raced) — absorbed, feed untouched
    graft.sources.ChangeFeed.publish(fs,
      new Path(s"$base/staged"), cd.toString, 1L)
    assert(!fs.exists(new Path(s"$base/staged")),
      "absorbed staging must be deleted")
    assert(spark.read.parquet(s"$cd/merge=1").collect()
      .map(_.getAs[String]("v")).toSeq == Seq("b"),
      "existing feed entry must be untouched")
    // an unclaimed version publishes normally
    Seq((3L, "c")).toDF("k", "v").write.parquet(s"$base/staged2")
    graft.sources.ChangeFeed.publish(fs,
      new Path(s"$base/staged2"), cd.toString, 2L)
    assert(fs.exists(new Path(s"$cd/merge=2")))
  }

  test("Lake.mergeIntoPartitioned escapes partition values like Spark's own writer") {
    val base = TestSpark.tmpDir("merge-esc")
    val lake = s"$base/lake"
    // a partition value with characters Spark's Hive layout escapes
    val gnarly = "2024-01-01 00:15:00"
    def merge(rows: (Long, String, Long, String, Boolean)*) =
      graft.sources.Lake.mergeIntoPartitioned(spark, lake,
        rows.toDF("k", "v", "ver", "ingest_date", "is_delete"),
        "ingest_date", Seq("k"), Seq("ver"), Some(col("is_delete")))
    merge((1L, "a", 1L, gnarly, false))
    merge((1L, "a2", 2L, gnarly, false))
    // ONE physical directory, matching what Spark's partitioned writer
    // would have produced, and discovery round-trips the raw value
    val dirs = new java.io.File(lake).listFiles().filter(_.isDirectory)
      .map(_.getName).toSeq
    val expected = "ingest_date=" + org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(gnarly)
    assert(dirs == Seq(expected), s"partition dirs: $dirs")
    // compactDay must escape the SAME way, or it probes a nonexistent
    // raw path and silently skips the compaction (rewrite = a new
    // snapshot version committed in the escaped directory)
    import org.apache.hadoop.fs.Path
    val dayDir = new Path(s"$lake/$expected")
    val fs = dayDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val verBefore = graft.sources.Snapshot.currentVersion(fs, dayDir).get
    graft.sources.Lake.compactDay(spark, lake, gnarly)
    assert(graft.sources.Snapshot.currentVersion(fs, dayDir).get == verBefore + 1,
      "compactDay silently skipped the escaped partition directory")
    // read the partition value back RAW (discovery would otherwise
    // infer this one as a timestamp and reformat it)
    val infKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.get(infKey)
    spark.conf.set(infKey, "false")
    try {
      val rows = graft.sources.Lake.read(spark, lake).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
          r.getAs[String]("ingest_date")))
      assert(rows.toSeq == Seq((1L, "a2", gnarly)),
        s"escaped partition did not round-trip: ${rows.toSeq}")
    } finally spark.conf.set(infKey, prev)
  }

  test("Lake.mergeInto tolerates schema evolution in both directions") {
    val dir = TestSpark.tmpDir("merge-evolve") + "/t"
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")))
    merge(Seq((1L, "a", 1L, false)).toDF("k", "v", "ver", "is_delete"))
    // the upstream gained a column: stored rows read it as null
    merge(Seq((2L, "b", 2L, false, "eu"))
      .toDF("k", "v", "ver", "is_delete", "region"))
    val t1 = graft.sources.Lake.readStore(spark, dir)
    assert(t1.columns.toSet == Set("k", "v", "ver", "is_delete", "region"))
    assert(t1.where(col("k") === 1L).head().getAs[String]("region") == null)
    assert(t1.where(col("k") === 2L).head().getAs[String]("region") == "eu")
    // an OLD-schema replay (column missing from the batch) still merges;
    // the updated row's new column is null, key 2's value survives
    merge(Seq((1L, "a2", 3L, false)).toDF("k", "v", "ver", "is_delete"))
    val t2 = graft.sources.Lake.readStore(spark, dir)
    assert(t2.where(col("k") === 1L).head().getAs[String]("v") == "a2")
    assert(t2.where(col("k") === 2L).head().getAs[String]("region") == "eu")
  }

  test("Lake.mergeIntoPartitioned rewrites ONLY touched partitions (others byte-identical)") {
    val lake = TestSpark.tmpDir("merge-part") + "/lake"
    def df(rows: (Long, String, Long, String, Boolean)*) =
      rows.toDF("k", "v", "ver", "ingest_date", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Seq[String] =
      graft.sources.Lake.mergeIntoPartitioned(spark, lake, b,
        "ingest_date", Seq("k"), Seq("ver"), Some(col("is_delete")))
    // full-lake state through partition discovery (ingest_date comes
    // back as a discovered partition column)
    def state = graft.sources.Lake.read(spark, lake).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Long]("ver"), r.getAs[Any]("ingest_date").toString)).toSet
    // recursive file tree + content hashes of one partition directory
    // (manifests, pointer, and data files alike — byte-identity for an
    // untouched day now means NO new snapshot version either)
    def snapshot(day: String): Map[String, String] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f))
      val root = new java.io.File(s"$lake/ingest_date=$day")
      walk(root).filter(f => !f.getName.startsWith(".") &&
          !f.getName.endsWith(".crc"))
        .map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          root.toPath.relativize(f.toPath).toString -> md.digest(
            java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
    }
    assert(merge(df(
      (1L, "a", 1L, "2024-01-01", false),
      (2L, "b", 1L, "2024-01-02", false),
      (3L, "c", 1L, "2024-01-03", false)))
      == Seq("2024-01-01", "2024-01-02", "2024-01-03"))
    val snap1 = snapshot("2024-01-01")
    val snap3 = snapshot("2024-01-03")
    assert(snap1.nonEmpty && snap3.nonEmpty)
    // a batch touching ONLY day 2: matched update + unmatched insert
    val batch = df((2L, "b2", 2L, "2024-01-02", false),
      (4L, "d", 2L, "2024-01-02", false))
    assert(merge(batch) == Seq("2024-01-02"))
    assert(state == Set(
      (1L, "a", 1L, "2024-01-01"), (2L, "b2", 2L, "2024-01-02"),
      (4L, "d", 2L, "2024-01-02"), (3L, "c", 1L, "2024-01-03")))
    // the untouched days were not rewritten: same files, same bytes
    assert(snapshot("2024-01-01") == snap1, "day 1 was rewritten")
    assert(snapshot("2024-01-03") == snap3, "day 3 was rewritten")
    // idempotent replay per partition (crash-mid-loop replays the
    // whole batch; already-merged partitions must not drift)
    assert(merge(batch) == Seq("2024-01-02"))
    assert(snapshot("2024-01-01") == snap1)
    assert(state.count(_._1 == 2L) == 1)
    // tombstone scoped to its partition — physical delete there,
    // day 1 still byte-identical
    merge(df((3L, "", 2L, "2024-01-03", true)))
    assert(state == Set(
      (1L, "a", 1L, "2024-01-01"), (2L, "b2", 2L, "2024-01-02"),
      (4L, "d", 2L, "2024-01-02")))
    assert(snapshot("2024-01-01") == snap1)
    // NULL partition value: loud error, no partial writes
    intercept[IllegalArgumentException] {
      merge(Seq((9L, "x", 9L, null: String, false))
        .toDF("k", "v", "ver", "ingest_date", "is_delete"))
    }
    assert(state.size == 3)
  }

  test("Lake.mergeIntoPartitioned merges many touched partitions concurrently") {
    // a backfill-shaped batch touching 8 days: the concurrent pool
    // (default) must produce exactly the sequential result — disjoint
    // store+feed dirs per partition make the merges independent
    val root = TestSpark.tmpDir("merge-par")
    def df(rows: (Long, String, Long, String, Boolean)*) =
      rows.toDF("k", "v", "ver", "ingest_date", "is_delete")
    val days = (1 to 8).map(i => f"2024-02-$i%02d")
    val seed = df(days.zipWithIndex.map { case (d, i) =>
      (i.toLong, s"v$i", 1L, d, false) }: _*)
    val upd = df(days.zipWithIndex.flatMap { case (d, i) =>
      Seq((i.toLong, s"u$i", 2L, d, false),          // update
        (100L + i, s"n$i", 2L, d, false))            // insert
    }: _*)
    def run(lake: String, cdf: String, par: Int): Set[(Long, String, Long, String)] = {
      graft.sources.Lake.mergeIntoPartitioned(spark, lake, seed,
        "ingest_date", Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true, parallelism = par)
      val touched = graft.sources.Lake.mergeIntoPartitioned(spark, lake,
        upd, "ingest_date", Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true, parallelism = par)
      assert(touched == days, s"touched=$touched")
      graft.sources.Lake.read(spark, lake).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
          r.getAs[Long]("ver"), r.getAs[Any]("ingest_date").toString)).toSet
    }
    val par = run(s"$root/lakeP", s"$root/cdfP", 4)
    val sequential = run(s"$root/lakeS", s"$root/cdfS", 1)
    assert(par == sequential)
    assert(par.size == 16)
    // each partition's feed published independently: ids 0 (seed) and
    // 1 (update) in every day dir, and the partitioned view folds the
    // whole concurrent feed to the recompute
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    days.foreach { d =>
      val ids = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$root/cdfP/ingest_date=$d"))
        .map(_.getPath.getName).filter(_.startsWith("merge="))
        .map(_.stripPrefix("merge=").toLong).sorted.toSeq
      // version-keyed feed ids (round 14): versions 1 and 2 per day
      assert(ids == Seq(1L, 2L), s"day $d feed ids: $ids")
    }
    graft.examples.IncrementalView.refreshPartitioned(spark,
      s"$root/view", s"$root/cdfP", "ingest_date", Seq("v"), Seq("ver"))
    val vm = graft.examples.IncrementalView
      .readPartitioned(spark, s"$root/view", Seq("v"), Seq("ver"))
      .agg(sum("n")).head().getLong(0)
    assert(vm == 16L)
  }

  test("examples.LakeOps: nightly loop maintains a partitioned incremental view") {
    import graft.examples.{IncrementalView, LakeOps}
    val base = TestSpark.tmpDir("lakeops-view")
    val lake = s"$base/lake"; val cdf = s"$base/changes"; val view = s"$base/view"
    def upd(rows: (Long, String, Long, Long, String, Boolean)*) =
      rows.toDF("k", "g", "x", "ver", "ingest_date", "is_delete")
    def nightly(b: org.apache.spark.sql.DataFrame) =
      LakeOps.runNightly(spark, lake, b, Seq("k"), Seq("ver"),
        isDeleteCol = Some("is_delete"), changeDir = Some(cdf),
        viewDir = Some(view), viewGroupCols = Seq("g"),
        viewSumCols = Seq("x"), sweepConsumedFeed = true)
    def feedEntries: Int = {
      val fs = new org.apache.hadoop.fs.Path(cdf)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$cdf/ingest_date=*/merge=*")).length
    }
    def viewMap = IncrementalView
      .readPartitioned(spark, view, Seq("g"), Seq("x")).collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_x"))).toMap
    def recompute = graft.sources.Lake.read(spark, lake)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("s"))).toMap
    nightly(upd(
      (1L, "a", 10L, 1L, "2024-01-01", false),
      (2L, "a", 5L, 1L, "2024-01-02", false),
      (3L, "b", 7L, 1L, "2024-01-02", false)))
    assert(viewMap == Map("a" -> (2L, 15L), "b" -> (1L, 7L)))
    assert(viewMap == recompute)
    // night 2: in-day update, cross-GROUP move (same day — the
    // partition is a function of the key), a delete, and a new day
    val n2 = upd(
      (2L, "a", 6L, 2L, "2024-01-02", false),
      (3L, "c", 7L, 2L, "2024-01-02", false),
      (1L, "a", 10L, 2L, "2024-01-01", true),
      (4L, "b", 20L, 1L, "2024-01-03", false))
    nightly(n2)
    assert(viewMap == Map("a" -> (1L, 6L), "b" -> (1L, 20L), "c" -> (1L, 7L)),
      s"nightly view deltas mis-applied: $viewMap")
    assert(viewMap == recompute)
    // replaying the night: empty feeds, view unmoved
    nightly(n2)
    assert(viewMap == recompute)
    // registry-gated retention (step 6): applied entries sweep night
    // by night — the feed stays BOUNDED at ≤ one retained entry per
    // touched day instead of one per merge forever
    assert(feedEntries <= 3, s"feed grew unbounded: $feedEntries entries")
    val marks = graft.examples.IncrementalView
      .consumerWatermarks(spark, s"$cdf/ingest_date=2024-01-02")
    assert(marks.contains("nightly_view"), s"view not registered: $marks")
    // COMPOSED PUBLISH (round 18): the night's day stores + view
    // sub-stores land in one manifest; a mid-night crash (day merged,
    // view not refreshed) leaves published readers on the previous
    // consistent night
    val pub = s"$base/pub"
    LakeOps.publishNightly(spark, pub, lake, Some(view))
    def pubView = LakeOps
      .readPublishedView(spark, pub, view, Seq("g"), Seq("x")).collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_x"))).toMap
    val night2View = pubView
    assert(night2View == recompute)
    val day2Before = LakeOps
      .readPublishedDay(spark, pub, lake, "2024-01-02").count()
    // night 3 crashes AFTER the lake merge, BEFORE the view refresh +
    // publish: simulate by merging directly without the view step
    graft.sources.Lake.mergeIntoPartitioned(spark, lake,
      upd((5L, "c", 9L, 1L, "2024-01-02", false)), "ingest_date",
      Seq("k"), Seq("ver"), Some(col("is_delete")), Some(cdf),
      cdfPreImages = true)
    // live lake moved; the published day + view pair did not
    assert(pubView == night2View, "published view moved mid-night")
    assert(LakeOps.readPublishedDay(spark, pub, lake, "2024-01-02")
      .count() == day2Before, "published day moved mid-night")
    // restart completes the night (empty re-merge + view refresh) and
    // publishes: both stores flip together
    nightly(upd((5L, "c", 9L, 1L, "2024-01-02", false)))
    LakeOps.publishNightly(spark, pub, lake, Some(view))
    assert(pubView == recompute, s"composed publish did not flip: $pubView")
    assert(LakeOps.readPublishedDay(spark, pub, lake, "2024-01-02")
      .count() == day2Before + 1)
  }

  test("examples.LakeOps: composed nightly maintenance, crash mid-sequence, retention sweep") {
    import graft.examples.LakeOps
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("lakeops")
    val lake = s"$base/lake"
    val zout = s"$base/zday1"
    def upd(rows: (Long, String, Long, String, Boolean)*) =
      rows.toDF("k", "v", "ver", "ingest_date", "is_delete")
    def nightly(b: org.apache.spark.sql.DataFrame) =
      LakeOps.runNightly(spark, lake, b, Seq("k"), Seq("ver"),
        isDeleteCol = Some("is_delete"),
        zorderCols = Seq("k", "ver"), zorderDay = Some("2024-01-01"),
        zorderOut = Some(zout))
    def state = graft.sources.Lake.read(spark, lake).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Any]("ingest_date").toString)).toSet
    // night 1: seed two days (merge-as-ingest)
    val n1 = upd(
      (1L, "a", 1L, "2024-01-01", false), (2L, "b", 1L, "2024-01-01", false),
      (3L, "c", 1L, "2024-01-02", false))
    assert(nightly(n1) == Seq("2024-01-01", "2024-01-02"))
    assert(state == Set((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "c", "2024-01-02")))
    // the clustered copy of day 1 carries the same content
    assert(spark.read.parquet(zout).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set(1L -> "a", 2L -> "b"))
    // night 2 CRASHES inside the merge of day 2: a half-written hidden
    // stage dir is stranded in the day store; re-running the whole
    // sequence reclaims it — every step recovers or is idempotent
    val fs = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val day2 = new Path(s"$lake/ingest_date=2024-01-02")
    val nextV = graft.sources.Snapshot.currentVersion(fs, day2).get + 1
    val nightStrand = graft.sources.Snapshot.stagePath(day2, s"d$nextV-merge")
    upd((99L, "junk", 99L, "2024-01-02", false)).drop("ingest_date")
      .write.parquet(nightStrand.toString)
    // an OLD crash (round 14: strand sweeps are age-gated so a live
    // concurrent writer's staging is never reclaimed; round 15:
    // subtree-deep age — the whole tree must read old)
    backdateTree(fs, nightStrand)
    val n2 = upd((3L, "c2", 2L, "2024-01-02", false),
      (4L, "d", 2L, "2024-01-02", false))
    assert(nightly(n2) == Seq("2024-01-02"))
    assert(state == Set((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "c2", "2024-01-02"), (4L, "d", "2024-01-02")))
    // replaying the night is a no-op (idempotent end to end)
    assert(nightly(n2) == Seq("2024-01-02"))
    assert(state.size == 4)
    assert(!fs.listStatus(day2).exists(_.getPath.getName.startsWith("_stage.")),
      "crashed stage strand survived the night replay + vacuum")
    // retention sweep: an append-style sink left raw tombstone rows in
    // day 1 (a post-snapshot FLAT append — part of the read set by the
    // liveFlats rule); the sweep drops them, a clean day is NOT
    // rewritten
    upd((2L, "", 9L, "2024-01-01", true)).drop("ingest_date")
      .write.mode("append").parquet(s"$lake/ingest_date=2024-01-01")
    def snap(day: String): Map[String, Long] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f))
      val root = new java.io.File(s"$lake/ingest_date=$day")
      walk(root).filter(f => !f.getName.startsWith(".") &&
          !f.getName.endsWith(".crc"))
        .map(f => root.toPath.relativize(f.toPath).toString -> f.length())
        .toMap
    }
    val day2Snap = snap("2024-01-02")
    val swept = LakeOps.retentionSweep(spark, lake,
      Seq("2024-01-01", "2024-01-02"), Seq("k"), Seq("ver"), "is_delete")
    assert(swept == Seq("2024-01-01"))
    assert(snap("2024-01-02") == day2Snap, "clean day was rewritten by the sweep")
    // the winning tombstone DELETED key 2; key 1 survives untouched
    def day1State = graft.sources.Lake
      .readStore(spark, s"$lake/ingest_date=2024-01-01").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(day1State == Set(1L -> "a"))
    // sweep crash recovery: a stranded stage dir in the day store is
    // invisible and reclaimed; the already-swept day is clean, so
    // nothing rewrites
    val day1 = new Path(s"$lake/ingest_date=2024-01-01")
    val nextV1 = graft.sources.Snapshot.currentVersion(fs, day1).get + 1
    upd((98L, "junk", 98L, "2024-01-01", false)).drop("ingest_date")
      .write.parquet(
        graft.sources.Snapshot.stagePath(day1, s"d$nextV1-retention").toString)
    assert(LakeOps.retentionSweep(spark, lake, Seq("2024-01-01"),
      Seq("k"), Seq("ver"), "is_delete").isEmpty)
    assert(day1State == Set(1L -> "a"))
  }

  test("z-order layout keeps min/max stats tight on BOTH columns") {
    import scala.jdk.CollectionConverters._
    // two independent uniform columns; a linear sort by `a` leaves
    // `b`'s per-file stats spanning the whole domain
    val df = spark.range(0, 200000).select(
      (col("id") % 1000).as("a"),
      ((col("id") * 2654435761L) % 1000).as("b"))
    val zDir = TestSpark.tmpDir("zorder") + "/z"
    val linDir = TestSpark.tmpDir("zorder-lin") + "/lin"
    graft.sources.Lake.writeZOrderedN(df, Seq("a", "b"), zDir, bits = 10,
      outFiles = 16)
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(linDir)
    // parquet footers: how many files could contain col = 500?
    // (1 row group per file at this size, so file stats = row-group
    // stats — the granularity the scan's filter pushdown prunes at)
    def overlaps(dir: String, c: String, v: Long): Int = {
      val conf = spark.sparkContext.hadoopConfiguration
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .count { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.asScala.exists { b =>
            val st = b.getColumns.asScala
              .find(_.getPath.toDotString == c).get.getStatistics
            val mn = st.genericGetMin.asInstanceOf[java.lang.Long]
            val mx = st.genericGetMax.asInstanceOf[java.lang.Long]
            mn <= v && v <= mx
          } finally r.close()
        }
    }
    // the linear layout prunes its own sort column and nothing else
    assert(overlaps(linDir, "a", 500L) <= 2, "linear sort should prune a")
    assert(overlaps(linDir, "b", 500L) >= 14, "b stats can't be tight under a linear a-sort")
    // the z-order prunes BOTH: each file covers a small (a, b)
    // rectangle. Bounds are loose because repartitionByRange samples
    // its boundaries with an RDD-id-derived seed — file edges wobble
    // a little run to run (observed 8–9 of 16) — but the structural
    // contrast vs the linear layout's non-sort column (14+) is stable.
    val zA = overlaps(zDir, "a", 500L)
    val zB = overlaps(zDir, "b", 500L)
    assert(zA <= 10, s"z-order failed to prune on a ($zA/16)")
    assert(zB <= 10, s"z-order failed to prune on b ($zB/16)")
    assert(zB + 4 <= overlaps(linDir, "b", 500L),
      s"z-order no better than linear on the non-sort column ($zB)")
    // layout must not change content
    assert(spark.read.parquet(zDir).except(df).isEmpty &&
      df.except(spark.read.parquet(zDir)).isEmpty)
  }

  test("writeZOrderedN: 3 columns all prune; bounds computed in ONE quantile job") {
    import scala.jdk.CollectionConverters._
    // domains wide enough that every column's quantile rank exercises
    // all `bits` bit positions (a narrow domain leaves the top
    // interleave bits constant and the per-column split never happens)
    val df = spark.range(0, 240000).select(
      (col("id") % 512).as("a"),
      ((col("id") * 2654435761L) % 512).as("b"),
      ((col("id") * 1099511628211L) % 512).as("c"))
    val zDir = TestSpark.tmpDir("zorder3") + "/z"
    val linDir = TestSpark.tmpDir("zorder3-lin") + "/lin"
    // count Spark JOBS during the write: the bounds for ALL columns
    // come from ONE approxQuantile pass, so the job count is constant
    // in the column count (measured: 5 = quantile + range-sampling +
    // write + 2 planning probes). The round-6 form paid one quantile
    // job PER column — 3 columns would add 2 jobs. Relative bound, not
    // an exact pin (planning probes can shift across Spark versions).
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.sources.Lake.writeZOrderedN(df, Seq("a", "b", "c"), zDir,
        bits = 8, outFiles = 16)
      Thread.sleep(1000) // listener bus drains async
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get <= 6,
      s"3-column z-order ran ${jobs.get} jobs — bounds are no longer a single quantile pass")
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(linDir)
    def overlaps(dir: String, c: String, v: Long): Int = {
      val conf = spark.sparkContext.hadoopConfiguration
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .count { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.asScala.exists { b =>
            val st = b.getColumns.asScala
              .find(_.getPath.toDotString == c).get.getStatistics
            val mn = st.genericGetMin.asInstanceOf[java.lang.Long]
            val mx = st.genericGetMax.asInstanceOf[java.lang.Long]
            mn <= v && v <= mx
          } finally r.close()
        }
    }
    // every column's point predicate prunes files the linear a-sort
    // cannot (3-way interleave is weaker per column than 2-way — the
    // asserts are relative contrasts, range boundaries wobble)
    Seq("a", "b", "c").foreach { c =>
      val o = overlaps(zDir, c, 100L)
      assert(o <= 13, s"3-col z-order failed to prune on $c ($o/16 files)")
    }
    assert(overlaps(linDir, "b", 100L) >= 14 && overlaps(linDir, "c", 100L) >= 14,
      "linear layout unexpectedly tight on non-sort columns")
    assert(overlaps(zDir, "b", 100L) + 4 <= overlaps(linDir, "b", 100L),
      "z-order no better than linear on b")
    assert(overlaps(zDir, "c", 100L) + 4 <= overlaps(linDir, "c", 100L),
      "z-order no better than linear on c")
    // layout must not change content
    assert(spark.read.parquet(zDir).except(df).isEmpty &&
      df.except(spark.read.parquet(zDir)).isEmpty)
  }

  test("hashSplit: disjoint, exhaustive, deterministic, prefix-stable") {
    import graft.operators.TextDedup.hashSplit
    val df = spark.range(0, 5000).select(col("id").as("doc_id"))
    val three = hashSplit(df, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // exhaustive partition: every row in exactly one split
    val counts = three.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 5000 && counts.keySet == Set("train", "val", "test"))
    // fractions land near their bands
    assert(math.abs(counts("train") - 4000) < 200, s"train=${counts("train")}")
    // deterministic across invocations
    assert(three.except(hashSplit(df, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))).isEmpty)
    // prefix stability: subdividing the 20% holdout moves NO train row
    val two = hashSplit(df, "doc_id", Seq("train" -> 0.8, "holdout" -> 0.2))
    val trainTwo = two.where(col("split") === "train").select("doc_id")
    val trainThree = three.where(col("split") === "train").select("doc_id")
    assert(trainTwo.except(trainThree).isEmpty &&
      trainThree.except(trainTwo).isEmpty,
      "train membership changed when the holdout was subdivided")
  }

  test("dHashBands: identical media hash identically; local edits flip few bits") {
    import graft.multimodal.Multimodal.dHashBands
    val rnd = new scala.util.Random(7)
    val img = Array.fill(40 * 30)((rnd.nextInt(256) - 128).toByte)
    val a = dHashBands(img, 40, 30)
    assert(dHashBands(img.clone(), 40, 30) == a, "not deterministic")
    // flip one pixel: only comparisons sampling it can change — the
    // hamming distance across all 64 bits stays small
    val img2 = img.clone()
    img2(17 * 40 + 23) = (img2(17 * 40 + 23) ^ 0x7f).toByte
    val b = dHashBands(img2, 40, 30)
    def hamming(x: (Int, Int, Int, Int), y: (Int, Int, Int, Int)): Int =
      Integer.bitCount(x._1 ^ y._1) + Integer.bitCount(x._2 ^ y._2) +
        Integer.bitCount(x._3 ^ y._3) + Integer.bitCount(x._4 ^ y._4)
    assert(hamming(a, b) <= 4, s"local edit flipped ${hamming(a, b)} bits")
    // unrelated content lands far away
    val other = Array.fill(40 * 30)((rnd.nextInt(256) - 128).toByte)
    assert(hamming(a, dHashBands(other, 40, 30)) > 10)
  }

  test("BucketSearch: binary-search bucket equals the linear filter count") {
    import graft.functions.BucketSearch.bucketOf
    val bounds = Array(-3.0, 0.0, 2.5, 2.5001, 10.0)
    def linear(v: Double) = bounds.count(v > _)
    for (v <- Seq(-100.0, -3.0, -2.9, 0.0, 1.0, 2.5, 2.50005, 5.0, 10.0, 11.0))
      assert(bucketOf(bounds, v) == linear(v), s"v=$v")
    assert(bucketOf(Array.empty[Double], 42.0) == 0)
    // null input routes to bucket 0 through the Column form (nulls
    // sort first in every consumer's window)
    import spark.implicits._
    val got = Seq(Some(5.0), None).toDF("v")
      .select(graft.functions.BucketSearch.of(spark, col("v"),
        Array(1.0, 4.0)).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(2, 0), s"got $got")
  }

  test("SimHash64: reference vectors and invariances") {
    import graft.functions.SimHash64.simhash
    assert(simhash("") == 0L)
    assert(simhash("hello") == simhash("hello"))
    assert(simhash("hello hello hello") == simhash("hello")) // pure repetition
    assert(simhash("a b") == simhash("b a")) // bag-of-words: order-free
    assert(simhash("hello") != simhash("world"))
    // near-duplicate texts differ in few bits; unrelated in many
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base + " today"
    val far = "completely different words everywhere nothing shared at all here ok"
    assert(hamming(simhash(base), simhash(near)) <
      hamming(simhash(base), simhash(far)))
  }

  test("exact dedup is idempotent") {
    val d1 = SparkEntry.queries("q81_text_dedup")(spark, sf)
    assert(d1.groupBy("h").count().where(col("count") > 1).isEmpty)
  }

  test("latestByKey: ties break on the order column, empty input ok") {
    val df = Seq((1L, "old", 1L), (1L, "new", 2L), (2L, "only", 5L))
      .toDF("k", "v", "ver")
    val got = CdcStreams.latestByKey(df, Seq("k"), Seq("ver"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "new", 2L -> "only"))
    val empty = CdcStreams.latestByKey(
      spark.emptyDataset[(Long, String, Long)].toDF("k", "v", "ver"),
      Seq("k"), Seq("ver"))
    assert(empty.isEmpty)
  }

  test("multimodal: batched decode covers every row exactly once") {
    import graft.multimodal.Multimodal
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.toMediaDocs(docs)
    val feats = Multimodal.decodeFeatures(media, batchSize = 7)
    assert(feats.count() == docs.count())
    val f = feats.orderBy("doc_id").head()
    assert(f.feat.length == 16)
    assert(f.width >= 32 && f.width < 129)
    // frame sampling: every 2nd 4-byte window of 10 bytes -> frames 0,2
    val frames = Multimodal.frameSample(Array.tabulate(10)(_.toByte), 4, 2)
    assert(frames.map(_.toSeq) == Seq(Seq[Byte](0, 1, 2, 3), Seq[Byte](8, 9)))
    // resize: 4x4 -> 2x2 nearest-neighbour picks rows/cols 0 and 2
    val img = Array.tabulate(16)(_.toByte)
    val small = Multimodal.resizeStub(img, 4, 4, 2, 2)
    assert(small.toSeq == Seq[Byte](0, 2, 8, 10))
    // identity resize returns the matrix unchanged
    assert(Multimodal.resizeStub(img, 4, 4, 4, 4).toSeq == img.toSeq)
  }

  test("PageRank.undirected: pre-reversed input does not double edges") {
    import graft.operators.PageRank
    val oneWay = Seq((1L, 2L), (2L, 3L)).toDF("x", "y")
    // same undirected graph, but with both orientations already present
    val bothWays = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("x", "y")
    val a = PageRank.undirected(oneWay, "x", "y", "n", "n")
    val b = PageRank.undirected(bothWays, "x", "y", "n", "n")
    assert(a.count() == 4 && b.count() == 4)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // degree-sensitive downstream: ranks agree between the two inputs
    val ra = PageRank.run(a, iters = 2).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rb = PageRank.run(b, iters = 2).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ra.keySet == rb.keySet)
    ra.foreach { case (k, v) => assert(math.abs(v - rb(k)) < 1e-12) }
  }

  test("PageRank.run: rank mass conserved, symmetric nodes tie") {
    import graft.operators.PageRank
    // triangle: every node symmetric -> equal ranks, total mass 1
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("x", "y")
    val ranks = PageRank.run(PageRank.undirected(tri, "x", "y", "n", "n"),
      iters = 4).collect().map(_.getDouble(1))
    assert(ranks.length == 3)
    assert(math.abs(ranks.sum - 1.0) < 1e-9)
    assert(ranks.forall(r => math.abs(r - 1.0 / 3) < 1e-9))
  }

  test("PageRank.run: reliable checkpointing equals the localCheckpoint path") {
    import graft.operators.{Checkpoints, PageRank}
    // asymmetric graph so ranks differ per node — a path-dependent bug
    // in either checkpoint mode would show up
    val edges = PageRank.undirected(
      Seq((1L, 2L), (2L, 3L), (2L, 4L), (4L, 5L)).toDF("x", "y"), "x", "y", "n", "n")
    assert(spark.conf.getOption(Checkpoints.ReliableDirKey).isEmpty)
    val local = PageRank.run(edges, iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dir = TestSpark.tmpDir("pr-chk")
    spark.conf.set(Checkpoints.ReliableDirKey, dir)
    val reliable = try {
      PageRank.run(edges, iters = 3)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    } finally spark.conf.unset(Checkpoints.ReliableDirKey)
    assert(local.keySet == reliable.keySet)
    local.foreach { case (k, v) => assert(math.abs(v - reliable(k)) < 1e-12) }
    // the reliable path actually wrote checkpoint data
    def anyFiles(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles()).exists(_.exists(anyFiles))
    assert(anyFiles(new java.io.File(dir)), "no reliable checkpoint written")
  }

  test("PageRank.run: leaves the caller's conf as found; rounds plan AQE-off on the pinned edges") {
    import graft.operators.PageRank
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val aqe = "spark.sql.adaptive.enabled"
    val edges = PageRank.undirected(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("x", "y"), "x", "y", "n", "n")
    val prev = spark.conf.getAll.get(aqe)
    try {
      for (setting <- Seq(Some("true"), None)) {
        setting.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
        val before = spark.conf.getAll
        assert(before.get(aqe) == setting)
        val out = PageRank.run(edges, iters = 2)
        assert(out.count() == 4)
        val after = spark.conf.getAll
        val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
        assert(changed.isEmpty, s"PageRank.run changed $changed with AQE $setting")
        assert(out.sparkSession eq spark, "result not bound to the caller's session")
      }
    } finally prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
    // the exposed round runs in PageRank's own session: a static plan
    // that reads the pinned (src, dst, deg) table from the cache
    val seed = PageRank.seed(edges)
    try {
      val round = PageRank.round(seed, 0.85)(seed.ranks)
      assert(round.sparkSession ne spark)
      val plan = round.queryExecution.executedPlan
      assert(plan.collectFirst { case a: AdaptiveSparkPlanExec => a }.isEmpty, plan)
      assert(plan.collect { case s: InMemoryTableScanExec => s.output.map(_.name).toSet }
        .exists(Set("src", "dst", "deg").subsetOf), plan)
      assert(round.count() == 4)
    } finally seed.release()
  }

  test("json_value/is_json replicate T-SQL semantics exactly") {
    import graft.functions.{IsJson, JsonValue}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // lax (default): quoted members, array steps, missing/non-scalar
    // NULLs, json-null passthrough, bool/number scalars as text
    assert(JsonValue.extract("""{"a": {"b c": 5}}""", """$.a."b c"""") == "5")
    // backslash escapes inside quoted members: `."a\"b"` names a"b,
    // `."a\\b"` names a\b; an unknown escape is a path syntax error
    assert(JsonValue.extract("""{"a\"b": 9}""", "$.\"a\\\"b\"") == "9")
    assert(JsonValue.extract("""{"a\\b": 8}""", "$.\"a\\\\b\"") == "8")
    intercept[IllegalArgumentException](
      JsonValue.extract("{}", "$.\"a\\qb\""))
    intercept[IllegalArgumentException](JsonValue.extract("{}", "$.\"ab"))
    assert(JsonValue.extract("""{"a": [1, 2]}""", "$.a[1]") == "2")
    assert(JsonValue.extract("""{"a": 1}""", "$.b") == null)
    assert(JsonValue.extract("""{"a": [1]}""", "$.a[5]") == null)
    assert(JsonValue.extract("""{"a": {"b": 1}}""", "$.a") == null)
    assert(JsonValue.extract("""{"a": null}""", "$.a") == null)
    assert(JsonValue.extract("""{"a": true}""", "lax $.a") == "true")
    // strict: the same misses are errors
    intercept[IllegalArgumentException](
      JsonValue.extract("""{"a": 1}""", "strict $.b"))
    intercept[IllegalArgumentException](
      JsonValue.extract("""{"a": {"b": 1}}""", "strict $.a"))
    // malformed text raises in BOTH modes (T-SQL contract; guard with
    // is_json exactly as T-SQL guards with ISJSON)
    intercept[IllegalArgumentException](JsonValue.extract("not json", "$.a"))
    intercept[IllegalArgumentException](
      JsonValue.extract("""{"a": 1} trailing""", "$.a"))
    // nvarchar(4000) cap: lax NULL, strict error
    val long = "x" * 4001
    assert(JsonValue.extract(s"""{"a": "$long"}""", "$.a") == null)
    intercept[IllegalArgumentException](
      JsonValue.extract(s"""{"a": "$long"}""", "strict $.a"))
    // path syntax errors
    intercept[IllegalArgumentException](JsonValue.extract("{}", "a.b"))
    intercept[IllegalArgumentException](JsonValue.extract("{}", "$.a[x]"))
    // ISJSON classic semantics: 1 only for complete object/array
    assert(IsJson.check(u("""{"a":1}""")) == 1)
    assert(IsJson.check(u("[1,2]")) == 1)
    assert(IsJson.check(u("123")) == 0)
    assert(IsJson.check(u("\"s\"")) == 0)
    assert(IsJson.check(u("{} trailing")) == 0)
    // registered SQL surface runs through codegen
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT json_value('{"k": 7}', '$.k') a, is_json('[]') b""").head()
    assert(r.getString(0) == "7" && r.getInt(1) == 1)
    assert(spark.sql("SELECT json_value(cast(null as string), '$.a') a")
      .head().isNullAt(0))
  }

  test("rpLshBuckets raises loudly on a dims mismatch") {
    import graft.operators.Similarity
    val vecs = Seq((1L, Seq(0.1f, 0.2f, 0.3f))).toDF("id", "emb")
    // correct dims: computes a bucket
    assert(Similarity.rpLshBuckets(vecs, "id", "emb", bits = 4, dims = 3)
      .count() == 1)
    // wrong dims: must raise, not hash every bit to 0
    val ex = intercept[Exception] {
      Similarity.rpLshBuckets(vecs, "id", "emb", bits = 4, dims = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("rpLshBuckets")))
  }

  test("json_query/openjson replicate T-SQL branch semantics exactly") {
    import graft.functions.{JsonQuery, OpenJsonEntries}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val j = """{"o":{"a":1},"arr":[1,"s",null,true,[2],{"b":3}],"s":"x"}"""
    // fragments: object/array come back as compact JSON text
    assert(JsonQuery.extract(j, "$.o") == """{"a":1}""")
    assert(JsonQuery.extract(j, "$.arr") == """[1,"s",null,true,[2],{"b":3}]""")
    assert(JsonQuery.extract(j, "$.arr[4]") == "[2]")
    assert(JsonQuery.extract(j, "$") ==
      """{"o":{"a":1},"arr":[1,"s",null,true,[2],{"b":3}],"s":"x"}""")
    // the MIRROR of json_value: scalars are lax-NULL / strict-error
    assert(JsonQuery.extract(j, "$.s") == null)
    assert(JsonQuery.extract(j, "$.missing") == null)
    intercept[IllegalArgumentException](JsonQuery.extract(j, "strict $.s"))
    intercept[IllegalArgumentException](JsonQuery.extract(j, "strict $.missing"))
    // malformed raises in BOTH modes
    intercept[IllegalArgumentException](JsonQuery.extract("nope", "$.a"))
    // openjson: object shred — keys in document order, all six type
    // codes, strings UNQUOTED in value, JSON null -> SQL NULL
    def rows(json: String, path: String): Seq[(String, String, Int)] = {
      val a = OpenJsonEntries.entriesU(u(json), u(path))
      if (a == null) Nil
      else (0 until a.numElements).map { i =>
        val r = a.getStruct(i, 3)
        (r.getUTF8String(0).toString,
          if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
          r.getInt(2))
      }
    }
    val obj = """{"z":null,"s":"hi","n":7,"b":false,"a":[1],"o":{"u":1}}"""
    assert(rows(obj, "$") == Seq(
      ("z", null, 0), ("s", "hi", 1), ("n", "7", 2),
      ("b", "false", 3), ("a", "[1]", 4), ("o", """{"u":1}""", 5)))
    // array shred: key = element index as text
    assert(rows(j, "$.arr") == Seq(
      ("0", "1", 2), ("1", "s", 1), ("2", null, 0),
      ("3", "true", 3), ("4", "[2]", 4), ("5", """{"b":3}""", 5)))
    // scalar at path: lax empty rowset (null array), strict error
    assert(rows(j, "$.s") == Nil)
    intercept[IllegalArgumentException](rows(j, "strict $.s"))
    intercept[IllegalArgumentException](rows(j, "strict $.missing"))
    intercept[IllegalArgumentException](rows("bad", "$"))
    // SQL surface through codegen: registered functions + posexplode
    GraftExtensions.registerAll(spark)
    val got = spark.sql(
      """SELECT pos, e.key, e.value, e.type
         FROM (SELECT posexplode(openjson_entries('{"a":1,"b":"x"}', '$'))
               AS (pos, e))""").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSeq
    assert(got == Seq((0, "a", "1", 2), (1, "b", "x", 1)))
    assert(spark.sql("""SELECT json_query('{"a":{"b":2}}', '$.a') q""")
      .head().getString(0) == """{"b":2}""")
  }

  test("json_modify replicates the T-SQL edit matrix") {
    import graft.functions.JsonModify
    def m(j: String, p: String, v: Any): String =
      JsonModify.modify(j, p, v, raw = false)
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    val j = """{"a":1,"b":"x","arr":[1,2],"o":{"u":1}}"""
    // set existing: replace IN PLACE (member keeps its position)
    assert(m(j, "$.a", u("y")) == """{"a":"y","b":"x","arr":[1,2],"o":{"u":1}}""")
    assert(m(j, "$.a", java.lang.Long.valueOf(9L)) ==
      """{"a":9,"b":"x","arr":[1,2],"o":{"u":1}}""")
    // lax insert of a missing member lands at the END
    assert(m(j, "$.w", u("nw")) ==
      """{"a":1,"b":"x","arr":[1,2],"o":{"u":1},"w":"nw"}""")
    // nested set through an existing parent
    assert(m(j, "$.o.u", java.lang.Integer.valueOf(2)) ==
      """{"a":1,"b":"x","arr":[1,2],"o":{"u":2}}""")
    // strict insert of a missing member errors; strict replace works
    intercept[IllegalArgumentException](m(j, "strict $.w", u("nw")))
    assert(m(j, "strict $.a", u("y")).contains(""""a":"y""""))
    // missing PARENT errors in both modes (no fabricated intermediates)
    intercept[IllegalArgumentException](m(j, "$.nope.deep", u("v")))
    intercept[IllegalArgumentException](m(j, "strict $.nope.deep", u("v")))
    // delete by SQL NULL: lax removes; lax missing = no-op;
    // strict writes JSON null on hit and errors on miss
    assert(m(j, "$.b", null) == """{"a":1,"arr":[1,2],"o":{"u":1}}""")
    assert(m(j, "$.nope", null) == j)
    assert(m(j, "strict $.b", null) ==
      """{"a":1,"b":null,"arr":[1,2],"o":{"u":1}}""")
    intercept[IllegalArgumentException](m(j, "strict $.nope", null))
    // array element: in-range replace, lax out-of-range appends,
    // strict out-of-range errors, lax element delete shifts left
    assert(m(j, "$.arr[0]", java.lang.Integer.valueOf(7)) ==
      """{"a":1,"b":"x","arr":[7,2],"o":{"u":1}}""")
    assert(m(j, "$.arr[5]", java.lang.Integer.valueOf(7)) ==
      """{"a":1,"b":"x","arr":[1,2,7],"o":{"u":1}}""")
    intercept[IllegalArgumentException](
      m(j, "strict $.arr[5]", java.lang.Integer.valueOf(7)))
    assert(m(j, "$.arr[0]", null) == """{"a":1,"b":"x","arr":[2],"o":{"u":1}}""")
    // append: push to array; lax creates on a missing member; a
    // non-array target is loud in both modes; NULL appends JSON null
    assert(m(j, "append $.arr", u("e")) ==
      """{"a":1,"b":"x","arr":[1,2,"e"],"o":{"u":1}}""")
    assert(m(j, "append $.tags", u("t")) ==
      """{"a":1,"b":"x","arr":[1,2],"o":{"u":1},"tags":["t"]}""")
    intercept[IllegalArgumentException](m(j, "append strict $.tags", u("t")))
    intercept[IllegalArgumentException](m(j, "append $.a", u("t")))
    assert(m(j, "append $.arr", null) ==
      """{"a":1,"b":"x","arr":[1,2,null],"o":{"u":1}}""")
    // append onto a root array
    assert(m("""[1]""", "append $", java.lang.Integer.valueOf(2)) == "[1,2]")
    // root set is loud; malformed text is loud in both modes
    intercept[IllegalArgumentException](m(j, "$", u("x")))
    intercept[IllegalArgumentException](m("nope", "$.a", u("x")))
    // raw fragment injection vs escaped-string insertion
    assert(JsonModify.modify(j, "$.o", """{"v":2}""", raw = true) ==
      """{"a":1,"b":"x","arr":[1,2],"o":{"v":2}}""")
    assert(m(j, "$.o", u("""{"v":2}""")) ==
      """{"a":1,"b":"x","arr":[1,2],"o":"{\"v\":2}"}""")
    intercept[IllegalArgumentException](
      JsonModify.modify(j, "$.o", "not json", raw = true))
    // SQL surface through codegen: provenance rule picks raw for a
    // json_query value and escaped-string otherwise
    GraftExtensions.registerAll(spark)
    val got = spark.sql(
      """SELECT json_modify('{"a":1}', '$.o', json_query('{"v":2}', '$')) r,
                json_modify('{"a":1}', '$.b', 'x') s,
                json_modify('{"a":1}', '$.a', CAST(NULL AS STRING)) d""").head()
    assert(got.getString(0) == """{"a":1,"o":{"v":2}}""")
    assert(got.getString(1) == """{"a":1,"b":"x"}""")
    assert(got.getString(2) == "{}")
    // NULL json / NULL path propagate SQL NULL
    assert(spark.sql(
      "SELECT json_modify(CAST(NULL AS STRING), '$.a', 'x') r").head().isNullAt(0))
    // the hand-written doGenCode (null-boxing ternary) must actually
    // COMPILE — CODEGEN_ONLY turns a silent interpreted fallback into
    // a loud failure
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = spark.sql(
        """SELECT json_modify(j, '$.b', v) r,
                  json_modify(j, '$.a', CAST(NULL AS STRING)) d,
                  json_modify(j, 'append $.t', 7) a
           FROM (SELECT '{"a":1,"t":[]}' AS j, 'x' AS v)""").head()
      assert(r.getString(0) == """{"a":1,"t":[],"b":"x"}""")
      assert(r.getString(1) == """{"t":[]}""")
      assert(r.getString(2) == """{"a":1,"t":[7]}""")
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("IntervalJoin raises loudly on inverted intervals (hi < lo)") {
    import graft.operators.IntervalJoin
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val pts = Seq((1L, 10L)).toDF("pid", "p")
    // one corrupt row with hi FAR below lo: pre-guard, Spark's
    // sequence(b(lo), b(hi)) descends and fans out ~lo-hi bucket rows
    val inv = Seq((1L, 1000000L, 3L)).toDF("iid", "lo", "hi")
    val ex1 = intercept[Exception] {
      IntervalJoin.pointInInterval(pts, inv, "p", "lo", "hi", maxLen = 10)
        .collect()
    }
    assert(messages(ex1).exists(_.contains("pointInInterval")))
    val good = Seq((1L, 5L, 15L)).toDF("aid", "alo", "ahi")
    val badR = Seq((1L, 2000000L, 7L)).toDF("bid", "blo", "bhi")
    val ex2 = intercept[Exception] {
      IntervalJoin.intervalOverlap(good, badR, "alo", "ahi", "blo", "bhi",
        maxLen = 10).collect()
    }
    assert(messages(ex2).exists(_.contains("intervalOverlap")))
    // well-formed intervals still join
    assert(IntervalJoin.pointInInterval(pts,
      Seq((1L, 5L, 15L)).toDF("iid", "lo", "hi"), "p", "lo", "hi",
      maxLen = 10).count() == 1)
  }

  test("Packing.packGreedy rejects non-positive and null lengths loudly") {
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // a zero-length doc would join even a full bin; a negative length
    // would INCREASE remaining capacity — both corrupt the packing
    // invariant silently without the map-side guard (round-7 ADVICE)
    for (badLen <- Seq(0L, -3L)) {
      val df = Seq((1L, 5L), (2L, badLen)).toDF("doc_id", "len")
      val ex = intercept[Exception] {
        graft.operators.Packing.packGreedy(df, "doc_id", "len", 10L, 2).collect()
      }
      assert(messages(ex).exists(_.contains("packGreedy")), s"len=$badLen: $ex")
    }
    val withNull = Seq((1L, Some(5L)), (2L, None)).toDF("doc_id", "len")
    val exN = intercept[Exception] {
      graft.operators.Packing.packGreedy(withNull, "doc_id", "len", 10L, 2).collect()
    }
    assert(messages(exN).exists(_.contains("packGreedy")))
    // well-formed input still packs
    assert(graft.operators.Packing.packGreedy(
      Seq((1L, 5L), (2L, 5L)).toDF("doc_id", "len"), "doc_id", "len", 10L, 1)
      .count() == 2)
  }

  test("schema evolution through the derived stores: a widened upstream flows through view/index/ivfpq refresh + serve") {
    // VERDICT r11 item 6: Lake.readEvolved covers the raw lake and
    // mergeInto tolerates column drift, but no derived-store spec ever
    // fed an upstream column ADD through a refresh. Each leg: build
    // store + feed, refresh, WIDEN the upstream (a batch carrying a
    // column the store lacked), refresh again — the feed entries now
    // straddle two schemas — and pin the serve surface equal to a
    // full recompute over the evolved base.
    import org.apache.hadoop.fs.Path
    import graft.examples.{IncrementalIndex, IncrementalIvfPq, IncrementalView}
    import graft.operators.Similarity
    val base = TestSpark.tmpDir("evolve-derived")

    // ---- leg 1: IncrementalView ----
    locally {
      val dir = s"$base/v/t"; val cdf = s"$base/v/changes"
      val viewDir = s"$base/v/view"
      def merge(b: org.apache.spark.sql.DataFrame): Unit =
        graft.sources.Lake.mergeInto(spark, dir, b, Seq("k"), Seq("ver"),
          Some(col("is_delete")), changeDir = Some(cdf), cdfPreImages = true)
      merge(Seq((1L, "a", 10L, 1L, false), (2L, "b", 7L, 1L, false))
        .toDF("k", "g", "x", "ver", "is_delete"))
      IncrementalView.refresh(spark, viewDir, cdf, Seq("g"), Seq("x"))
      // widened upstream: the batch carries a NEW column `note`
      merge(Seq((3L, "a", 5L, 2L, false, "from-v2"),
          (1L, "a", 12L, 2L, false, "upd"))
        .toDF("k", "g", "x", "ver", "is_delete", "note"))
      IncrementalView.refresh(spark, viewDir, cdf, Seq("g"), Seq("x"))
      val got = IncrementalView.read(spark, viewDir).collect()
        .map(r => r.getAs[String]("g") ->
          (r.getAs[Long]("n"), r.getAs[Long]("sum_x"))).toMap
      val want = graft.sources.Lake.readStore(spark, dir)
        .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("sx"))
        .collect().map(r => r.getAs[String]("g") ->
          (r.getAs[Long]("n"), r.getAs[Long]("sx"))).toMap
      assert(got == want, s"view after widened upstream: $got vs $want")
      // and the widened column is really IN the evolved base
      assert(graft.sources.Lake.readStore(spark, dir)
        .where(col("note") === "from-v2").count() == 1L)
    }

    // ---- leg 2: IncrementalIndex ----
    locally {
      val dir = s"$base/i/t"; val cdf = s"$base/i/changes"
      val idx = s"$base/i/idx"
      val toks = expr("filter(split(text, ' '), w -> w <> '')")
      def merge(b: org.apache.spark.sql.DataFrame): Unit =
        graft.sources.Lake.mergeInto(spark, dir, b, Seq("k"), Seq("ver"),
          Some(col("is_delete")), changeDir = Some(cdf), cdfPreImages = true)
      merge(Seq((1L, "the cat sat", 1L, false))
        .toDF("k", "text", "ver", "is_delete"))
      IncrementalIndex.refresh(spark, idx, cdf, Seq("k"), toks)
      merge(Seq((2L, "the dog ran", 2L, false, 0.9))
        .toDF("k", "text", "ver", "is_delete", "quality"))
      IncrementalIndex.refresh(spark, idx, cdf, Seq("k"), toks)
      val got = IncrementalIndex.read(spark, idx).collect()
        .map(r => (r.getAs[String]("token"), r.getAs[Long]("k")) ->
          r.getAs[Long]("tf")).toMap
      val want = graft.sources.Lake.readStore(spark, dir)
        .select(col("k"), explode(toks).as("token"))
        .groupBy("token", "k").agg(count(lit(1)).as("tf")).collect()
        .map(r => (r.getAs[String]("token"), r.getAs[Long]("k")) ->
          r.getAs[Long]("tf")).toMap
      assert(got == want, s"index after widened upstream: $got vs $want")
    }

    // ---- leg 3: IncrementalIvfPq (frozen geometry survives a
    // metadata-widened upstream; vectors themselves unchanged) ----
    locally {
      val em = Tables.embeddings(spark, sf)
      val table = s"$base/p/t"; val cdf = s"$base/p/changes"
      val idx = s"$base/p/idx"
      def merge(b: org.apache.spark.sql.DataFrame): Unit =
        graft.sources.Lake.mergeInto(spark, table, b, Seq("vec_id"),
          Seq("ver"), Some(col("is_delete")),
          changeDir = Some(cdf), cdfPreImages = true)
      def corpusNow = graft.sources.Lake.readStore(spark, table)
        .select(col("vec_id"), col("embedding"))
      merge(em.where(col("vec_id").between(1L, 20L))
        .select(col("vec_id"), col("embedding"), lit(1L).as("ver"),
          lit(false).as("is_delete")))
      val cent = Similarity.ivfCentroids(em, "label", "embedding")
      // upto = 1: version-keyed feed ids (round 14)
      IncrementalIvfPq.bootstrap(spark, idx, corpusNow, "vec_id",
        "embedding", cent, dim = 64, m = 4, kc = 16, upto = 1L)
      // widened upstream: a tag column rides the next batch
      merge(em.where(col("vec_id").between(21L, 25L))
        .select(col("vec_id"), col("embedding"), lit(2L).as("ver"),
          lit(false).as("is_delete"), lit("tagged").as("origin")))
      IncrementalIvfPq.refresh(spark, idx, cdf, "vec_id", "embedding")
      val served = IncrementalIvfPq.readCodes(spark, idx).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Int]]("codes"),
          r.getAs[Int]("clabel"))).sortBy(t => (t._1, t._3)).toSeq
      val want = Similarity.encodeCodes(corpusNow,
          spark.read.parquet(s"$idx/codebook"),
          spark.read.parquet(s"$idx/centroids"),
          "vec_id", "embedding", 4, 16).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Int]]("codes"),
          r.getAs[Int]("clabel"))).sortBy(t => (t._1, t._3)).toSeq
      assert(served == want,
        "ivfpq serve after widened upstream != full re-encode")
    }
  }

  test("IncrementalIndex: postings maintained exactly from the pre-image feed") {
    import org.apache.hadoop.fs.Path
    import graft.examples.IncrementalIndex
    val base = TestSpark.tmpDir("inc-idx")
    val dir = s"$base/t"; val cdf = s"$base/changes"; val idx = s"$base/idx"
    def df(rows: (Long, String, Long, Boolean)*) =
      rows.toDF("k", "text", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    val toks = expr("filter(split(text, ' '), w -> w <> '')")
    def refresh(): Long =
      IncrementalIndex.refresh(spark, idx, cdf, Seq("k"), toks)
    def postings = IncrementalIndex.read(spark, idx).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("k")) ->
        r.getAs[Long]("tf")).toMap
    // ground truth: re-tokenize the merged base store from scratch
    def recompute = graft.sources.Lake.readStore(spark, dir)
      .select(col("k"), explode(toks).as("token"))
      .groupBy("token", "k").agg(count(lit(1)).as("tf")).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("k")) ->
        r.getAs[Long]("tf")).toMap

    merge(df((1L, "the cat sat", 1L, false),
      (2L, "the dog", 1L, false)))
    // version-keyed feed ids (round 14): first merge = version 1
    assert(refresh() == 1L)
    assert(postings(("the", 1L)) == 1L && postings(("cat", 1L)) == 1L)
    assert(postings == recompute)
    // update doc 1: "cat"→"bird"; unchanged tokens must cancel
    // (−pre/+post), "cat" leaves, "bird" appears; delete doc 2 removes
    // its whole contribution; repeated token counts fold (tf=2)
    merge(df((1L, "the bird sat sat", 2L, false),
      (2L, "the dog", 2L, true)))
    assert(refresh() == 2L)
    assert(!postings.contains(("cat", 1L)), "stale posting survived update")
    assert(!postings.contains(("dog", 2L)), "deleted doc left postings")
    assert(postings(("sat", 1L)) == 2L, "tf did not fold")
    assert(postings == recompute)
    // crash-replayed merge publishes an empty feed → index unmoved;
    // empty refresh commits no new version
    val store = new Path(idx)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = graft.sources.Snapshot.currentVersion(fs, store).get
    merge(df((1L, "the bird sat sat", 2L, false)))
    assert(refresh() == 2L)
    assert(graft.sources.Snapshot.currentVersion(fs, store).get == v,
      "an empty refresh committed a new index version")
    assert(postings == recompute)
    // conjunctive lookup probes only the queried terms
    // version 4's entry (the replayed version 3 published nothing —
    // a gap in the version-keyed ids, tolerated by every consumer)
    merge(df((3L, "bird sat tree", 1L, false)))
    assert(refresh() == 4L)
    val hits = IncrementalIndex.lookupAll(spark, idx, Seq("k"),
      Seq("bird", "sat")).collect().map(r => r.getAs[Long]("k")).sorted
    assert(hits.toSeq == Seq(1L, 3L), s"lookupAll: ${hits.toSeq}")
    val scored = IncrementalIndex.lookupAll(spark, idx, Seq("k"),
      Seq("sat")).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("score")).toMap
    assert(scored == Map(1L -> 2L, 3L -> 1L))
    // a post-only feed fails loudly
    val dir2 = s"$base/t2"; val cdf2 = s"$base/c2"
    graft.sources.Lake.mergeInto(spark, dir2, df((1L, "a b", 1L, false)),
      Seq("k"), Seq("ver"), Some(col("is_delete")), changeDir = Some(cdf2))
    graft.sources.Lake.mergeInto(spark, dir2, df((1L, "a c", 2L, false)),
      Seq("k"), Seq("ver"), Some(col("is_delete")), changeDir = Some(cdf2))
    intercept[Exception] {
      IncrementalIndex.refresh(spark, s"$base/idx2", cdf2, Seq("k"), toks)
    }
  }

  test("composed GDPR purge: zero physical trace across lake/feed/view/index/scd2/codes; time travel refuses or redacts; replay adds nothing") {
    import org.apache.hadoop.fs.Path
    import graft.examples.{IncrementalIndex, IncrementalIvfPq,
      IncrementalScd2, IncrementalView, KeyPurge}
    import graft.operators.Similarity
    import graft.sources.{Lake, Snapshot}
    val base = TestSpark.tmpDir("purge")
    val lake = s"$base/t"; val cdf = s"$base/cdf"
    val view = s"$base/view"; val idx = s"$base/idx"
    val hist = s"$base/scd2"; val ivf = s"$base/ivf"
    def vec(s: Float*) = s.toArray
    // rows: key, group, text, measure, embedding, cluster label, ver, tombstone
    def df(rows: (Long, String, String, Long, Array[Float], Int, Long, Boolean)*) =
      rows.toDF("k", "g", "text", "x", "emb", "lbl", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      Lake.mergeInto(spark, lake, b, Seq("k"), Seq("ver"),
        Some(col("is_delete")), changeDir = Some(cdf), cdfPreImages = true)
    val toks = expr("filter(split(text, ' '), w -> w <> '')")
    def refreshAll(): Unit = {
      IncrementalView.refresh(spark, view, cdf, Seq("k"), Seq("x"))
      IncrementalIndex.refresh(spark, idx, cdf, Seq("k"), toks)
      IncrementalScd2.refresh(spark, hist, cdf, Seq("k"), Seq("text", "x"))
      IncrementalIvfPq.refresh(spark, ivf, cdf, "k", "emb")
      ()
    }
    val kCond = col("k") === 1L
    // merge 0: three users; bootstrap the ANN store at its watermark
    merge(df(
      (1L, "a", "alice private secret", 10L, vec(1f, 0f, 0f, 0f), 0, 1L, false),
      (2L, "a", "bob public text", 5L, vec(0f, 1f, 0f, 0f), 1, 1L, false),
      (3L, "b", "carol other words", 7L, vec(0f, 0f, 1f, 0f), 0, 1L, false)))
    val corpus0 = Lake.readStore(spark, lake).select(col("k"), col("emb"))
    IncrementalIvfPq.bootstrap(spark, ivf, corpus0, "k", "emb",
      Similarity.ivfCentroids(Lake.readStore(spark, lake), "lbl", "emb"),
      dim = 4, m = 2, kc = 2, upto = 1L)
    // merge 1: user 1's data CHANGES (more history to forget)
    merge(df(
      (1L, "a", "alice revised secret", 12L, vec(1f, 1f, 0f, 0f), 0, 2L, false)))
    refreshAll()
    // the version that still HOLDS the key — the time-travel probe
    val lakeVPre = Snapshot.currentVersion(
      new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(lake)).get
    assert(Lake.readStoreAt(spark, lake, lakeVPre).where(kCond).count() > 0)
    // user 1 invokes the right to be forgotten. STEP 1 — normal ops:
    // tombstone merge + consumer refreshes; current state goes clean
    merge(df(
      (1L, "a", "alice revised secret", 12L, vec(1f, 1f, 0f, 0f), 0, 3L, true)))
    refreshAll()
    // history still physically holds the key everywhere
    val roots = Seq(lake, cdf, view, idx, hist, s"$ivf/codes")
    assert(KeyPurge.verifyNoTrace(spark, roots, kCond, Seq("k")).nonEmpty,
      "fixture broken: nothing to purge")
    // STEP 2+3 — the composed scrub
    val fed = KeyPurge.scrubFeed(spark, cdf, kCond,
      consumers = Seq(view, idx, hist, s"$ivf/codes"))
    assert(fed > 0, "feed scrub found nothing")
    // the tombstone merge already rewrote the lake's CURRENT member,
    // so its scrub is retention-collapse only (returns false); the
    // pre-purge versions it vacuums are what the audit checks below
    KeyPurge.scrubStore(spark, lake, kCond)
    KeyPurge.scrubStore(spark, view, kCond)
    KeyPurge.scrubIndex(spark, idx)
    KeyPurge.scrubIvfPq(spark, ivf)
    assert(IncrementalScd2.purge(spark, hist, kCond), "scd2 purge found nothing")
    // STEP 4 — zero-trace audit over every file of every store
    val offenders = KeyPurge.verifyNoTrace(spark, roots, kCond, Seq("k"))
    assert(offenders.isEmpty, s"key bytes survive in: $offenders")
    // survivors intact, store by store
    assert(Lake.readStore(spark, lake).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    def viewMap = IncrementalView.read(spark, view).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("sum_x")).toMap
    assert(viewMap == Map(2L -> 5L, 3L -> 7L))
    assert(IncrementalIndex.lookupAll(spark, idx, Seq("k"), Seq("public"))
      .collect().map(_.getAs[Long]("k")).toSeq == Seq(2L))
    assert(IncrementalIndex.lookupAll(spark, idx, Seq("k"), Seq("secret"))
      .collect().isEmpty, "purged doc's token still resolves")
    val h = IncrementalScd2.read(spark, hist).collect()
    assert(h.map(_.getAs[Long]("k")).toSet == Set(2L, 3L))
    assert(IncrementalIvfPq.readCodes(spark, ivf).collect()
      .map(_.getAs[Long]("k")).sorted.toSeq == Seq(2L, 3L))
    // time travel: the lake REFUSES pre-purge versions (manifests
    // vacuumed); SCD2 as-of REDACTS (the key's entire lineage is gone)
    intercept[Exception] { Lake.readStoreAt(spark, lake, lakeVPre) }
    assert(IncrementalScd2.asOf(spark, hist, 1L).collect()
      .map(_.getAs[Long]("k")).toSet == Set(2L, 3L),
      "pre-purge as-of resurfaced the key")
    // replay adds nothing: the tombstone re-merges to an empty feed,
    // every scrub re-runs idempotently, the audit stays clean
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    val codes = new Path(s"$ivf/codes")
    // readCodes drops the sign, so a second fold of the IVF-PQ feed
    // shows as a new segment in the codes store's member list
    def contents = (rows(IncrementalIndex.read(spark, idx)),
      rows(IncrementalScd2.read(spark, hist)),
      rows(IncrementalIvfPq.readCodes(spark, ivf)),
      Snapshot.resolve(
        codes.getFileSystem(spark.sparkContext.hadoopConfiguration), codes))
    val before = contents
    merge(df(
      (1L, "a", "alice revised secret", 12L, vec(1f, 1f, 0f, 0f), 0, 3L, true)))
    refreshAll()
    // every consumer's watermark survived scrubStore, compaction and
    // purge: the refresh folded no entry a second time
    assert(viewMap == Map(2L -> 5L, 3L -> 7L))
    assert(contents == before)
    assert(KeyPurge.scrubFeed(spark, cdf, kCond,
      Seq(view, idx, hist, s"$ivf/codes")) == 0)
    assert(!KeyPurge.scrubStore(spark, lake, kCond))
    KeyPurge.scrubIndex(spark, idx)
    KeyPurge.scrubIvfPq(spark, ivf)
    assert(!IncrementalScd2.purge(spark, hist, kCond))
    assert(KeyPurge.verifyNoTrace(spark, roots, kCond, Seq("k")).isEmpty)
    assert(Lake.readStore(spark, lake).count() == 2)
    // a scrub that does rewrite a consumer store (its cond still
    // matches live rows) carries the watermark onto the new member
    assert(KeyPurge.scrubStore(spark, view, col("k") === 3L))
    IncrementalView.refresh(spark, view, cdf, Seq("k"), Seq("x"))
    assert(viewMap == Map(2L -> 5L))
  }

  test("IncrementalIndex/IncrementalScd2: randomized merge sequences equal recompute (seeded)") {
    import graft.examples.{IncrementalIndex, IncrementalScd2}
    val words = Array("alpha", "beta", "gamma", "delta", "eps")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val base = TestSpark.tmpDir(s"idx-fuzz-$seed")
      val dir = s"$base/t"; val cdf = s"$base/changes"
      val idx = s"$base/idx"; val hist = s"$base/hist"
      val toks = expr("filter(split(text, ' '), w -> w <> '')")
      // in-JVM reference history: key -> list of (text, from, to)
      val ref = scala.collection.mutable.Map[Long,
        scala.collection.mutable.ArrayBuffer[(String, Long, Option[Long])]]()
      val live = scala.collection.mutable.Map[Long, String]()
      var ver = 0L
      for (_ <- 1 to 4) {
        ver += 1
        val rows = (0 until 5).map { _ =>
          val k = rnd.nextInt(8).toLong
          val text = (0 until 1 + rnd.nextInt(4))
            .map(_ => words(rnd.nextInt(words.length))).mkString(" ")
          (k, text, ver, rnd.nextInt(4) == 0)
        }.groupBy(_._1).map(_._2.head).toSeq
        graft.sources.Lake.mergeInto(spark,
          dir, rows.toDF("k", "text", "ver", "is_delete"),
          Seq("k"), Seq("ver"), Some(col("is_delete")),
          changeDir = Some(cdf), cdfPreImages = true)
        // feed entry id k = ver - 1 (ids start at 0, one entry per
        // CHANGE-carrying merge; every batch here changes something
        // because ver strictly grows and texts/tombstones differ —
        // but a batch CAN be a pure no-op if every row deletes
        // already-absent keys; derive the id from the store watermark
        // instead of assuming)
        val entryId = IncrementalIndex.refresh(spark, idx, cdf, Seq("k"),
          toks, compactAt = 3)
        IncrementalScd2.refresh(spark, hist, cdf, Seq("k"), Seq("text"))
        // maintain the reference history with the same close/open rule
        for ((k, text, _, isDel) <- rows) {
          val had = live.contains(k)
          if (isDel) {
            if (had) {
              val buf = ref(k)
              val i = buf.lastIndexWhere(_._3.isEmpty)
              buf(i) = (buf(i)._1, buf(i)._2, Some(entryId))
              live.remove(k)
            }
          } else {
            // a matched key ALWAYS updates here: the feed publishes an
            // update iff the ORDER tuple changed, and ver strictly
            // grows per batch
            if (had) {
              val buf = ref(k)
              val i = buf.lastIndexWhere(_._3.isEmpty)
              buf(i) = (buf(i)._1, buf(i)._2, Some(entryId))
            }
            ref.getOrElseUpdate(k,
              scala.collection.mutable.ArrayBuffer()) +=
              ((text, entryId, None))
            live(k) = text
          }
        }
        // index equals re-tokenizing the merged store
        val got = IncrementalIndex.read(spark, idx).collect()
          .map(r => (r.getAs[String]("token"), r.getAs[Long]("k")) ->
            r.getAs[Long]("tf")).toMap
        val want = graft.sources.Lake.readStore(spark, dir)
          .select(col("k"), explode(toks).as("token"))
          .groupBy("token", "k").agg(count(lit(1)).as("tf")).collect()
          .map(r => (r.getAs[String]("token"), r.getAs[Long]("k")) ->
            r.getAs[Long]("tf")).toMap
        assert(got == want, s"seed=$seed ver=$ver: index diverged")
        // history equals the in-JVM reference fold
        val gotHist = IncrementalScd2.read(spark, hist).collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[String]("text"),
            r.getAs[Long]("valid_from"),
            Option(r.getAs[java.lang.Long]("valid_to")).map(_.longValue)))
          .toSet
        val wantHist = ref.flatMap { case (k, buf) =>
          buf.map { case (t, f, to) => (k, t, f, to) } }.toSet
        assert(gotHist == wantHist,
          s"seed=$seed ver=$ver: history ${gotHist.diff(wantHist)} / ${wantHist.diff(gotHist)}")
      }
    }
  }

  test("IncrementalIndex.bm25Lookup equals the direct BM25 over the merged store") {
    import graft.examples.{IncrementalIndex, IncrementalView}
    val base = TestSpark.tmpDir("idx-bm25")
    val dir = s"$base/t"; val cdf = s"$base/changes"
    val idx = s"$base/idx"; val dlv = s"$base/dl"
    def df(rows: (Long, String, Long, Boolean)*) =
      rows.toDF("k", "text", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    val toks = expr("filter(split(text, ' '), w -> w <> '')")
    def refresh(): Unit = {
      IncrementalIndex.refresh(spark, idx, cdf, Seq("k"), toks)
      IncrementalIndex.refreshDocLens(spark, dlv, cdf, Seq("k"), toks)
      ()
    }
    merge(df((1L, "join the stream join", 1L, false),
      (2L, "window the stream", 1L, false),
      (3L, "join a window now", 1L, false),
      (4L, "nothing relevant here", 1L, false)))
    refresh()
    // update doc 2 (drops 'stream'), delete doc 4 — stats must follow
    merge(df((2L, "window the table", 2L, false),
      (4L, "nothing relevant here", 2L, true)))
    refresh()
    val terms = Seq("join", "stream", "window")
    val got = IncrementalIndex.bm25Lookup(spark, idx, dlv, Seq("k"),
      terms, topK = 10).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("bm25")).toMap
    // the q112 formula computed directly from the merged store
    val tk = graft.sources.Lake.readStore(spark, dir)
      .select(col("k"), explode(toks).as("w"))
    val dl = tk.groupBy("k").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = tk.where(col("w").isin(terms: _*))
      .groupBy("k", "w").agg(count(lit(1)).as("tf"))
    val dfw = tf.groupBy("w").agg(count(lit(1)).cast("double").as("dfw"))
    val want = tf.join(broadcast(dfw), "w").join(dl, "k")
      .crossJoin(broadcast(stats))
      .select(col("k"),
        (log((col("n") - col("dfw") + 0.5) / (col("dfw") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .as("sc"))
      .groupBy("k").agg(sum("sc").as("bm25")).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("bm25")).toMap
    assert(got.keySet == want.keySet, s"bm25 candidate sets: $got vs $want")
    got.foreach { case (k, sc) =>
      assert(math.abs(sc - want(k)) < 1e-9, s"doc $k: $sc vs ${want(k)}")
    }
    // the doc-length view advanced with the feed (doc 2 shrank from
    // pre-image cancellation; doc 4 left)
    val dls = IncrementalView.read(spark, dlv).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Long]("sum_n_toks")).toMap
    assert(dls == Map(1L -> 4L, 2L -> 3L, 3L -> 4L))
  }

  test("IncrementalIndex: refresh appends segments, never rewrites them; compaction folds") {
    import org.apache.hadoop.fs.Path
    import graft.examples.IncrementalIndex
    val base = TestSpark.tmpDir("inc-idx-seg")
    val dir = s"$base/t"; val cdf = s"$base/changes"; val idx = s"$base/idx"
    def df(rows: (Long, String, Long, Boolean)*) =
      rows.toDF("k", "text", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    val toks = expr("filter(split(text, ' '), w -> w <> '')")
    def refresh(compactAt: Int = 8): Long =
      IncrementalIndex.refresh(spark, idx, cdf, Seq("k"), toks, compactAt)
    val store = new Path(idx)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def members = graft.sources.Snapshot.resolve(fs, store).get
    def fileSizes(m: Path): Map[String, Long] =
      fs.listStatus(m).filter(_.isFile).map(s =>
        s.getPath.getName -> s.getLen).toMap
    def postings = IncrementalIndex.read(spark, idx).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("k")) ->
        r.getAs[Long]("tf")).toMap

    merge(df((1L, "a b b", 1L, false)))
    refresh()
    assert(members.length == 1)
    val seg1 = members.head
    val seg1Files = fileSizes(seg1)
    // second refresh APPENDS a diff-sized segment — the hot path
    // never reads, joins, or rewrites the existing index
    merge(df((2L, "b c", 1L, false), (1L, "a b", 2L, false)))
    refresh()
    assert(members.length == 2, s"expected append, got ${members.length} members")
    assert(members.contains(seg1) && fileSizes(seg1) == seg1Files,
      "refresh rewrote an existing segment")
    // merge-on-read nets the signed totals: b in doc 1 went 2 -> 1
    assert(postings == Map(("a", 1L) -> 1L, ("b", 1L) -> 1L,
      ("b", 2L) -> 1L, ("c", 2L) -> 1L))
    // explicit compaction folds to ONE member, preserves postings AND
    // the watermark
    IncrementalIndex.compact(spark, idx)
    assert(members.length == 1)
    assert(postings == Map(("a", 1L) -> 1L, ("b", 1L) -> 1L,
      ("b", 2L) -> 1L, ("c", 2L) -> 1L))
    // version-keyed feed ids (round 14): two merges = versions 1, 2
    assert(refresh() == 2L, "compaction moved the applied-upto watermark")
    // auto-compaction: with compactAt = 2 the next refresh folds
    merge(df((3L, "c d", 1L, false)))
    refresh(compactAt = 2)
    assert(members.length == 1, "auto-compaction did not trigger")
    assert(postings(("d", 3L)) == 1L)
    // a posting netted to zero by later segments is GONE from reads
    // even before compaction folds it physically
    merge(df((3L, "c d", 2L, true)))
    refresh()
    assert(members.length == 2)
    assert(!postings.contains(("d", 3L)), "zero-total posting visible")
    IncrementalIndex.compact(spark, idx)
    assert(!postings.contains(("d", 3L)))
  }

  test("IncrementalView.readDistinct: NULL fine values count rows, not distincts") {
    import graft.examples.IncrementalView
    val base = TestSpark.tmpDir("inc-distinct")
    val dir = s"$base/t"; val cdf = s"$base/changes"; val viewDir = s"$base/view"
    def df(rows: (Long, String, Option[String], Long, Boolean)*) =
      rows.toDF("k", "g", "v", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    def refresh(): Long =
      IncrementalView.refresh(spark, viewDir, cdf, Seq("g", "v"), Nil)
    def distinct = IncrementalView
      .readDistinct(spark, viewDir, Seq("g"), Seq("v")).collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n_distinct"), r.getAs[Long]("n"))).toMap
    merge(df((1L, "a", Some("x"), 1L, false), (2L, "a", Some("x"), 1L, false),
      (3L, "a", Some("y"), 1L, false), (4L, "a", None, 1L, false),
      (5L, "b", Some("z"), 1L, false)))
    refresh()
    // a: values {x, x, y, NULL} → 2 distinct over 4 rows (SQL's
    // COUNT(DISTINCT) ignores NULL)
    assert(distinct == Map("a" -> (2L, 4L), "b" -> (1L, 1L)))
    // drop one of the two x's: the distinct count must NOT decrement
    // (the other x survives) — the reason the view lives at (g, v)
    merge(df((1L, "a", Some("x"), 2L, true)))
    refresh()
    assert(distinct("a") == ((2L, 3L)), s"duplicate departure broke distinct: $distinct")
    // drop the last x: now the value leaves
    merge(df((2L, "a", Some("x"), 2L, true)))
    refresh()
    assert(distinct("a") == ((1L, 2L)))
  }

  test("IncrementalScd2: close/open intervals equal the replayed history; asOf time-travels") {
    import graft.examples.IncrementalScd2
    val base = TestSpark.tmpDir("inc-scd2")
    val dir = s"$base/t"; val cdf = s"$base/changes"; val hist = s"$base/hist"
    def df(rows: (Long, String, Long, Boolean)*) =
      rows.toDF("k", "status", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame): Unit =
      graft.sources.Lake.mergeInto(spark, dir, b,
        Seq("k"), Seq("ver"), Some(col("is_delete")),
        changeDir = Some(cdf), cdfPreImages = true)
    def refresh(): Long =
      IncrementalScd2.refresh(spark, hist, cdf, Seq("k"), Seq("status"))
    def rows = IncrementalScd2.read(spark, hist).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("status"),
        r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.longValue),
        r.getAs[Boolean]("is_current"))).toSet

    merge(df((1L, "new", 1L, false), (2L, "new", 1L, false)))
    // version-keyed feed ids (round 14): interval stamps ARE the
    // snapshot versions now — the first merge opens intervals at 1
    assert(refresh() == 1L)
    assert(rows == Set((1L, "new", 1L, None, true),
      (2L, "new", 1L, None, true)))
    // update k=1 (close at 1, open at 1), delete k=2 (close only),
    // insert k=3
    merge(df((1L, "shipped", 2L, false), (2L, "new", 2L, true),
      (3L, "new", 1L, false)))
    assert(refresh() == 2L)
    assert(rows == Set(
      (1L, "new", 1L, Some(2L), false),
      (1L, "shipped", 2L, None, true),
      (2L, "new", 1L, Some(2L), false),
      (3L, "new", 2L, None, true)), s"history wrong: $rows")
    // asOf(1) = state after the first merge; asOf(2) = current state
    // (stamps are the version-keyed feed ids)
    def asOfSet(v: Long) = IncrementalScd2.asOf(spark, hist, v).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("status")).toSet
    assert(asOfSet(1L) == Set(1L -> "new", 2L -> "new"))
    assert(asOfSet(2L) == Set(1L -> "shipped", 3L -> "new"))
    // crash-replayed merge → empty feed → history unmoved
    merge(df((1L, "shipped", 2L, false)))
    assert(refresh() == 2L)
    assert(rows.size == 4)
    // closed versions are IMMUTABLE segments: a later fold must not
    // rewrite them (only the current member rewrites — bounded by
    // live keys, never by history length)
    val store = new org.apache.hadoop.fs.Path(hist)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def closedSegs = graft.sources.Snapshot.resolve(fs, store).get
      .filterNot(_.getName.endsWith("-cur"))
    def sizes(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(_.isFile)
        .map(s => s.getPath.getName -> s.getLen).toMap
    val seg0 = closedSegs.head
    val seg0Files = sizes(seg0)
    // a second update of the same key chains intervals
    // version 4's entry (the replayed version 3 published nothing)
    merge(df((1L, "done", 3L, false)))
    assert(refresh() == 4L)
    assert(rows.contains((1L, "shipped", 2L, Some(4L), false)))
    assert(rows.contains((1L, "done", 4L, None, true)))
    assert(asOfSet(2L) == Set(1L -> "shipped", 3L -> "new"),
      "history rewrote the past")
    assert(closedSegs.length == 2, s"expected a new closed segment")
    assert(closedSegs.contains(seg0) && sizes(seg0) == seg0Files,
      "a fold rewrote an existing closed segment")
  }

  test("mergeIntoChecked: expectations quarantine bad rows, exempt tombstones, replay-safe") {
    import org.apache.hadoop.fs.Path
    val base = TestSpark.tmpDir("merge-checked")
    val dir = s"$base/t"; val qdir = s"$base/quarantine"
    def df(rows: (Long, Option[Long], Long, Boolean)*) =
      rows.toDF("k", "x", "ver", "is_delete")
    def merge(b: org.apache.spark.sql.DataFrame, batch: String) =
      graft.sources.Lake.mergeIntoChecked(spark, dir, b,
        Seq("k"), Seq("ver"), col("x") >= 0, "x >= 0", qdir, batch,
        isDelete = Some(col("is_delete")))
    def state = graft.sources.Lake.readStore(spark, dir).collect()
      .map(r => r.getAs[Long]("k") ->
        Option(r.getAs[java.lang.Long]("x")).map(_.longValue)).toMap
    // bad value (-5) and NULL expectation input both quarantine; the
    // two good rows merge
    val (p1, q1) = merge(df((1L, Some(10L), 1L, false),
      (2L, Some(-5L), 1L, false), (3L, None, 1L, false),
      (4L, Some(7L), 1L, false)), "b1")
    assert((p1, q1) == ((2L, 2L)))
    assert(state == Map(1L -> Some(10L), 4L -> Some(7L)))
    val quarantined = graft.sources.Lake.readQuarantine(spark, qdir)
      .collect().map(r => (r.getAs[Long]("k"),
        r.getAs[String]("_expect"), r.getAs[String]("batch"))).toSet
    assert(quarantined == Set((2L, "x >= 0", "b1"), (3L, "x >= 0", "b1")))
    // a tombstone with a null attribute is EXEMPT: the delete applies
    val (p2, q2) = merge(df((1L, None, 2L, true)), "b2")
    assert((p2, q2) == ((1L, 0L)))
    assert(state == Map(4L -> Some(7L)))
    // replaying batch b1 re-merges idempotently and does NOT duplicate
    // the quarantine entry
    merge(df((1L, Some(10L), 1L, false), (2L, Some(-5L), 1L, false),
      (3L, None, 1L, false), (4L, Some(7L), 1L, false)), "b1")
    assert(graft.sources.Lake.readQuarantine(spark, qdir).count() == 2)
    // physical-delete contract (same as q63/mergeInto): the b2
    // tombstone was APPLIED and removed, so replaying the OLDER b1
    // legitimately resurrects k=1 — replay identity protects the
    // QUARANTINE from duplication, while per-key ordered redelivery
    // (the changefeed's own guarantee) protects the store
    assert(state == Map(1L -> Some(10L), 4L -> Some(7L)))
    // a crash-truncated quarantine entry (no _SUCCESS) is rewritten on
    // replay, not skipped
    val fs = new Path(qdir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$qdir/batch=b1/_SUCCESS"), false)
    merge(df((2L, Some(-5L), 1L, false)), "b1")
    assert(fs.exists(new Path(s"$qdir/batch=b1/_SUCCESS")),
      "truncated quarantine entry was not recovered")
    assert(graft.sources.Lake.readQuarantine(spark, qdir)
      .where(col("batch") === "b1").count() == 1)
  }

  test("EpochShuffle.writeShards: deterministic layout, one file per shard, permutation order") {
    import graft.examples.EpochShuffle
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out1 = TestSpark.tmpDir("epoch1") + "/e"
    val out2 = TestSpark.tmpDir("epoch2") + "/e"
    val n = EpochShuffle.writeShards(docs, col("doc_id"), "ep7", 8, out1)
    assert(n == docs.count(), "rows lost in the shuffle write")
    EpochShuffle.writeShards(docs, col("doc_id"), "ep7", 8, out2)
    // every shard dir holds exactly one data file, rows inside in
    // permutation (h64, doc_id) order
    val fs = new org.apache.hadoop.fs.Path(out1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shards = fs.listStatus(new org.apache.hadoop.fs.Path(out1))
      .map(_.getPath).filter(_.getName.startsWith("shard="))
    assert(shards.nonEmpty)
    shards.foreach { sh =>
      val files = fs.listStatus(sh).map(_.getPath.getName)
        .filter(f => !f.startsWith("_") && !f.startsWith("."))
      assert(files.length == 1, s"${sh.getName}: ${files.toSeq}")
      val got = spark.read.parquet(sh.toString)
        .select("h64", "doc_id").collect()
        .map(r => (r.getAs[Long]("h64"), r.getAs[Long]("doc_id")))
      assert(got.sameElements(got.sortBy(identity)),
        s"${sh.getName} not in permutation order")
    }
    // identical (seed, corpus) → identical shard contents, run to run
    val a = spark.read.parquet(out1).select("doc_id", "shard", "h64")
      .collect().map(r => (r.getLong(0), r.getAs[Int]("shard"), r.getLong(2))).sorted
    val b = spark.read.parquet(out2).select("doc_id", "shard", "h64")
      .collect().map(r => (r.getLong(0), r.getAs[Int]("shard"), r.getLong(2))).sorted
    assert(a.sameElements(b), "epoch shuffle not replayable")
    // a different seed is a different permutation
    val out3 = TestSpark.tmpDir("epoch3") + "/e"
    EpochShuffle.writeShards(docs, col("doc_id"), "ep8", 8, out3)
    val c = spark.read.parquet(out3).select("doc_id", "shard", "h64")
      .collect().map(r => (r.getLong(0), r.getAs[Int]("shard"), r.getLong(2))).sorted
    assert(!a.sameElements(c), "seed does not vary the permutation")
  }

  test("q177 CMS: estimates dominate exact counts; cells merge by addition") {
    // the Count-Min guarantee: est >= exact for every probe (a cell
    // only ever ADDS other keys' counts)
    val out = SparkEntry.queries("q177_cms_freq")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("exact"),
        s"CMS under-counted '${r.getAs[String]("w")}'")
      assert(r.getAs[Long]("over") >= 0L)
    }
    // mergeability: half-corpus sketches summed cell-wise == the
    // whole-corpus sketch (cells ADD — the same incremental-lakehouse
    // contract as q149's HLLs and q157's histogram bins)
    val docsDf = graft.Tables.documents(spark, sf)
    def cells(df: org.apache.spark.sql.DataFrame) =
      graft.functions.CountMin.cells(df
        .select(explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w")),
        "w", depth = 4, width = 256)
    val whole = cells(docsDf)
    val halves = cells(docsDf.where(col("doc_id") % 2 === 0))
      .unionAll(cells(docsDf.where(col("doc_id") % 2 === 1)))
      .groupBy("i", "b").agg(sum("c").as("c"))
    assert(halves.exceptAll(whole).isEmpty &&
      whole.exceptAll(halves).isEmpty, "CMS cells are not additive")
  }

  test("q175 semantic dedup: cluster champions survive, drops have partners") {
    val out = SparkEntry.queries("q175_semantic_dedup")(spark, sf)
      .transform(graft.queries.Det.pin)
    // the dominance rule can never drop a cluster's centroid champion
    // (max rounded csim, ties to the smaller id): nothing dominates it
    import org.apache.spark.sql.expressions.Window
    val champDropped = out.withColumn("rn", row_number().over(
        Window.partitionBy("label")
          .orderBy(col("csim").desc, col("vec_id").asc)))
      .where(col("rn") === 1 && !col("keep")).count()
    assert(champDropped == 0, "a cluster's centroid champion was dropped")
    // and a dropped member always has at least one near-dup partner
    assert(out.where(!col("keep") && col("n_dups") === 0).count() == 0,
      "dropped a doc with no near-dup partner")
    out.unpersist()
  }

  test("bloom index: native footer blooms, file pruning, probe/build hash parity") {
    import graft.sources.BloomIndex
    import scala.jdk.CollectionConverters._
    val dir = TestSpark.tmpDir("bloomidx") + "/t"
    val df = spark.range(0, 20000).select(
      (col("id") * 2654435761L % 100000L).as("k"), col("id").as("v"))
    BloomIndex.writeIndexed(df, "k", dir, files = 16,
      expectedNdvPerFile = 1500L)
    // build-side (md5/conv expressions) and probe-side (MessageDigest)
    // hashing must agree position-for-position — drift here silently
    // turns pruning into wrong-answers-by-omission
    val parity = spark.range(0, 200).select(col("id").cast("string").as("s"))
      .select(col("s") +: (0 until 4).map(j =>
        (conv(substring(md5(concat(lit(s"bf$j:"), col("s"))), 1, 15), 16, 10)
          .cast("long") % lit(8192L)).cast("int").as(s"p$j")): _*)
      .collect()
    parity.foreach { r =>
      val want = BloomIndex.probePositions(r.getString(0), 8192, 4)
      val got = (1 to 4).map(r.getInt)
      assert(got == want, s"hash drift for '${r.getString(0)}': $got vs $want")
    }
    // native per-row-group parquet bloom present in every data file
    val conf = spark.sparkContext.hadoopConfiguration
    val dataFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(dataFiles.length == 16)
    dataFiles.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val off = r.getFooter.getBlocks.asScala.head.getColumns.asScala
          .find(_.getPath.toDotString == "k").get.getBloomFilterOffset
        assert(off >= 0, s"${f.getName}: no native bloom on k")
      } finally r.close()
    }
    // point lookup: prunes to ~1 file (+fp), result equals a full scan
    val key = df.where(col("v") === 1234).select("k").head().getLong(0)
    val (hit, cand, total) = BloomIndex.pointLookup(spark, dir, "k", key.toString)
    assert(total == 16 && cand >= 1 && cand <= total / 2,
      s"weak pruning: $cand of $total files")
    val expect = df.where(col("k") === key)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = hit.select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == expect, "pruned lookup lost rows")
    // an absent key reads (almost) nothing and returns nothing
    val (miss, candM, _) = BloomIndex.pointLookup(spark, dir, "k", "123456789")
    assert(miss.count() == 0 && candM <= 2,
      s"absent key matched $candM files")
    // sidecar rebuild is idempotent
    BloomIndex.rebuildSidecar(spark, dir, "k")
    val (hit2, cand2, _) = BloomIndex.pointLookup(spark, dir, "k", key.toString)
    assert(cand2 == cand && hit2.count() == hit.count())
  }

  test("cdc chunking: lossless, re-synchronizes after an insertion where fixed chunking loses everything") {
    val base = (1 to 400).map(i => s"w$i").mkString(" ")
    val edited = "INSERTED " + base // one token prepended: every offset shifts
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val cdc = graft.operators.TextDedup
      .cdcChunks(df, "doc_id", "text", window = 4, mod = 16)
      .orderBy("doc_id", "ci").select("doc_id", "chunk")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val c1 = cdc.filter(_._1 == 1L).map(_._2)
    val c2 = cdc.filter(_._1 == 2L).map(_._2)
    // lossless: chunks concatenate back to the original text, in order
    assert(c1.mkString(" ") == base && c2.mkString(" ") == edited)
    // boundaries are content-local: past the first window after the
    // insertion the chunkings re-align, so most chunks are shared
    val shared = c1.toSet intersect c2.toSet
    assert(shared.nonEmpty && shared.size >= c1.length - 2,
      s"CDC chunks failed to re-synchronize: ${shared.size} of ${c1.length}")
    // the fixed 10-token chunker (q108's rule) shares NOTHING under
    // the same one-token shift — the failure mode cdcChunks removes
    def fixed(t: String) = t.split(" ").grouped(10).map(_.mkString(" ")).toSet
    assert((fixed(base) intersect fixed(edited)).isEmpty,
      "fixture must actually misalign the fixed chunker")
  }

  test("dedupCdcChunks: first occurrence survives, later copies are cut in place") {
    val para = (1 to 120).map(i => s"p$i").mkString(" ")
    val a = para + " " + (1 to 80).map(i => s"a$i").mkString(" ")
    val b = (1 to 60).map(i => s"b$i").mkString(" ") + " " + para
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val m = graft.operators.TextDedup
      .dedupCdcChunks(df, "doc_id", "text", window = 4, mod = 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 owns every first occurrence (its tokens are unique) —
    // rewritten text is byte-identical
    assert(m(1L) == a, "keeper doc must survive unchanged")
    // doc 2 loses the copied paragraph's interior: strictly shorter,
    // and what survives is a contiguous-span subsequence of the
    // original (chunks are spans; dedup only CUTS, never reorders)
    assert(m(2L).length < b.length, "copied paragraph not cut")
    val bToks = b.split(" ")
    val kept = m(2L).split(" ")
    var i = 0
    kept.foreach { t => i = bToks.indexOf(t, i); assert(i >= 0); i += 1 }
    // most of the 120 copied tokens are gone (boundary-edge chunks
    // blending b-prefix into the paragraph may legitimately survive)
    val pLeft = kept.count(_.startsWith("p"))
    assert(pLeft <= 40, s"$pLeft of 120 copied tokens survived")
  }

  test("q176 temperature mix: cuts sit between full balance and identity") {
    def cutsOf(key: String): Map[String, Long] =
      SparkEntry.queries(key)(spark, sf)
        .select("lang", "cut").distinct().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val temp = cutsOf("q176_temperature_mix")
    val bal = cutsOf("q159_mixture_sample")
    // the smallest language keeps everything under both diets
    assert(temp.values.max == 10000L)
    // α=0.5 damping is strictly gentler than full balance:
    // balance-cut ≤ temperature-cut on every language both emit
    (temp.keySet intersect bal.keySet).foreach { l =>
      assert(bal(l) <= temp(l),
        s"$l: balance cut ${bal(l)} > temperature cut ${temp(l)}")
    }
  }
}
