package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** CDC envelope analytics — the reference's actual end-to-end
  * computation (SURVEY.md §2.8). The reference consumes CockroachDB
  * changefeed ndjson envelopes `{after:{...}, key:[...], updated:"hlc"}`
  * with Synapse serverless T-SQL: `JSON_VALUE(line,'$.after."city"')` +
  * `CAST(... AS float)` + `SUM ... GROUP BY`
  * (/root/reference/README.md:135-138,173-192).
  *
  * Spark-first re-expression: `to_json(struct(...))` builds the
  * envelope, `get_json_object` is the schema-less JSON_VALUE twin, and
  * the aggregate is a plain partial+final hash aggregate. At 100 TB
  * the envelope serialize/parse is pure map-side codegen'd work —
  * the only shuffle is the final tiny group-by key. */
object CdcQueries {

  /** q60: the README query, end-to-end. Orders are serialized into CDC
    * envelope JSON lines (revenue as a string decimal, matching CRDB's
    * JSON encoding of DECIMAL — SURVEY §7.4-7), parsed back
    * schema-on-read, and aggregated per market segment (the movr
    * `city` stand-in; README.md:178-179,191). */
  private def q60(s: SparkSession, d: String): DataFrame = {
    // customer broadcasts, so the join (and all the JSON work above
    // it) would run on the orders scan's own partitioning — spread it
    // so the envelope serialize/parse parallelizes (no-op at scale).
    val o = spread(s, orders(s, d)); val c = customer(s, d)
    val lines = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(to_json(struct(
        struct(
          col("o_orderkey").as("id"),
          col("c_mktsegment").as("city"),
          round(col("o_totalprice"), 2).cast("string").as("revenue")).as("after"),
        array(col("c_mktsegment"), col("o_orderkey").cast("string")).as("key"),
        concat(col("o_orderkey").cast("string"), lit("0000000000.0000000000"))
          .as("updated"))).as("line"))
    lines
      .select(
        get_json_object(col("line"), "$.after.city").as("city"),
        get_json_object(col("line"), "$.after.revenue").cast("double").as("rev"))
      .groupBy("city")
      .agg(count(lit(1)).as("n_rides"), round(sum("rev"), 2).as("total_revenue"))
      .orderBy("city")
  }

  /** q61: upsert materialization — latest post-image per key, the
    * standard consumer of an at-least-once, per-key-ordered changefeed
    * (README.md:90,137). One shuffle by key; rank-1 filter keeps state
    * bounded per key at any scale. Ties (same truncated second) break
    * on event_id DESC for determinism (SURVEY §7.4-4). */
  private def q61(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).withColumn("tsec", date_trunc("second", col("ts")))
    val w = Window.partitionBy("user_id")
      .orderBy(col("tsec").desc, col("event_id").desc)
    e.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("val"), col("tsec"))
      .transform(Det.emitWide(_, "user_id"))
  }

  /** q62: duplicate elimination across at-least-once redelivery
    * (README.md:90) — hash-distinct on the carried columns. */
  private def q62(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select("user_id", "event_type")
      .distinct()
      .orderBy("user_id", "event_type")

  /** q63: delete-aware upsert — the tombstone-applying form of q61.
    * CRDB changefeeds emit deletes as `after: null` envelopes
    * (README.md:135-138; the movr workload runs DELETEs,
    * README.md:140). Here `event_type = 'error'` rows stand in for
    * delete envelopes: each event becomes a wrapped envelope whose
    * post-image is null for deletes, and the replayed state is
    * latest-record-per-key with a winning tombstone REMOVING the key
    * (CdcStreams.latestByKey with isDelete). Same scale shape as q61:
    * one shuffle by key, rank-1 filter, then a map-side tombstone
    * filter. */
  private def q63(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).withColumn("tsec", date_trunc("second", col("ts")))
    // null-safe delete test: only event_type = 'error' is a tombstone;
    // a NULL event_type must keep its post-image (a bare =!= is NULL
    // for NULL input, which when() treats as false — silently turning
    // null-typed events into deletes while the oracle keeps them).
    val env = e.select(
      when(!(col("event_type") <=> "error"),
        struct(col("event_id"), col("event_type"),
          round(col("value"), 2).as("val"), col("tsec"))).as("after"),
      col("user_id"), col("tsec"), col("event_id"))
    graft.streaming.CdcStreams
      .latestByKey(env, Seq("user_id"), Seq("tsec", "event_id"),
        isDelete = Some(col("after").isNull))
      .select(col("user_id"), col("after.event_id").as("event_id"),
        col("after.event_type").as("event_type"), col("after.val").as("val"),
        col("after.tsec").as("tsec"))
      .transform(Det.emitWide(_, "user_id"))
  }

  /** q117: SCD2 history build — the full-history twin of q61's
    * latest-snapshot: every change event becomes a dimension VERSION
    * row with [valid_from, valid_to) validity and an is_current flag
    * (valid_to = next version's valid_from; open-ended for the head).
    * This is what a warehouse keeps when the CDC consumer must answer
    * "what did the row look like at time T". One window over the
    * per-key change sequence: partitioned by the high-cardinality
    * user_id, so parallelism grows with the key space at any scale;
    * emits epoch seconds (SURVEY §2.0-③). */
  private def q117(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsec"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("val"),
        date_trunc("second", col("ts")).as("tsec"))
      .withColumn("version", row_number().over(w))
      .withColumn("vt", lead(col("tsec"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_id"),
        col("event_type"), col("val"),
        unix_timestamp(col("tsec")).as("valid_from_s"),
        unix_timestamp(col("vt")).as("valid_to_s"),
        col("vt").isNull.cast("int").as("is_current"))
      .transform(Det.emitWide(_, "user_id", "version"))
  }

  /** q136: point-in-time (as-of) snapshot — the CDC consumer's
    * time-travel read: each key's state as of 2024-01-15T00:00:00Z,
    * i.e. the q117 version whose [valid_from, valid_to) interval
    * contains the instant (an event landing EXACTLY on the as-of
    * boundary is visible — closed lower bound). Deliberately NOT
    * implemented by building the full history: the scale-honest plan
    * filters the change stream to tsec <= asof and takes latest-by-key
    * — one pushed-down scan filter + one key-keyed max(struct)
    * aggregate, no window, no join. The q117 interval semantics and
    * this aggregate agree by construction; the ORACLE asserts that by
    * computing the same snapshot THROUGH the interval form. */
  private def q136(s: SparkSession, d: String): DataFrame = {
    val asof = lit("2024-01-15 00:00:00").cast("timestamp")
    events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("val"),
        date_trunc("second", col("ts")).as("tsec"))
      .where(col("tsec") <= asof)
      .groupBy("user_id")
      .agg(max(struct(col("tsec"), col("event_id"), col("event_type"),
        col("val"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("event_id"),
        col("m.event_type").as("event_type"), col("m.val").as("val"),
        unix_timestamp(col("m.tsec")).as("valid_from_s"))
      .transform(Det.emitWide(_, "user_id"))
  }

  /** Per-app fixture store dirs (the q145/q149 pattern): unique per
    * (tag, app, sf) so concurrent runs never clobber each other, and
    * reclaimed at JVM exit so bench loops don't leak tmp dirs. */
  private val fixtureStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val fixtureCleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      fixtureStores.forEach { p =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(p))
      }))
  private def fixtureStore(s: SparkSession, tag: String, d: String): String = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_store_${tag}_" +
      s.sparkContext.applicationId + "_" + d.replaceAll("[^A-Za-z0-9]", "_")
    fixtureStores.add(path)
    fixtureCleanup
    path
  }

  /** q161: snapshot version DIFF — "what changed between store version
    * 1 and version 2?", answered from TIME TRAVEL over the versioned
    * merge store (the jar-free versionAsOf): build v1 from a keyed
    * orders projection, MERGE a second batch of updates (+1.00 price
    * on keys ≡0 mod 5), deletes (keys ≡0 mod 11, tombstoned), and
    * inserts (keys ≡0 mod 3 ∧ ≡0 mod 7), then full-outer join
    * `readStoreAt(v1)` against `readStoreAt(v2)` on the key: _op =
    * insert / delete / update (update detected on the null-safe ORDER
    * tuple, the same rule the merge change feed uses). The oracle
    * reconstructs both versions RELATIONALLY from orders — if the
    * store's swap, retention, or manifest machinery dropped or
    * duplicated a row, the reconstruction diverges and the hash
    * catches it. Scale shape: the diff is one key-keyed full-outer
    * join (both sides fact-sized — the necessary shuffle); everything
    * else is the merge protocol's own bounded work. */
  private def q161(s: SparkSession, d: String): DataFrame = {
    val dir = fixtureStore(s, "snapdiff", d)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // k % 4 = 1 scopes the fixture to a quarter of orders: the key
    // tests the snapshot PROTOCOL, not merge throughput, and 4 is
    // coprime with every mod class below so all op kinds stay
    // populated
    val base = orders(s, d).where(col("o_orderkey") % 4 === 1)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
    val b1 = base.where(col("k") % 3 =!= 0)
      .withColumn("ver", lit(1L)).withColumn("is_delete", lit(false))
    graft.sources.Lake.mergeInto(s, dir, b1,
      Seq("k"), Seq("ver"), Some(col("is_delete")))
    val upd = base.where(col("k") % 3 =!= 0 && col("k") % 5 === 0)
      .withColumn("price", col("price") + 1.0)
      .withColumn("is_delete", lit(false))
    val del = base.where(col("k") % 3 =!= 0 && col("k") % 11 === 0 &&
        col("k") % 5 =!= 0)
      .withColumn("is_delete", lit(true))
    val ins = base.where(col("k") % 3 === 0 && col("k") % 7 === 0)
      .withColumn("is_delete", lit(false))
    val b2 = upd.unionByName(del).unionByName(ins)
      .withColumn("ver", lit(2L))
    graft.sources.Lake.mergeInto(s, dir, b2,
      Seq("k"), Seq("ver"), Some(col("is_delete")))
    val old = graft.sources.Lake.readStoreAt(s, dir, 1L)
      .select(col("k"), col("ver").as("ver_old"), col("price").as("price_old"))
    val neu = graft.sources.Lake.readStoreAt(s, dir, 2L)
      .select(col("k"), col("ver").as("ver_new"), col("price").as("price_new"))
    old.join(neu, Seq("k"), "full_outer")
      .withColumn("op",
        when(col("ver_old").isNull, "insert")
          .when(col("ver_new").isNull, "delete")
          .when(!(col("ver_old") <=> col("ver_new")), "update"))
      .where(col("op").isNotNull)
      .select(col("k"), col("op"), col("price_old"), col("price_new"))
      .transform(Det.emitWide(_, "k"))
  }

  /** q163: the INCREMENTAL VIEW, oracle-checked end to end — build
    * the q161 store twice over (two merges with the PRE-IMAGE change
    * feed), fold each published diff into a count/sum-of-cents view
    * (`examples.IncrementalView.refresh` — the view never reads the
    * store), and emit the view. The oracle reconstructs the FINAL
    * table relationally from orders and aggregates it directly: the
    * hash matches only if merge → diff-with-pre-images → signed-delta
    * fold is exactly the relational aggregate, including the update
    * deltas (−old +new) and delete subtractions. Sums are integer
    * CENTS, so the incremental fold is exact, not approximately
    * commutative. */
  private def q163(s: SparkSession, d: String): DataFrame = {
    val root = fixtureStore(s, "incview", d)
    val dir = s"$root/t"; val cdf = s"$root/changes"; val view = s"$root/view"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // same quarter-scoped fixture as q161 (protocol test, not a
    // throughput test)
    val base = orders(s, d).where(col("o_orderkey") % 4 === 1)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    def merge(b: DataFrame): Unit =
      graft.sources.Lake.mergeInto(s, dir, b, Seq("k"), Seq("ver"),
        Some(col("is_delete")), changeDir = Some(cdf), cdfPreImages = true)
    // FIXTURE phase (bulk build) — clocked apart from the operator
    // (round 12, VERDICT r11 item 7): the bench reports the second
    // merge + refresh + serve below as the key's time
    graft.FixtureClock.timed {
      fs.delete(p, true)
      merge(base.where(col("k") % 3 =!= 0)
        .withColumn("ver", lit(1L)).withColumn("is_delete", lit(false)))
      graft.examples.IncrementalView.refresh(s, view, cdf,
        Seq("status"), Seq("cents"))
    }
    val upd = base.where(col("k") % 3 =!= 0 && col("k") % 5 === 0)
      .withColumn("cents", col("cents") + 100L)
      .withColumn("is_delete", lit(false))
    val del = base.where(col("k") % 3 =!= 0 && col("k") % 11 === 0 &&
        col("k") % 5 =!= 0)
      .withColumn("is_delete", lit(true))
    val ins = base.where(col("k") % 3 === 0 && col("k") % 7 === 0)
      .withColumn("is_delete", lit(false))
    merge(upd.unionByName(del).unionByName(ins).withColumn("ver", lit(2L)))
    graft.examples.IncrementalView.refresh(s, view, cdf,
      Seq("status"), Seq("cents"))
    graft.examples.IncrementalView.read(s, view)
      .select(col("status"), col("n"), col("sum_cents"))
      .transform(Det.emit(_, "status"))
  }

  /** q165: the incremental MEAN/SPREAD view, oracle-checked end to end
    * (round 10) — q163's protocol probe extended to the second-moment
    * triple: two pre-image-feed merges fold (n, Σx, Σx²) per status
    * (`m2Cols` — a signed square commutes exactly like a signed sum,
    * so avg/stddev views need zero base reads), then avg / sample
    * variance / stddev derive at read time by the EXPLICIT moment
    * formula. The oracle reconstructs the final table relationally
    * and replays the SAME three IEEE double ops on the same exact
    * integers — the floating-point outputs are bitwise identical by
    * construction (the q162 determinism discipline), so they
    * hash-match unrounded. Whole DOLLARS (not cents) and a 1/16
    * fixture slice keep Σx² far inside both int64 and double's 2^53
    * exact-integer range at every SF the driver runs. */
  private def q165(s: SparkSession, d: String): DataFrame = {
    val root = fixtureStore(s, "incstats", d)
    val dir = s"$root/t"; val cdf = s"$root/changes"; val view = s"$root/view"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = orders(s, d).where(col("o_orderkey") % 16 === 2)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice")).cast("long").as("usd"))
    def merge(b: DataFrame): Unit =
      graft.sources.Lake.mergeInto(s, dir, b, Seq("k"), Seq("ver"),
        Some(col("is_delete")), changeDir = Some(cdf), cdfPreImages = true)
    def refresh(): Unit = {
      graft.examples.IncrementalView.refresh(s, view, cdf,
        Seq("status"), Seq("usd"), m2Cols = Seq("usd"))
      ()
    }
    // FIXTURE phase (bulk build) clocked apart from the operator —
    // see q163's note (VERDICT r11 item 7)
    graft.FixtureClock.timed {
      fs.delete(p, true)
      merge(base.where(col("k") % 3 =!= 0)
        .withColumn("ver", lit(1L)).withColumn("is_delete", lit(false)))
      refresh()
    }
    val upd = base.where(col("k") % 3 =!= 0 && col("k") % 5 === 0)
      .withColumn("usd", col("usd") + 7L)
      .withColumn("is_delete", lit(false))
    val del = base.where(col("k") % 3 =!= 0 && col("k") % 11 === 0 &&
        col("k") % 5 =!= 0)
      .withColumn("is_delete", lit(true))
    val ins = base.where(col("k") % 3 === 0 && col("k") % 7 === 0)
      .withColumn("is_delete", lit(false))
    merge(upd.unionByName(del).unionByName(ins).withColumn("ver", lit(2L)))
    refresh()
    graft.examples.IncrementalView.readStats(s, view, Seq("usd"))
      .select(col("status"), col("n"), col("sum_usd"), col("sumsq_usd"),
        col("avg_usd"), col("var_usd"), col("stddev_usd"))
      .transform(Det.emit(_, "status"))
  }

  /** q166: the TIME-BUCKETED incremental view, oracle-checked end to
    * end (round 10) — the windowed-maintenance shape: the view groups
    * on a DERIVED month bucket (`year*100+month` of the order date,
    * an integer both engines compute identically), maintained purely
    * from the pre-image feed. The second merge BACKDATES a slice of
    * rows across a month boundary (+40 days for k%5=0) — on a derived
    * bucket that is just a group migration (−1 old bucket, +1 new),
    * the case that distinguishes real windowed maintenance from a
    * static group key. Oracle reconstructs the final table with the
    * same +40-day shift and the same bucket arithmetic. */
  private def q166(s: SparkSession, d: String): DataFrame = {
    val root = fixtureStore(s, "incbucket", d)
    val dir = s"$root/t"; val cdf = s"$root/changes"; val view = s"$root/view"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = orders(s, d).where(col("o_orderkey") % 16 === 3)
      .select(col("o_orderkey").as("k"), col("o_orderdate").as("odate"),
        round(col("o_totalprice")).cast("long").as("usd"))
    def merge(b: DataFrame): Unit =
      graft.sources.Lake.mergeInto(s, dir, b, Seq("k"), Seq("ver"),
        Some(col("is_delete")), changeDir = Some(cdf), cdfPreImages = true)
    val bucket = year(col("odate")) * 100 + month(col("odate"))
    def refresh(): Unit = {
      graft.examples.IncrementalView.refresh(s, view, cdf,
        Seq("bucket"), Seq("usd"), derived = Seq("bucket" -> bucket))
      ()
    }
    // FIXTURE phase (store wipe + bulk build) clocked apart from the
    // operator, exactly as its six siblings q163/q165/q169/q170/q171/
    // q173 do (round 15 — VERDICT r14 caveat 1: q166's bench reading
    // was mostly store construction, masking regressions in the
    // windowed maintenance it exists to time)
    graft.FixtureClock.timed {
      fs.delete(p, true)
      merge(base.where(col("k") % 3 =!= 0)
        .withColumn("ver", lit(1L)).withColumn("is_delete", lit(false)))
      refresh()
    }
    val moved = base.where(col("k") % 3 =!= 0 && col("k") % 5 === 0)
      .withColumn("odate", date_add(col("odate"), 40))
      .withColumn("is_delete", lit(false))
    val del = base.where(col("k") % 3 =!= 0 && col("k") % 11 === 0 &&
        col("k") % 5 =!= 0)
      .withColumn("is_delete", lit(true))
    val ins = base.where(col("k") % 3 === 0 && col("k") % 7 === 0)
      .withColumn("is_delete", lit(false))
    merge(moved.unionByName(del).unionByName(ins).withColumn("ver", lit(2L)))
    refresh()
    graft.examples.IncrementalView.read(s, view)
      .select(col("bucket"), col("n"), col("sum_usd"))
      .transform(Det.emit(_, "bucket"))
  }

  /** q169: the INCREMENTAL INVERTED INDEX, oracle-checked end to end —
    * q130's one-shot postings build made continuous: two pre-image-feed
    * merges over a documents slice (batch 2 APPENDS a marker token to
    * k%5 docs — a text update whose unchanged tokens must cancel
    * −pre/+post in the fold — plus deletes and inserts), each folded
    * into the postings store by `examples.IncrementalIndex.refresh`
    * (the index never re-reads the corpus). The oracle tokenizes the
    * RELATIONALLY reconstructed final corpus and aggregates postings
    * directly — the hash matches only if merge → pre-image diff →
    * signed token fold ≡ tokenize-the-final-corpus, including the
    * partial-update cancellation. Emitted at the q130 bound: per
    * token, df + total tf + an md5 digest of the sorted doc-id list
    * (content verified, payload bounded — a posting list is unbounded
    * in corpus size by definition). */
  private def q169(s: SparkSession, d: String): DataFrame = {
    val root = fixtureStore(s, "incindex", d)
    val dir = s"$root/t"; val cdf = s"$root/changes"; val idx = s"$root/idx"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = documents(s, d).where(col("doc_id") % 4 === 2)
      .select(col("doc_id").as("k"), col("text"))
    def merge(b: DataFrame): Unit =
      graft.sources.Lake.mergeInto(s, dir, b, Seq("k"), Seq("ver"),
        Some(col("is_delete")), changeDir = Some(cdf), cdfPreImages = true)
    val toks = expr("filter(split(text, ' '), w -> w <> '')")
    def refresh(): Unit = {
      graft.examples.IncrementalIndex.refresh(s, idx, cdf, Seq("k"), toks)
      ()
    }
    // FIXTURE phase (bulk build) clocked apart from the operator —
    // see q163's note (VERDICT r11 item 7)
    graft.FixtureClock.timed {
      fs.delete(p, true)
      merge(base.where(col("k") % 3 =!= 0)
        .withColumn("ver", lit(1L)).withColumn("is_delete", lit(false)))
      refresh()
    }
    val upd = base.where(col("k") % 3 =!= 0 && col("k") % 5 === 0)
      .withColumn("text", concat(col("text"), lit(" qmarker")))
      .withColumn("is_delete", lit(false))
    val del = base.where(col("k") % 3 =!= 0 && col("k") % 11 === 0 &&
        col("k") % 5 =!= 0)
      .withColumn("is_delete", lit(true))
    val ins = base.where(col("k") % 3 === 0 && col("k") % 7 === 0)
      .withColumn("is_delete", lit(false))
    merge(upd.unionByName(del).unionByName(ins).withColumn("ver", lit(2L)))
    refresh()
    graft.examples.IncrementalIndex.read(s, idx)
      .groupBy("token")
      .agg(count(lit(1)).as("df"), sum("tf").as("tf"),
        md5(expr(
          "array_join(transform(sort_array(collect_list(k)), x -> cast(x as string)), ',')"))
          .as("digest"))
      .transform(Det.emit(_, "token"))
  }

  /** q170: the incremental EXACT-DISTINCT view, oracle-checked end to
    * end — COUNT(DISTINCT priority) per status maintained from the
    * feed. Distinct is NOT abelian at the (status) grain, so the view
    * is kept one level down at (status, priority) where
    * multiplicities ARE plain signed counts
    * (`IncrementalView.refresh` with the fine grain as the group
    * key), and the distinct count derives at READ time as a bounded
    * aggregate over the surviving pairs
    * (`IncrementalView.readDistinct`). Batch 2 REWRITES k%5 rows'
    * priority (a value migration: the old pair decrements, the new
    * pair appears), deletes, and inserts; the oracle runs
    * COUNT(DISTINCT) over the relationally reconstructed final
    * table. */
  private def q170(s: SparkSession, d: String): DataFrame = {
    val root = fixtureStore(s, "incdistinct", d)
    val dir = s"$root/t"; val cdf = s"$root/changes"; val view = s"$root/view"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = orders(s, d).where(col("o_orderkey") % 16 === 5)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
    def merge(b: DataFrame): Unit =
      graft.sources.Lake.mergeInto(s, dir, b, Seq("k"), Seq("ver"),
        Some(col("is_delete")), changeDir = Some(cdf), cdfPreImages = true)
    def refresh(): Unit = {
      graft.examples.IncrementalView.refresh(s, view, cdf,
        Seq("status", "priority"), Nil)
      ()
    }
    // FIXTURE phase (bulk build) clocked apart from the operator —
    // see q163's note (VERDICT r11 item 7)
    graft.FixtureClock.timed {
      fs.delete(p, true)
      merge(base.where(col("k") % 3 =!= 0)
        .withColumn("ver", lit(1L)).withColumn("is_delete", lit(false)))
      refresh()
    }
    val upd = base.where(col("k") % 3 =!= 0 && col("k") % 5 === 0)
      .withColumn("priority", concat(lit("U-"), col("priority")))
      .withColumn("is_delete", lit(false))
    val del = base.where(col("k") % 3 =!= 0 && col("k") % 11 === 0 &&
        col("k") % 5 =!= 0)
      .withColumn("is_delete", lit(true))
    val ins = base.where(col("k") % 3 === 0 && col("k") % 7 === 0)
      .withColumn("is_delete", lit(false))
    merge(upd.unionByName(del).unionByName(ins).withColumn("ver", lit(2L)))
    refresh()
    graft.examples.IncrementalView
      .readDistinct(s, view, Seq("status"), Seq("priority"))
      .select(col("status"), col("n_distinct"), col("n"))
      .transform(Det.emit(_, "status"))
  }

  /** q171: INCREMENTAL SCD2 — q117's one-shot history build made
    * continuous off the pre-image feed
    * (`examples.IncrementalScd2.refresh`): validity stamped in merge
    * ids — VERSION-keyed since round 14 (batch 1 commits snapshot
    * version 1 and publishes feed id 1, batch 2 id 2), an update
    * closing the key's current version and opening the replacement, a
    * delete closing without opening, an insert opening fresh. The
    * oracle reconstructs the SAME history relationally from orders —
    * v1 rows (valid_from 1, closed at 2 iff updated-or-deleted) plus
    * v2 opens (valid_from 2, open-ended) — so the hash matches only
    * if the per-entry close/open fold produces exactly the interval
    * set q117 would derive from the full log. */
  private def q171(s: SparkSession, d: String): DataFrame = {
    val root = fixtureStore(s, "incscd2", d)
    val dir = s"$root/t"; val cdf = s"$root/changes"; val hist = s"$root/hist"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = orders(s, d).where(col("o_orderkey") % 16 === 6)
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice")).cast("long").as("usd"))
    def merge(b: DataFrame): Unit =
      graft.sources.Lake.mergeInto(s, dir, b, Seq("k"), Seq("ver"),
        Some(col("is_delete")), changeDir = Some(cdf), cdfPreImages = true)
    def refresh(): Unit = {
      graft.examples.IncrementalScd2.refresh(s, hist, cdf,
        Seq("k"), Seq("status", "usd"))
      ()
    }
    // FIXTURE phase (bulk build) clocked apart from the operator —
    // see q163's note (VERDICT r11 item 7)
    graft.FixtureClock.timed {
      fs.delete(p, true)
      merge(base.where(col("k") % 3 =!= 0)
        .withColumn("ver", lit(1L)).withColumn("is_delete", lit(false)))
      refresh()
    }
    val upd = base.where(col("k") % 3 =!= 0 && col("k") % 5 === 0)
      .withColumn("usd", col("usd") + 7L)
      .withColumn("is_delete", lit(false))
    val del = base.where(col("k") % 3 =!= 0 && col("k") % 11 === 0 &&
        col("k") % 5 =!= 0)
      .withColumn("is_delete", lit(true))
    val ins = base.where(col("k") % 3 === 0 && col("k") % 7 === 0)
      .withColumn("is_delete", lit(false))
    merge(upd.unionByName(del).unionByName(ins).withColumn("ver", lit(2L)))
    refresh()
    graft.examples.IncrementalScd2.read(s, hist)
      .select(col("k"), col("status"), col("usd"),
        col("valid_from"), col("valid_to"),
        col("is_current").cast("int").as("is_current"))
      .transform(Det.emitWide(_, "k", "valid_from"))
  }

  /** q173: BM25 retrieval OVER THE INCREMENTAL INDEX, oracle-checked
    * end to end — continuous full-text search off the CDC feed: the
    * q169 merge sequence maintains the postings segments AND the
    * doc-length view, then a 3-term query scores by the exact q112
    * Robertson–Spärck Jones formula using ONLY incrementally
    * maintained statistics (tf/df from postings, dl/N/avgdl from the
    * length view). The oracle reconstructs the final corpus
    * relationally and computes the identical formula from raw text —
    * a hash match proves the maintained statistics equal the
    * from-scratch ones after updates (pre-image cancellation must
    * shrink doc lengths), deletes, and inserts. q112's rounding
    * discipline (4dp + epsilon, ordered on the rounded score). */
  private def q173(s: SparkSession, d: String): DataFrame = {
    val root = fixtureStore(s, "incbm25", d)
    val dir = s"$root/t"; val cdf = s"$root/changes"
    val idx = s"$root/idx"; val dlv = s"$root/dl"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = documents(s, d).where(col("doc_id") % 4 === 3)
      .select(col("doc_id").as("k"), col("text"))
    def merge(b: DataFrame): Unit =
      graft.sources.Lake.mergeInto(s, dir, b, Seq("k"), Seq("ver"),
        Some(col("is_delete")), changeDir = Some(cdf), cdfPreImages = true)
    val toks = expr("filter(split(text, ' '), w -> w <> '')")
    def refresh(): Unit = {
      graft.examples.IncrementalIndex.refresh(s, idx, cdf, Seq("k"), toks)
      graft.examples.IncrementalIndex.refreshDocLens(s, dlv, cdf,
        Seq("k"), toks)
      ()
    }
    // FIXTURE phase (bulk build) clocked apart from the operator —
    // see q163's note (VERDICT r11 item 7)
    graft.FixtureClock.timed {
      fs.delete(p, true)
      merge(base.where(col("k") % 3 =!= 0)
        .withColumn("ver", lit(1L)).withColumn("is_delete", lit(false)))
      refresh()
    }
    val upd = base.where(col("k") % 3 =!= 0 && col("k") % 5 === 0)
      .withColumn("text", concat(col("text"), lit(" stream")))
      .withColumn("is_delete", lit(false))
    val del = base.where(col("k") % 3 =!= 0 && col("k") % 11 === 0 &&
        col("k") % 5 =!= 0)
      .withColumn("is_delete", lit(true))
    val ins = base.where(col("k") % 3 === 0 && col("k") % 7 === 0)
      .withColumn("is_delete", lit(false))
    merge(upd.unionByName(del).unionByName(ins).withColumn("ver", lit(2L)))
    refresh()
    graft.examples.IncrementalIndex.bm25Lookup(s, idx, dlv, Seq("k"),
        Seq("join", "stream", "window"), topK = -1)
      .select(col("k"), Det.r4e(col("bm25")).as("bm25"))
      .orderBy(col("bm25").desc, col("k").asc)
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_cdc_envelope_roundtrip" -> q60,
    "q61_cdc_latest_by_key" -> q61,
    "q62_cdc_dedup" -> q62,
    "q63_cdc_delete_apply" -> q63,
    "q117_scd2_history" -> q117,
    "q136_scd2_asof" -> q136,
    "q161_snapshot_diff" -> q161,
    "q163_incremental_view" -> q163,
    "q165_incremental_stats" -> q165,
    "q166_bucketed_view" -> q166,
    "q169_incremental_index" -> q169,
    "q170_distinct_view" -> q170,
    "q171_scd2_incremental" -> q171,
    "q173_incremental_bm25" -> q173)

  val oracles: Map[String, String] = Map(
    // Oracle aggregates the base tables directly — the JSON round-trip
    // is semantically the identity on (city, round(revenue,2)).
    "q60_cdc_envelope_roundtrip" ->
      """SELECT c_mktsegment AS city, CAST(count(1) AS BIGINT) AS n_rides,
                round(sum(round(o_totalprice, 2)), 2) AS total_revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "q61_cdc_latest_by_key" ->
      """SELECT user_id, event_id, event_type, round(value, 2) AS val,
                date_trunc('second', ts) AS tsec
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY user_id
                 ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "q62_cdc_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    // Anti-join form: keys whose latest record is a delete drop out.
    "q63_cdc_delete_apply" ->
      """WITH latest AS (
           SELECT * FROM (SELECT *, row_number() OVER (
               PARTITION BY user_id
               ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
             FROM events) WHERE rn = 1)
         SELECT l.user_id, l.event_id, l.event_type,
                round(l.value, 2) AS val, date_trunc('second', l.ts) AS tsec
         FROM latest l
         ANTI JOIN (SELECT user_id FROM latest WHERE event_type = 'error') d
           USING (user_id)
         ORDER BY l.user_id""",
    "q117_scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                           round(value, 2) AS val,
                           date_trunc('second', ts) AS tsec FROM events),
         v AS (SELECT *,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY tsec, event_id) AS version,
                      lead(tsec) OVER (PARTITION BY user_id
                        ORDER BY tsec, event_id) AS vt
               FROM e)
         SELECT user_id, CAST(version AS INT) AS version, event_id,
                event_type, val,
                epoch_ms(tsec) // 1000 AS valid_from_s,
                epoch_ms(vt) // 1000 AS valid_to_s,
                CAST(vt IS NULL AS INT) AS is_current
         FROM v ORDER BY user_id, version""",
    // Independent algorithm on purpose: the oracle answers the as-of
    // read through the SCD2 interval form (valid_from <= t < valid_to),
    // cross-checking the engine's filter+latest-by-key plan.
    "q136_scd2_asof" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                           round(value, 2) AS val,
                           date_trunc('second', ts) AS tsec FROM events),
         v AS (SELECT *,
                      lead(tsec) OVER (PARTITION BY user_id
                        ORDER BY tsec, event_id) AS vt
               FROM e)
         SELECT user_id, event_id, event_type, val,
                epoch_ms(tsec) // 1000 AS valid_from_s
         FROM v
         WHERE tsec <= TIMESTAMP '2024-01-15 00:00:00'
           AND (vt IS NULL OR vt > TIMESTAMP '2024-01-15 00:00:00')
         ORDER BY user_id""",
    // The oracle reconstructs both store versions relationally from
    // orders (it never sees the store): any row the snapshot protocol
    // dropped, duplicated, or failed to version diverges the hash.
    "q161_snapshot_diff" ->
      """WITH b AS (SELECT o_orderkey AS k, o_totalprice AS price
                    FROM orders WHERE o_orderkey % 4 = 1),
          v1 AS (SELECT k, price FROM b WHERE k % 3 <> 0)
         SELECT k, 'update' AS op, price AS price_old,
                price + 1.0 AS price_new
         FROM v1 WHERE k % 5 = 0
         UNION ALL
         SELECT k, 'delete' AS op, price AS price_old, NULL AS price_new
         FROM v1 WHERE k % 11 = 0 AND k % 5 <> 0
         UNION ALL
         SELECT k, 'insert' AS op, NULL AS price_old,
                price AS price_new
         FROM b WHERE k % 3 = 0 AND k % 7 = 0
         ORDER BY k""",
    // The oracle aggregates the RECONSTRUCTED final table directly —
    // it never sees the store, the feed, or the view: a hash match
    // proves merge -> pre-image diff -> signed-delta fold equals the
    // relational aggregate exactly (integer cents, no float slack).
    "q163_incremental_view" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                              CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                       FROM orders WHERE o_orderkey % 4 = 1),
          final AS (
            SELECT k, status,
                   CASE WHEN k % 5 = 0 THEN cents + 100 ELSE cents END AS cents
            FROM base
            WHERE k % 3 <> 0
              AND NOT (k % 11 = 0 AND k % 5 <> 0)
            UNION ALL
            SELECT k, status, cents FROM base
            WHERE k % 3 = 0 AND k % 7 = 0)
          SELECT status, CAST(count(1) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS sum_cents
          FROM final GROUP BY status ORDER BY status""",
    // q165: the oracle replays the IDENTICAL moment formula on the
    // identical exact integers — three IEEE double ops in the same
    // order → bitwise-equal unrounded doubles (q162 discipline)
    "q165_incremental_stats" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                              CAST(round(o_totalprice) AS BIGINT) AS usd
                       FROM orders WHERE o_orderkey % 16 = 2),
          final AS (
            SELECT k, status,
                   CASE WHEN k % 5 = 0 THEN usd + 7 ELSE usd END AS usd
            FROM base
            WHERE k % 3 <> 0
              AND NOT (k % 11 = 0 AND k % 5 <> 0)
            UNION ALL
            SELECT k, status, usd FROM base
            WHERE k % 3 = 0 AND k % 7 = 0),
          agg AS (SELECT status, CAST(count(1) AS BIGINT) AS n,
                         CAST(sum(usd) AS BIGINT) AS sum_usd,
                         CAST(sum(usd * usd) AS BIGINT) AS sumsq_usd
                  FROM final GROUP BY status)
          SELECT status, n, sum_usd, sumsq_usd,
                 CAST(sum_usd AS DOUBLE) / CAST(n AS DOUBLE) AS avg_usd,
                 CASE WHEN n >= 2 THEN
                   (CAST(sumsq_usd AS DOUBLE)
                     - CAST(sum_usd AS DOUBLE) * CAST(sum_usd AS DOUBLE)
                       / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1) END AS var_usd,
                 CASE WHEN n >= 2 THEN
                   sqrt((CAST(sumsq_usd AS DOUBLE)
                     - CAST(sum_usd AS DOUBLE) * CAST(sum_usd AS DOUBLE)
                       / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1)) END AS stddev_usd
          FROM agg ORDER BY status""",
    "q166_bucketed_view" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderdate AS odate,
                              CAST(round(o_totalprice) AS BIGINT) AS usd
                       FROM orders WHERE o_orderkey % 16 = 3),
          final AS (
            SELECT k,
                   CASE WHEN k % 5 = 0 THEN odate + INTERVAL 40 DAY
                        ELSE odate END AS odate,
                   usd
            FROM base
            WHERE k % 3 <> 0
              AND NOT (k % 11 = 0 AND k % 5 <> 0)
            UNION ALL
            SELECT k, odate, usd FROM base
            WHERE k % 3 = 0 AND k % 7 = 0)
          SELECT CAST(year(odate) * 100 + month(odate) AS INT) AS bucket,
                 CAST(count(1) AS BIGINT) AS n,
                 CAST(sum(usd) AS BIGINT) AS sum_usd
          FROM final GROUP BY 1 ORDER BY 1""",
    // q169: the oracle tokenizes the RECONSTRUCTED final corpus — it
    // never sees the store, the feed, or the postings: a hash match
    // proves merge -> pre-image diff -> signed token fold equals
    // tokenize-the-final-corpus, update cancellation included.
    "q169_incremental_index" ->
      """WITH base AS (SELECT doc_id AS k, text FROM documents
                       WHERE doc_id % 4 = 2),
          final AS (
            SELECT k, CASE WHEN k % 5 = 0 THEN text || ' qmarker'
                           ELSE text END AS text
            FROM base
            WHERE k % 3 <> 0
              AND NOT (k % 11 = 0 AND k % 5 <> 0)
            UNION ALL
            SELECT k, text FROM base WHERE k % 3 = 0 AND k % 7 = 0),
          toks AS (SELECT k,
                          unnest(list_filter(string_split(text, ' '),
                                             w -> w <> '')) AS token
                   FROM final),
          p AS (SELECT token, k, CAST(count(1) AS BIGINT) AS tf
                FROM toks GROUP BY 1, 2)
          SELECT token, CAST(count(1) AS BIGINT) AS df,
                 CAST(sum(tf) AS BIGINT) AS tf,
                 md5(array_to_string(list(k ORDER BY k), ',')) AS digest
          FROM p GROUP BY token ORDER BY token""",
    // q170: COUNT(DISTINCT) over the reconstructed final table — the
    // view side derives it from surviving (status, priority)
    // multiplicity rows.
    "q170_distinct_view" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                              o_orderpriority AS priority
                       FROM orders WHERE o_orderkey % 16 = 5),
          final AS (
            SELECT k, status,
                   CASE WHEN k % 5 = 0 THEN 'U-' || priority
                        ELSE priority END AS priority
            FROM base
            WHERE k % 3 <> 0
              AND NOT (k % 11 = 0 AND k % 5 <> 0)
            UNION ALL
            SELECT k, status, priority FROM base
            WHERE k % 3 = 0 AND k % 7 = 0)
          SELECT status,
                 CAST(count(DISTINCT priority) AS BIGINT) AS n_distinct,
                 CAST(count(1) AS BIGINT) AS n
          FROM final GROUP BY status ORDER BY status""",
    // q171: the history reconstructed relationally — stamps are the
    // VERSION-keyed feed ids (round 14): v1 rows open at 1, closed
    // at 2 iff updated or deleted; v2 opens at 2.
    "q171_scd2_incremental" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                              CAST(round(o_totalprice) AS BIGINT) AS usd
                       FROM orders WHERE o_orderkey % 16 = 6),
          b1 AS (SELECT * FROM base WHERE k % 3 <> 0),
          v1 AS (SELECT k, status, usd, CAST(1 AS BIGINT) AS valid_from,
                        CASE WHEN k % 5 = 0
                               OR (k % 11 = 0 AND k % 5 <> 0)
                             THEN CAST(2 AS BIGINT) END AS valid_to
                 FROM b1),
          v2 AS (SELECT k, status, usd + 7 AS usd,
                        CAST(2 AS BIGINT) AS valid_from,
                        CAST(NULL AS BIGINT) AS valid_to
                 FROM b1 WHERE k % 5 = 0
                 UNION ALL
                 SELECT k, status, usd, 2, NULL FROM base
                 WHERE k % 3 = 0 AND k % 7 = 0)
          SELECT k, status, usd, valid_from, valid_to,
                 CAST(valid_to IS NULL AS INT) AS is_current
          FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
          ORDER BY k, valid_from""",
    // q173: the oracle computes the identical BM25 formula from the
    // RECONSTRUCTED final corpus's raw text — it never sees the
    // index, the length view, or the feed; ' stream' appended to
    // updated docs moves a QUERY term's df/tf, so stale maintained
    // statistics diverge the hash.
    "q173_incremental_bm25" ->
      """WITH base AS (SELECT doc_id AS k, text FROM documents
                       WHERE doc_id % 4 = 3),
          final AS (
            SELECT k, CASE WHEN k % 5 = 0 THEN text || ' stream'
                           ELSE text END AS text
            FROM base
            WHERE k % 3 <> 0
              AND NOT (k % 11 = 0 AND k % 5 <> 0)
            UNION ALL
            SELECT k, text FROM base WHERE k % 3 = 0 AND k % 7 = 0),
          tk AS (SELECT k, unnest(list_filter(string_split(text, ' '),
                                              w -> w <> '')) AS w
                 FROM final),
          dl AS (SELECT k, CAST(count(1) AS BIGINT) AS dl
                 FROM tk GROUP BY k),
          stats AS (SELECT CAST(count(1) AS DOUBLE) AS n,
                           CAST(sum(dl) AS DOUBLE) / count(1) AS avgdl
                    FROM dl),
          tf AS (SELECT k, w, CAST(count(1) AS BIGINT) AS tf
                 FROM tk WHERE w IN ('join', 'stream', 'window')
                 GROUP BY k, w),
          dfw AS (SELECT w, CAST(count(1) AS DOUBLE) AS dfw
                  FROM tf GROUP BY w),
          sc AS (SELECT k,
                        ln((n - dfw + 0.5) / (dfw + 0.5) + 1.0) *
                          (tf * 2.2) /
                          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS sc
                 FROM tf JOIN dfw USING (w) JOIN dl USING (k), stats)
          SELECT k, round(sum(sc) + 0.00000123, 4) AS bm25
          FROM sc GROUP BY k
          ORDER BY bm25 DESC, k ASC LIMIT 20""")
}
