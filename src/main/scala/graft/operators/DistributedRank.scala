package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed two-phase ranking for dominant-key windows.
  *
  * A plain `Window.partitionBy(k)` funnels EVERY row of a group
  * through one task; with a 3-value key (q30/q34/q35's
  * returnflag/orderstatus) the whole fact table runs on 3 cores at any
  * cluster size, and AQE cannot split window partitions. These
  * operators re-express the same semantics with shuffles keyed on
  * high-cardinality derivatives, so parallelism scales with data:
  *
  *  - `ranked`: rank / dense_rank / row_number / ntile. rank and
  *    dense_rank depend only on the tie VALUE, so they are computed on
  *    the per-value frame (distributed prefix sums over value-derived
  *    quantile buckets) and joined back; the table itself is shuffled
  *    exactly once, on (group, tie value), serving both the join and
  *    the tie-group row_number. The bucket id is a deterministic
  *    expression against one driver-computed quantile array, so no two
  *    phases can disagree on placement (which rules out
  *    `repartitionByRange` + `spark_partition_id`, whose sampled
  *    boundaries are not guaranteed to repeat across exchanges).
  *  - `bandCount`: RANGE-frame `count(*) OVER (... RANGE BETWEEN w
  *    PRECEDING AND CURRENT ROW)` via per-value counts joined through
  *    width-sized coarse buckets — the band spans at most 2 buckets,
  *    so the join fans out per-bucket, never per-group.
  *  - `fullFrameEdges`: first/last/nth over an unbounded frame as a
  *    per-group top-k aggregate (WindowGroupLimit keeps the rank
  *    filters map-side partial — each map task ships ≤ k rows per
  *    group) broadcast-joined back to the table.
  *
  * Skew: a single massively-hot tie value no longer pins its
  * (pkeys, tie) partition to one task — when the probe sees a tie
  * with > hotTieCut rows, the hot ties' row_number phase itself goes
  * two-phase (quantile buckets over the leading unique column).
  * For continuous order values (the 100 TB case) value cardinality ≈
  * row count and the spread is full without salting.
  * AlgebraProps pins every operator here equal to its window form.
  */
object DistributedRank {

  /** Floor integer division on long-domain columns (counts/buckets are
    * far below 2^53, so the double round-trip is exact). */
  private def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")

  /** Appends int columns `rnk`, `drnk`, `rn`, `nt` — equal to
    * rank()/dense_rank()/row_number()/ntile(ntileK) over
    * `Window.partitionBy(pkeys).orderBy(tieCols)` (rnk/drnk) and
    * `.orderBy(tieCols ++ uniqueCols)` (rn/nt). The FIRST tie column
    * must be numeric: ranges are value-derived from its quantiles.
    *
    * Why not `repartitionByRange` + `spark_partition_id()`: each phase
    * would plan its own range exchange, and nothing guarantees they
    * sample identical boundaries (exchange reuse is best-effort under
    * AQE) — a boundary that lands differently silently shifts every
    * offset after it (observed at sf0.01). Deriving the bucket id from
    * the VALUE against one driver-computed quantile array makes all
    * phases agree by construction; the quantile pass runs over the
    * aggregated per-value frame, not the table. The table itself is
    * shuffled exactly once, on (group, tie value): the join back is
    * clustered exactly like the tie-group row_number window, so the
    * window adds a sort but no second exchange. */
  def ranked(df: DataFrame, pkeys: Seq[String], tieCols: Seq[String],
      uniqueCols: Seq[String], ntileK: Int, numRanges: Int = 0,
      adaptiveCut: Int = 10000, hotTieCut: Int = 1 << 21): DataFrame = {
    val s = df.sparkSession
    val n = if (numRanges > 0) numRanges else s.sparkContext.defaultParallelism
    val tie0 = tieCols.head
    // Struct-wrapped keys: the value ranks join back onto the table,
    // and a raw-column equi-join would DROP null keys (SQL equality),
    // silently un-ranking rows the window form ranks. Struct equality
    // compares fields with null-safe semantics and struct ordering is
    // the same nulls-first lexicographic order the window uses, so
    // structs serve as join key, group key, and sort key at once.
    val dfK = df.withColumn("__pk", struct(pkeys.map(col): _*))
      .withColumn("__tie", struct(tieCols.map(col): _*))

    // Phase 1 — VALUE granularity: rank and dense_rank depend only on
    // the tie value, so compute them once per distinct (group, value)
    // and join back. The per-value frame is built by one map-side
    // partial aggregation; its prefix sums distribute over
    // (group, quantile-bucket) windows, so even a billion distinct
    // values per group never serialize onto one task.
    // Pinned (round 16, guide §5) only when a DRIVER ACTION reads vc
    // — the adaptive probe, the quantile bounds, the hot-tie split —
    // and the plan reads it again (twice on the bucketed path):
    // unpinned, each consumer re-ran the upstream aggregate over the
    // caller's full frame. A declared-small domain runs none of those
    // actions and vc has one consumer, so a pin would only add a
    // cache-build stage and leave a persistent RDD behind.
    val declaredSmall = adaptiveCut < 0
    val vc = dfK.groupBy(col("__pk"), col("__tie")).agg(count(lit(1)).as("__c"))
    if (!declaredSmall &&
        vc.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      vc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE probe job decides both adaptive choices: the value-frame
    // size (small bounded domains — integer quantities, enum codes —
    // stay small at ANY table size and take plain prefix windows,
    // skipping the bucket apparatus) and the hottest tie's
    // multiplicity (a tie holding > hotTieCut rows engages the salted
    // row_number phase below). Two O(1)-state aggregates over the
    // already-aggregated value frame. Callers who KNOW the domain can
    // skip the probe job: adaptiveCut < 0 declares it small (straight
    // to the prefix-window path; also asserts no tie needs salting),
    // adaptiveCut = 0 with hotTieCut = 0 declares it continuous and
    // un-skewed (straight to the bucketed path).
    val (nVals, maxTie) =
      if (!declaredSmall && (adaptiveCut > 0 || hotTieCut > 0)) {
        val r = vc.agg(count(lit(1)), max("__c")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      } else (Long.MaxValue, 0L)
    val vcSmall = declaredSmall || (adaptiveCut > 0 && nVals <= adaptiveCut)
    val vals = if (vcSmall) {
      val wTie = Window.partitionBy(col("__pk")).orderBy(col("__tie"))
      val wCum = wTie.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vc.withColumn("__vrnk", sum("__c").over(wCum) - col("__c") + 1)
        .withColumn("__vdrnk", row_number().over(wTie).cast("long"))
        .withColumn("__total",
          sum("__c").over(Window.partitionBy(col("__pk"))))
        .select(col("__pk"), col("__tie"),
          col("__vrnk"), col("__vdrnk"), col("__total"))
    } else {
      // Quantile boundaries of the leading tie value — O(numRanges)
      // driver-side metadata (the analogue of RangePartitioner bounds,
      // but shared by every phase so bucket placement can never
      // disagree), computed over the already-aggregated value frame.
      val bounds = vc.select(col("__tie").getField(tie0).cast("double").as("__t"))
        .stat.approxQuantile("__t", (1 until n).map(_.toDouble / n).toArray, 0.001)
        .distinct.sorted
      val bucket =
        if (bounds.isEmpty) lit(0)
        else graft.functions.BucketSearch.of(s, col("__tie").getField(tie0), bounds)
      val vb = vc.withColumn("__b", bucket)
      // Per-(group, bucket) row/distinct counts — a tiny frame
      // (groups × numRanges rows); its prefix windows are negligible.
      val statsB = vb.groupBy(col("__pk"), col("__b"))
        .agg(sum("__c").as("__bc"), count(lit(1)).as("__dc"))
      val wPrev = Window.partitionBy(col("__pk")).orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy(col("__pk"))
      val offs = statsB.select(col("__pk"), col("__b"),
        coalesce(sum("__bc").over(wPrev), lit(0L)).as("__rowOff"),
        coalesce(sum("__dc").over(wPrev), lit(0L)).as("__dOff"),
        sum("__bc").over(wAll).as("__total"))
      // Within each (group, bucket): cumulative row count and distinct
      // position (vc rows ARE the distinct values). Equal values always
      // share a bucket, so offsets + local prefixes are exact.
      val wv = Window.partitionBy(col("__pk"), col("__b")).orderBy(col("__tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wd = Window.partitionBy(col("__pk"), col("__b")).orderBy(col("__tie"))
      // no broadcast hint: offs is (groups × numRanges)-sized, so with
      // a high-cardinality group key a forced broadcast would collect
      // a group-sized frame to the driver. AQE sees the runtime size
      // and still broadcasts when it is actually small.
      vb.join(offs, Seq("__pk", "__b"))
        .withColumn("__vrnk", col("__rowOff") + sum("__c").over(wv) - col("__c") + 1)
        .withColumn("__vdrnk", col("__dOff") + row_number().over(wd))
        .select(col("__pk"), col("__tie"),
          col("__vrnk"), col("__vdrnk"), col("__total"))
    }

    // Phase 2 — TABLE granularity: one shuffle on (group, tie value)
    // serves both the join back and the tie-group row_number (the join
    // output is already clustered on the window's partition keys, so
    // the window adds only a sort). row_number within the tie group
    // offsets from the value rank: rn = rank(v) + local position - 1.
    val orderCols = if (uniqueCols.nonEmpty) uniqueCols else tieCols
    val wu = Window.partitionBy(col("__pk"), col("__tie"))
      .orderBy(orderCols.map(col): _*)
    val k = lit(ntileK.toLong)
    // Hot-tie salting: a single tie value holding > hotTieCut rows
    // would land its whole (group, tie) partition on ONE task in both
    // the join back and the row_number sort. When the probe sees one,
    // rows of the (few, tiny-to-enumerate) hot ties split off and get
    // their row_number two-phase: bucket by quantiles of the leading
    // unique column (value-derived — same single-array discipline as
    // phase 1, so placement can't disagree), local row_number inside
    // (group, tie, bucket), plus a per-bucket count offset. Requires a
    // numeric leading unique column; otherwise the plain window runs
    // (correct, just not spread).
    val hot = hotTieCut > 0 && maxTie > hotTieCut && uniqueCols.nonEmpty &&
      dfK.schema(uniqueCols.head).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
    // shuffle-hash, not sort-merge: the window sorts by (keys,
    // uniqueCols) right after the join, so SMJ's per-side key sorts
    // would be thrown away.
    val withGrn = if (!hot) {
      dfK.join(vals.hint("shuffle_hash"), Seq("__pk", "__tie"))
        .withColumn("__grn", col("__vrnk") + row_number().over(wu) - 1)
    } else {
      val u0 = uniqueCols.head
      // ≤ total/hotTieCut entries — broadcastable by construction
      val hotTies = vc.where(col("__c") > hotTieCut)
        .select(col("__pk"), col("__tie"), lit(1).as("__hot"))
      val tagged = dfK.join(broadcast(hotTies), Seq("__pk", "__tie"), "left")
      val cold = tagged.where(col("__hot").isNull).drop("__hot")
        .join(vals.hint("shuffle_hash"), Seq("__pk", "__tie"))
        .withColumn("__grn", col("__vrnk") + row_number().over(wu) - 1)
      val hotRows = tagged.where(col("__hot") === 1).drop("__hot")
      val bounds2 = hotRows.select(col(u0).cast("double").as("__t"))
        .stat.approxQuantile("__t", (1 until n).map(_.toDouble / n).toArray, 0.001)
        .distinct.sorted
      val b2 = if (bounds2.isEmpty) lit(0)
        else graft.functions.BucketSearch.of(s, col(u0), bounds2)
      val hotB = hotRows.withColumn("__b2", b2)
      val wPrev2 = Window.partitionBy(col("__pk"), col("__tie"))
        .orderBy(col("__b2")).rowsBetween(Window.unboundedPreceding, -1)
      // per-(hot tie, bucket) counts: hot-tie count × numRanges rows
      val offs2 = hotB.groupBy(col("__pk"), col("__tie"), col("__b2"))
        .agg(count(lit(1)).as("__bc2"))
        .withColumn("__off2", coalesce(sum("__bc2").over(wPrev2), lit(0L)))
        .select(col("__pk"), col("__tie"), col("__b2"), col("__off2"))
      val wLoc = Window.partitionBy(col("__pk"), col("__tie"), col("__b2"))
        .orderBy(orderCols.map(col): _*)
      // both join sides broadcast (hot ties are few): the only shuffle
      // over hot rows keys on (group, tie, bucket) — spread over
      // numRanges tasks instead of one
      val hotVals = vals.join(
        broadcast(hotTies.drop("__hot")), Seq("__pk", "__tie"))
      hotB.join(broadcast(hotVals), Seq("__pk", "__tie"))
        .join(broadcast(offs2), Seq("__pk", "__tie", "__b2"))
        .withColumn("__grn",
          col("__vrnk") + col("__off2") + row_number().over(wLoc) - 1)
        .drop("__b2", "__off2")
        .unionByName(cold)
    }
    withGrn
      // ranks emit as LONG (round-11 ADVICE): past 2^31 rows per
      // group an int rank wraps silently — q229's rank·x exactness
      // claim (and any 100 TB consumer) needs the full width. ntile
      // stays int: it is bounded by k, not by the row count.
      .withColumn("rnk", col("__vrnk").cast("long"))
      .withColumn("drnk", col("__vdrnk").cast("long"))
      // SQL ntile over T rows: the first T mod k buckets take
      // ceil(T/k) rows, the rest floor(T/k) — computed from the global
      // row_number and the group total, no extra pass.
      .withColumn("nt", {
        val q = idiv(col("__total"), k); val r = col("__total") % k
        when(col("__grn") <= (q + 1) * r, idiv(col("__grn") - 1, q + 1) + 1)
          .otherwise(r + idiv(col("__grn") - 1 - (q + 1) * r, q) + 1)
      }.cast("int"))
      .withColumn("rn", col("__grn").cast("long"))
      .drop("__pk", "__tie", "__vrnk", "__vdrnk", "__total", "__grn")
  }

  /** Appends long `n_band` = count of group rows with `valCol` in
    * [v - width, v] — the RANGE-frame running count, O(N log N) total
    * work like the window form but with every shuffle keyed on
    * (pkeys, quantile-bucket) or (pkeys, value), never on pkeys alone.
    *
    * n_band(v) = C(v) - D(v) with C(v) = #rows ≤ v and D(v) =
    * #rows < v - width, both per group:
    *  1. per-(group, value) counts (`vc`) — ONE row per distinct value;
    *  2. ONE tagged-union running sum inside each (group, bucket)
    *     resolves both prefixes: offset-seed rows + value rows + probe
    *     rows (each value probes at v - width into the probe's own
    *     bucket) sort by (x, tag), and the running count reads C at
    *     value rows and D at probe rows;
    *  3. a hash aggregate on (group, value) pairs each value's C with
    *     its probe's D — no self-join over the union scan.
    * A naive bucket-join (sum counts over each anchor's band) is
    * Θ(N × band-occupancy) — measured 19× slower at sf0.1 — because it
    * re-adds the whole band per anchor instead of reusing prefixes. */
  def bandCount(df: DataFrame, pkeys: Seq[String], valCol: String,
      width: Long, numRanges: Int = 0, adaptiveCut: Int = 10000): DataFrame = {
    val s = df.sparkSession
    val n = if (numRanges > 0) numRanges else s.sparkContext.defaultParallelism
    // Struct group key: null-safe in every join below (raw-column
    // equality would drop null group values the window form keeps).
    val dfK = df.withColumn("__g", struct(pkeys.map(col): _*))
    // SQL RANGE frames put null order values in ONE peer group whose
    // frame spans exactly the null peers — handled as its own branch,
    // which also keeps the non-null pipeline's seed rows (null __x)
    // unambiguous.
    val nn = dfK.where(col(valCol).isNotNull)
    val vc = nn.groupBy(col("__g"), col(valCol))
      .agg(count(lit(1)).as("__c"))
    // pinned: vc feeds the adaptive probe (action), the bounds action,
    // and the bucketed union's values/probes arms — see `ranked`
    if (vc.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      vc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Adaptive: a small distinct-value frame (bounded domains) takes
    // the RANGE window directly over the per-value counts — exact and
    // trivially cheap; only continuous domains need the distributed
    // prefix machinery below. Same probe trade as `ranked`.
    if (adaptiveCut > 0 && vc.limit(adaptiveCut + 1).count() <= adaptiveCut) {
      val wRange = Window.partitionBy(col("__g")).orderBy(col(valCol))
        .rangeBetween(-width, 0)
      val nb = vc.withColumn("n_band", sum("__c").over(wRange)).drop("__c")
      val nnOut = nn.join(nb.hint("shuffle_hash"), Seq("__g", valCol))
      val nullBandS = dfK.where(col(valCol).isNull)
        .groupBy(col("__g")).agg(count(lit(1)).as("n_band"))
      val nullsOutS = dfK.where(col(valCol).isNull).join(nullBandS, "__g")
      return nnOut.unionByName(nullsOutS).drop("__g")
    }
    // Quantile bounds over the DISTINCT values (balances the union
    // window's per-bucket row counts); O(n) driver-side metadata.
    val bounds = vc.select(col(valCol).cast("double").as("__t"))
      .stat.approxQuantile("__t", (1 until n).map(_.toDouble / n).toArray, 0.01)
      .distinct.sorted
    def bucketOf(c: Column): Column =
      if (bounds.isEmpty) lit(0)
      else graft.functions.BucketSearch.of(s, c, bounds)
    val withB = vc.withColumn("__b", bucketOf(col(valCol)))
    // Complete (group × bucket) offset grid — tiny (groups × n rows),
    // and total: a probe landing in an EMPTY bucket still finds its
    // offset. __off(b) = group rows in strictly-earlier buckets.
    val wPrev = Window.partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = vc.select(col("__g")).distinct()
      .crossJoin(s.range(0, n).select(col("id").cast("int").as("__b")))
      .join(withB.groupBy(col("__g"), col("__b"))
        .agg(sum("__c").as("__bc")), Seq("__g", "__b"), "left")
      .withColumn("__off", coalesce(sum("__bc").over(wPrev), lit(0L)))
      .select(col("__g"), col("__b"), col("__off"))
    // ONE tagged-union pass resolves BOTH prefix sums. Every union row
    // carries a count `__c`: per-(group, bucket) SEED rows (x null, so
    // they sort first) carry the bucket OFFSET as their count, value
    // rows carry their multiplicity, probe rows (x = v - width, landing
    // in the probe's own bucket) carry 0. The running sum over the
    // (x, tag) order then reads C(v) at each value row (offset + counts
    // of values ≤ v) and D(v) at its probe row (offset + counts
    // strictly below v - width: probes at tag 0 sort BEFORE equal
    // values at tag 1, keeping the inclusive lower band edge in the
    // band). Replaces a per-bucket cumsum window + broadcast join + a
    // separate as-of window over the same frame.
    val valType = vc.schema(valCol).dataType
    val seeds = offs.select(
      col("__g"), col("__b"), lit(null).cast(valType).as("__x"),
      lit(-1).as("__tag"), col("__off").as("__c"),
      lit(null).cast(valType).as("__anchor"))
    val values = withB.select(
      col("__g"), col("__b"), col(valCol).as("__x"), lit(1).as("__tag"),
      col("__c"), lit(null).cast(valType).as("__anchor"))
    val probes = vc.select(
      col("__g"), bucketOf(col(valCol) - width).as("__b"),
      (col(valCol) - width).as("__x"), lit(0).as("__tag"),
      lit(0L).as("__c"), col(valCol).as("__anchor"))
    val wAsof = Window.partitionBy(col("__g"), col("__b"))
      .orderBy(col("__x").asc_nulls_first, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = seeds.unionByName(values).unionByName(probes)
      .withColumn("__S", sum("__c").over(wAsof))
    // Pair C (value rows) with D (probe rows) by the value itself —
    // value rows key on __x, probe rows on their anchor — via a hash
    // aggregate on the high-cardinality (group, value) key: no
    // self-join, so the union scan runs exactly once.
    val nb = scanned.where(col("__tag") >= 0)
      .groupBy(col("__g"), coalesce(col("__anchor"), col("__x")).as(valCol))
      .agg(max(when(col("__tag") === 1, col("__S"))).as("__C"),
        max(when(col("__tag") === 0, col("__S"))).as("__D"))
      .select(col("__g"), col(valCol), (col("__C") - col("__D")).as("n_band"))
    // shuffle-hash: nothing downstream consumes a key-sorted order,
    // so SMJ's per-side sorts would be wasted
    val nnOut = nn.join(nb.hint("shuffle_hash"), Seq("__g", valCol))
    // null peer group: frame = all null peers of the group
    val nullBand = dfK.where(col(valCol).isNull)
      .groupBy(col("__g")).agg(count(lit(1)).as("n_band"))
    val nullsOut = dfK.where(col(valCol).isNull).join(nullBand, "__g")
    nnOut.unionByName(nullsOut).drop("__g")
  }

  /** Distributed GLOBAL prefix sum: appends long `cum_sum` =
    * cumulative `valueCol` in `orderCol` order over the whole frame —
    * the classic full-table running total that a plain unpartitioned
    * window serializes onto ONE task. Same quantile-bucket two-phase
    * as `ranked`: bucket offsets from a tiny per-bucket stats frame +
    * local cumsum windows keyed on the bucket id. `orderCol` must be
    * numeric and UNIQUE (ties would make the running total
    * order-dependent); equal bucket placement is value-derived, so the
    * phases can never disagree. */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
      numRanges: Int = 0): DataFrame =
    prefixSumBy(df, Seq(orderCol), valueCol, numRanges)

  /** Multi-column global order variant of `prefixSum` — the total
    * order is lexicographic over `orderCols` (no value-packing into a
    * long, so the key domains are unbounded: the q133 fix for
    * o_orderkey ≥ 2^33). Buckets come from the LEADING column's
    * quantile bounds — the same coarsening `ranked` uses for its tie
    * struct: equal leading values always share a bucket, so bucket
    * order is a prefix of the total order and within-bucket windows
    * complete it exactly. A single massively-hot leading value still
    * pins its bucket to one task (the `ranked` hot-tie phase is the
    * escape hatch when that bites). */
  def prefixSumBy(df: DataFrame, orderCols: Seq[String], valueCol: String,
      numRanges: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "prefixSumBy: orderCols must be non-empty")
    val s = df.sparkSession
    val lead = orderCols.head
    val n = if (numRanges > 0) numRanges else s.sparkContext.defaultParallelism
    val bounds = df.select(col(lead).cast("double").as("__t"))
      .stat.approxQuantile("__t", (1 until n).map(_.toDouble / n).toArray, 0.001)
      .distinct.sorted
    val bucket =
      if (bounds.isEmpty) lit(0)
      else graft.functions.BucketSearch.of(s, col(lead), bounds)
    val withB = df.withColumn("__b", bucket)
    val wPrev = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // per-bucket totals: numRanges rows — the prefix window over them
    // is negligible
    val offs = withB.groupBy(col("__b"))
      .agg(sum(col(valueCol).cast("long")).as("__bsum"))
      .withColumn("__off", coalesce(sum("__bsum").over(wPrev), lit(0L)))
      .select(col("__b"), col("__off"))
    val wCum = Window.partitionBy(col("__b"))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(broadcast(offs), "__b")
      .withColumn("cum_sum",
        col("__off") + sum(col(valueCol).cast("long")).over(wCum))
      .drop("__b", "__off")
  }

  /** Exact distributed PERCENTILE_CONT — one row per group with a
    * double column per requested quantile, equal to
    * `percentile(valCol, p)` (linear interpolation, nulls ignored;
    * groups whose values are all null are absent, as are groups absent
    * from `df`). Built for the case `percentile()` cannot survive: the
    * builtin buffers each group's ENTIRE value multiset in one
    * aggregation buffer, so a 3-group fact table holds the whole
    * column in 3 tasks at any cluster size. Here the heavy state is
    * the per-(group, value) count frame — distributed like any hash
    * aggregate — and ranks come from the same bucketed prefix sums as
    * `ranked`:
    *
    *  1. per-(group, value) counts (map-side combinable);
    *  2. cumulative count ≤ v per value — plain prefix window when the
    *     distinct-value frame is small (bounded domains), else
    *     quantile-bucket offsets + local windows (one driver-computed
    *     bounds array, so phases agree by construction);
    *  3. a groups × quantiles TARGET frame (1-based covering ranks of
    *     floor/ceil of position = (N−1)·p) equi-joined back onto the
    *     value frame — each value row covers ranks
    *     [cum − c + 1, cum], so the probe is an equi-join on the group
    *     plus an O(quantiles) residual;
    *  4. two tiny aggregates pick the covering values and interpolate
    *     with EXACTLY the builtin's arithmetic — same IEEE op order,
    *     same early returns — so results are bit-identical, not just
    *     close.
    *
    * Every shuffle keys on (group, value) or (group, bucket), never on
    * the group alone; no task ever holds a group's multiset. */
  def quantiles(df: DataFrame, pkeys: Seq[String], valCol: String,
      qs: Seq[(String, Double)], numRanges: Int = 0,
      adaptiveCut: Int = 10000): DataFrame = {
    require(qs.nonEmpty, "quantiles: qs must be non-empty")
    require(qs.map(_._1).distinct.size == qs.size,
      s"quantiles: duplicate output names in ${qs.map(_._1).mkString(",")}")
    qs.foreach { case (nm, p) =>
      require(p >= 0.0 && p <= 1.0, s"quantiles: $nm=$p outside [0, 1]") }
    val s = df.sparkSession
    val n = if (numRanges > 0) numRanges else s.sparkContext.defaultParallelism
    // struct group key: null-safe join/group semantics (see ranked)
    val dfK = df.where(col(valCol).isNotNull)
      .withColumn("__pk", struct(pkeys.map(col): _*))
    // vc feeds the adaptive probe / quantile-bounds DRIVER ACTIONS and
    // the cumulative pipeline (twice on the bucketed path: offs + the
    // join) — without the pin each consumer re-runs the upstream
    // aggregate over the input (round 16, guide §5: the frame is the
    // value DOMAIN, the bounded state this operator exists to keep
    // distributed; MEMORY_AND_DISK spills if a domain is huge). The
    // driver action below materializes it before the fan-out.
    val vc = dfK.groupBy(col("__pk"), col(valCol)).agg(count(lit(1)).as("__c"))
    if (vc.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      vc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same adaptive trade as bandCount: bounded domains skip the
    // bucket apparatus (their value frame stays small at ANY scale)
    val small = adaptiveCut > 0 && vc.limit(adaptiveCut + 1).count() <= adaptiveCut
    val withCum = if (small) {
      val wCum = Window.partitionBy(col("__pk")).orderBy(col(valCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vc.withColumn("__cum", sum("__c").over(wCum))
    } else {
      val bounds = vc.select(col(valCol).cast("double").as("__t"))
        .stat.approxQuantile("__t", (1 until n).map(_.toDouble / n).toArray, 0.001)
        .distinct.sorted
      val bucket =
        if (bounds.isEmpty) lit(0)
        else graft.functions.BucketSearch.of(s, col(valCol), bounds)
      val vb = vc.withColumn("__b", bucket)
      val wPrev = Window.partitionBy(col("__pk")).orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = vb.groupBy(col("__pk"), col("__b"))
        .agg(sum("__c").as("__bc"))
        .withColumn("__off", coalesce(sum("__bc").over(wPrev), lit(0L)))
        .select(col("__pk"), col("__b"), col("__off"))
      val wv = Window.partitionBy(col("__pk"), col("__b")).orderBy(col(valCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // no broadcast hint (group-sized frame; see ranked) — AQE
      // broadcasts at runtime when the frame is actually small
      vb.join(offs, Seq("__pk", "__b"))
        .withColumn("__cum", col("__off") + sum("__c").over(wv))
        .drop("__b", "__off")
    }
    // per-group N (max cum): groups-sized frame
    val totals = withCum.groupBy(col("__pk")).agg(max("__cum").as("__n"))
    // target frame: groups × quantiles rows. position/lower/higher in
    // the builtin's exact arithmetic: position = (N-1) * p as doubles.
    val qArr = array(qs.map { case (nm, p) =>
      struct(lit(nm).as("__qname"), lit(p).as("__p")) }: _*)
    val targets = totals
      .select(col("__pk"), col("__n"), explode(qArr).as("__q"))
      .select(col("__pk"),
        col("__q.__qname").as("__qname"),
        ((col("__n") - 1).cast("double") * col("__q.__p")).as("__pos"))
      .withColumn("__lo", floor(col("__pos")))
      .withColumn("__hi", ceil(col("__pos")))
      .withColumn("__klo", col("__lo").cast("long") + 1)
      .withColumn("__khi", col("__hi").cast("long") + 1)
    // equi-join on the group key, residual O(quantiles) rank-band
    // check; a value row covers ranks [cum - c + 1, cum]
    val t = targets
      .withColumnRenamed("__pk", "__tpk")
    // no broadcast hint: the target frame is groups × quantiles rows —
    // group-sized under a high-cardinality key; AQE picks broadcast at
    // runtime when small, so the heavy state stays distributed like
    // any hash aggregate (as the scaladoc promises)
    val covered = withCum.join(t,
      col("__pk") === col("__tpk") &&
        col("__cum") >= col("__klo") &&
        (col("__cum") - col("__c") + 1) <= col("__khi"))
    def covers(k: Column): Column =
      col("__cum") >= k && (col("__cum") - col("__c") + 1) <= k
    val v = col(valCol).cast("double")
    val perQ = covered.groupBy(col("__pk"), col("__qname"))
      .agg(
        max(when(covers(col("__klo")), v)).as("__xlo"),
        max(when(covers(col("__khi")), v)).as("__xhi"),
        max(col("__pos")).as("__pos"),
        max(col("__lo")).as("__lo"),
        max(col("__hi")).as("__hi"))
      // the builtin's exact formula and early returns
      .withColumn("__res",
        when(col("__hi") === col("__lo") || col("__xhi") === col("__xlo"),
          col("__xlo"))
          .otherwise(
            (col("__hi") - col("__pos")) * col("__xlo") +
              (col("__pos") - col("__lo")) * col("__xhi")))
    perQ.groupBy(col("__pk"))
      .agg(
        max(when(col("__qname") === qs.head._1, col("__res"))).as(qs.head._1),
        qs.tail.map { case (nm, _) =>
          max(when(col("__qname") === nm, col("__res"))).as(nm) }: _*)
      .select(pkeys.map(k => col("__pk").getField(k).as(k)) ++
        qs.map { case (nm, _) => col(nm) }: _*)
  }

  /** Generalized nth positions over an unbounded frame: one row per
    * group with `nth_<p>` = targetCol of the p-th row in `orderCols`
    * order (null when the group has fewer rows), for every p in
    * `positions` — still one WindowGroupLimit-trimmed rank filter
    * capped at max(positions), so each map task ships at most that
    * many rows per group. Duplicate positions collapse to one output
    * column. */
  def fullFrameNth(df: DataFrame, pkeys: Seq[String],
      orderCols: Seq[Column], targetCol: String,
      positions: Seq[Int]): DataFrame = {
    require(positions.nonEmpty, "fullFrameNth: positions must be non-empty")
    require(positions.forall(_ >= 1),
      s"fullFrameNth: positions are 1-based, got ${positions.mkString(",")}")
    val ps = positions.distinct
    val maxN = ps.max
    val asc = Window.partitionBy(pkeys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(asc))
      .where(col("__rn") <= maxN)
      .groupBy(pkeys.map(col): _*)
      .agg(
        max(when(col("__rn") === ps.head, col(targetCol)))
          .as(s"nth_${ps.head}"),
        ps.tail.map(p =>
          max(when(col("__rn") === p, col(targetCol))).as(s"nth_$p")): _*)
  }

  /** Per-group order-extremes for unbounded-frame first/last/nth:
    * returns one row per group with `first_v`, `last_v`, `nth_v`
    * (null when the group has < nth rows) of `targetCol` ordered by
    * `orderCols`. Rank filters plan through WindowGroupLimit (each map
    * task pre-trims to its local top-k before the shuffle), so no
    * full-table rows funnel into the 3-value-key exchange; the result
    * is group-cardinality-sized — broadcast it back onto the table.
    * Callers joining the edges back on NULLABLE group keys should join
    * on `struct(pkeys)` (null-safe equality), not the raw columns. */
  def fullFrameEdges(df: DataFrame, pkeys: Seq[String],
      orderCols: Seq[Column], targetCol: String, nth: Int): DataFrame = {
    val asc = Window.partitionBy(pkeys.map(col): _*).orderBy(orderCols: _*)
    val desc = Window.partitionBy(pkeys.map(col): _*)
      .orderBy(orderCols.map(_.desc): _*)
    val tops = df.withColumn("__rn", row_number().over(asc))
      .where(col("__rn") <= nth)
      .groupBy(pkeys.map(col): _*)
      .agg(
        min_by(col(targetCol), col("__rn")).as("first_v"),
        max(when(col("__rn") === nth, col(targetCol))).as("nth_v"))
    val bottom = df.withColumn("__rn", row_number().over(desc))
      .where(col("__rn") === 1)
      .groupBy(pkeys.map(col): _*)
      .agg(min(col(targetCol)).as("last_v"))
    tops.join(bottom, pkeys)
  }
}
