package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.operators.{TextDedup, TopK}

/** Corpus-mining keys (charter extensions, SURVEY.md §2.10/§2.13):
  * the sampling / vocabulary / dedup-calibration passes a training-data
  * pipeline runs between cleaning and packing. Grouped here rather
  * than in TextQueries to keep that file at its round-4 shape.
  *
  * Scale discipline shared by every key: hashes are md5 (identical in
  * every engine), sampling is hash-ranked (replayable, no rand()),
  * vocabulary joins are word-keyed SHUFFLES (a 100 TB corpus has a
  * corpus-sized vocabulary — same contract as q109/q111), and only
  * O(1)-row aggregates broadcast.
  */
object MiningQueries {

  /** Corpus scans here feed expression-heavy map pipelines (tokenize
    * explodes, md5 draws, shingle cascades), so start from a
    * core-spread scan like TextQueries does (Tables.spread — no-op on
    * an already-split table at scale; idempotent with the operator-
    * level spreads inside TextDedup). */
  private def docs(s: SparkSession, d: String): DataFrame =
    spread(s, documents(s, d))

  /** Spark-side whitespace tokens; `TS` below is the DuckDB twin. */
  private val TOKS = "filter(split(text, ' '), w -> w <> '')"
  private val TS = "list_filter(string_split(text, ' '), w -> w <> '')"

  /** q119: deterministic stratified sample — 20 docs per language,
    * ranked by a salted md5 of the doc id (the replayable substitute
    * for rand(): same draw on any engine, any retry, any run). Rank
    * goes through TopK.perGroup (salted two-phase row_number), so one
    * giant stratum never pins a single task; the hash itself is pure
    * map-side work. This is the "hold out a fixed audit slice per
    * language" pass of a curation pipeline. */
  private def q119(s: SparkSession, d: String): DataFrame = {
    val h = docs(s, d).select(col("lang"), col("doc_id"),
      md5(concat(lit("smp:"), col("doc_id").cast("string"))).as("hk"))
    TopK.perGroup(h, Seq("lang"), Seq(col("hk").asc, col("doc_id").asc), k = 20)
      .select(col("lang"), col("rn"), col("doc_id"))
      .transform(Det.emitWide(_, "lang", "rn"))
  }

  /** q120: exact heavy hitters — tokens above 0.1% of all token
    * occurrences, with count and corpus share. Two-level aggregate:
    * the token count map-side-combines before its word-keyed shuffle,
    * the grand total is a 1-row broadcast, and the threshold filter is
    * a scalar compare per vocabulary row. The exact-count twin of a
    * count-min/Misra-Gries pass (which only approximates this set). */
  private def q120(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d)
      .select(explode(expr(TOKS)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").cast("double").as("tot"))
    counts.crossJoin(broadcast(tot))
      .where(col("cnt") > col("tot") / 1000)
      .select(col("w"), col("cnt"), Det.r6e(col("cnt") / col("tot")).as("share"))
      .transform(Det.emitWide(_, "w"))
  }

  /** q121: top-20 adjacent token pairs — the pair-counting step of BPE
    * vocabulary induction (each merge round recounts exactly this).
    * Bigrams fan out map-side from one tokenization (tokens
    * materialize once per row — see TextDedup.withShingles), counts
    * map-side-combine into the pair-keyed shuffle, and the global
    * top-20 is TakeOrderedAndProject (per-partition heads, never a
    * full sort). Ties at the boundary break on the pair text, so both
    * engines keep identical rows. */
  private def q121(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("toks", expr(TOKS))
      .where(expr("size(toks) >= 2"))
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1]))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(20)

  /** q122: MinHash Jaccard ESTIMATE for every LSH candidate pair —
    * fraction of agreeing signature slots. This is the calibration
    * table for the dedup threshold: compare against q89's exact
    * Jaccard to pick the band/row config before running at full
    * scale, and at 100 TB it is the ONLY per-pair similarity that is
    * affordable corpus-wide (exact Jaccard re-shingles both docs; the
    * estimate joins 8-row signatures). Candidates come from the same
    * (seed, sig)-bucket enumeration as q87 — never corpus². */
  private def q122(s: SparkSession, d: String): DataFrame = {
    // sigs feeds three differently-keyed joins (bucket enumeration +
    // both pair sides) — differently-keyed exchanges can't reuse each
    // other, so pin the 8-rows-per-doc signature table instead of
    // computing the shingle→minhash cascade three times.
    val sigs = TextDedup.minhashSignatures(docs(s, d), "doc_id", "text")
      .transform(Det.pin)
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
    val sa = sigs.select(col("doc_id").as("a_id"), col("seed"), col("sig").as("siga"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("seed"), col("sig").as("sigb"))
    pairs.join(sa, "a_id")
      .join(sb, Seq("b_id", "seed"))
      .groupBy("a_id", "b_id")
      .agg(Det.r4e(
        sum(when(col("siga") === col("sigb"), 1.0).otherwise(0.0)) / 8.0)
        .as("est_jaccard"))
      .transform(Det.emitWide(_, "a_id", "b_id"))
  }

  /** q123: duplicate-cluster labels over the MinHash LSH pair graph —
    * TextDedup.dupClusters (min-label propagation to a fixpoint, one
    * id-keyed shuffle per round, lineage truncated between rounds)
    * bound to the fixture corpus. The DuckDB oracle is a
    * recursive-CTE reachability closure taking min over reachable
    * labels — an independent algorithm, so this key turns the
    * connected-components operator from property-tested into
    * oracle-checked. */
  private def q123(s: SparkSession, d: String): DataFrame = {
    val sigs = TextDedup.minhashSignatures(docs(s, d), "doc_id", "text")
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
    TextDedup.dupClusters(pairs)
      .transform(Det.emitWide(_, "id"))
  }

  /** q124: edit-distance-verified near-dup pairs — candidates from
    * SimHash pigeonhole banding (q103's machinery: exact for simhash
    * hamming ≤ 3, bucket-keyed join, never corpus²), then verified
    * with exact Levenshtein ≤ 10 (typo-level duplicates). The O(len²)
    * verify runs ONLY on banded candidates — that bound is the whole
    * reason the candidates are banded. Both engines compute classic
    * Levenshtein, so the distances hash-match. The candidate contract
    * (banded, not all-pairs) is part of the key's definition; the
    * oracle encodes the same banding. */
  private def q124(s: SparkSession, d: String): DataFrame = {
    val cand = TextDedup.simhashNearDupPairs(docs(s, d), "doc_id", "text",
      maxHamming = 3)
    val ta = docs(s, d).select(col("doc_id").as("a_id"), col("text").as("ta"))
    val tb = docs(s, d).select(col("doc_id").as("b_id"), col("text").as("tb"))
    cand.join(ta, "a_id").join(tb, "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("ta"), col("tb")).as("edit_dist"))
      .where(col("edit_dist") <= 10)
      .transform(Det.emitWide(_, "a_id", "b_id"))
  }

  /** q127: repeated-8-gram dedup statistics — for every doc (≥ 8
    * tokens), how many of its 8-gram positions carry an 8-gram that
    * occurs ≥ 2 times ANYWHERE in the corpus (within-doc repeats
    * count: they are duplicated text too). This is the span-level
    * statistic behind exact-substring training-data dedup (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models
    * Better"): docs with high `dup_frac` are cut or trimmed before
    * training. Scale shape: grams travel as md5 hashes (16 bytes, not
    * the text), the occurrence count is a gram-keyed hash aggregate
    * with map-side combine, and the count joins BACK on the same gram
    * key — a co-located high-cardinality shuffle join (the q109/q111
    * vocabulary contract; never a broadcast, the corpus's gram set is
    * corpus-sized). */
  private def q127(s: SparkSession, d: String): DataFrame =
    TextDedup.repeatedNgramStats(docs(s, d), "doc_id", "text", n = 8)
      .withColumn("dup_frac", Det.r4e(col("dup_frac")))
      .transform(Det.emitWide(_, "doc_id"))

  /** q128: PMI collocations — top-20 adjacent word pairs by pointwise
    * mutual information, ln(p(a,b) / (p(a)·p(b))), min pair count 5.
    * The collocation-mining pass of phrase/tokenizer induction: q121
    * ranks pairs by raw frequency (which surfaces stopword bigrams),
    * PMI surfaces pairs that co-occur far above chance. Scale shape:
    * the bigram table joins the unigram table TWICE, both on the word
    * key — high-cardinality co-located shuffles (vocabulary contract);
    * only the two 1-row grand totals broadcast. Both engines compute
    * the identical formula text and round at 4dp, so the order-by on
    * the rounded score is stable. */
  private def q128(s: SparkSession, d: String): DataFrame = {
    val toksDf = docs(s, d).withColumn("toks", expr(TOKS))
    val uni = toksDf.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val bi = toksDf.where(expr("size(toks) >= 2"))
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] as a, toks[i+1] as b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .where(col("cab") >= 5)
    val nu = uni.agg(sum("cw").cast("double").as("nu"))
    val nb = toksDf.select(
      greatest(expr("size(toks) - 1"), lit(0)).cast("long").as("k"))
      .agg(sum("k").cast("double").as("nb"))
    val ca = uni.select(col("w").as("a"), col("cw").as("ca"))
    val cb = uni.select(col("w").as("b"), col("cw").as("cb"))
    bi.join(ca, "a").join(cb, "b")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("a"), col("b"), col("cab"),
        Det.r4e(log((col("cab") / col("nb")) /
          ((col("ca") / col("nu")) * (col("cb") / col("nu"))))).as("pmi"))
      .orderBy(col("pmi").desc, col("a").asc, col("b").asc)
      .limit(20)
  }

  /** q130: inverted-index build — posting lists for the 5 rarest
    * terms (lowest document frequency; this fixture's 31-word
    * vocabulary is uniformly common, so rarity — not an absolute df
    * band — is what selects a non-vacuous slice at every SF).
    * TWO-PASS by design: pass 1 computes df as a counts-only
    * aggregate (no lists — a stopword's posting list at 100 TB is
    * itself TB-sized and must never materialize), pass 2 joins the 5
    * selected words back (5-row broadcast) and collects postings ONLY
    * for them. The EMIT is scale-honest too: even a rare term's list
    * is unbounded in the corpus size, so the row carries df, a 10-id
    * preview, and an md5 digest of the full sorted list (content
    * verified, payload bounded). */
  private def q130(s: SparkSession, d: String): DataFrame = {
    val pairs = docs(s, d)
      .select(explode(expr(TOKS)).as("w"), col("doc_id"))
      .distinct()
    val rare = pairs.groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(col("df").asc, col("w").asc).limit(5)
    pairs.join(broadcast(rare), "w")
      .groupBy("w", "df")
      .agg(expr("sort_array(collect_list(doc_id))").as("ids"))
      .select(col("w"), col("df"),
        expr("array_join(transform(slice(ids, 1, 10), x -> cast(x as string)), ',')")
          .as("head10"),
        md5(expr("array_join(transform(ids, x -> cast(x as string)), ',')"))
          .as("digest"))
      .transform(Det.emit(_, "w"))
  }

  /** q131: z-score outlier screen — the 20 most anomalous order
    * totals relative to their market segment's mean/stddev (the
    * data-quality pass that flags corrupt/extreme records before they
    * enter a training aggregate). Scale shape: orders⋈customer
    * shuffles on the customer key (both tables are fact-sized at
    * 100 TB — never a broadcast), the 5-row per-segment stats
    * broadcast back, z is one map-side expression, and the top-20 is
    * TakeOrderedAndProject on the ROUNDED score (both engines order
    * the same 4dp value; ties break on the order key). */
  private def q131(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).join(customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_orderkey"),
        col("o_totalprice"))
    val st = o.groupBy("segment").agg(
      avg("o_totalprice").as("mu"),
      stddev_samp(col("o_totalprice")).as("sd"))
    o.join(broadcast(st), "segment")
      .select(col("o_orderkey"), col("segment"), col("o_totalprice"),
        Det.r4e((col("o_totalprice") - col("mu")) / col("sd")).as("z"))
      .orderBy(abs(col("z")).desc, col("o_orderkey").asc)
      .limit(20)
  }

  /** q133: global decile statistics — exact ntile(10) over ALL orders
    * by total price, with per-decile count/min/max/avg (the quantile
    * feature-binning pass; also the table behind "top decile of
    * spend" cohorts). A plain `ntile(10) over (order by price)` pins
    * the ENTIRE table's sort onto one task — the canonical
    * global-window scale killer (same class as q104's running total).
    * Here: the unique global order key packs exact 2dp price cents
    * into the long's high bits with the order key below (no double
    * rounding ambiguity, identical order in both engines), the global
    * row number is `DistributedRank.prefixSum` over value-derived
    * quantile buckets, and the decile is integer arithmetic off
    * (rn, N) — the N and the final 10-row aggregate are the only
    * non-distributed pieces, both O(1). The order key is the
    * LEXICOGRAPHIC (cents, o_orderkey) pair via `prefixSumBy` —
    * unbounded domains on both columns (round 5's packed-long form
    * died at o_orderkey ≥ 2^33 ≈ SF1400; the struct order carries no
    * bit budget at all, AlgebraProps pins it past 2^33). */
  private def q133(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("__cents", round(col("o_totalprice") * 100).cast("long"))
      .withColumn("__one", lit(1L))
    val rn = graft.operators.DistributedRank
      .prefixSumBy(o, Seq("__cents", "o_orderkey"), "__one")
      .drop("__cents")
    val n = rn.agg(count(lit(1)).as("__n"))
    rn.crossJoin(broadcast(n))
      .withColumn("decile", expr("cast(((cum_sum - 1) * 10) div __n as int)"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_orders"),
        min("o_totalprice").as("min_p"),
        max("o_totalprice").as("max_p"),
        Det.r4e(avg("o_totalprice")).as("avg_p"))
      .transform(Det.emit(_, "decile"))
  }

  /** q134: weighted sample without replacement — 20 orders drawn with
    * probability proportional to total price (the importance-sampling
    * pass behind data-mixing weights), via the Efraimidis–Spirakis
    * A-ES key: maximizing u^(1/w) ⇔ minimizing −ln(u)/w, with u an
    * md5-derived uniform in (0,1] — replayable on any engine, any
    * retry (the same no-rand() contract as q106/q119). Pure map-side
    * key computation + `TakeOrderedAndProject` top-20 on the ROUNDED
    * key (×1e5 rescale keeps the 6dp grid meaningful at this weight
    * magnitude); ties break on the order key. */
  private def q134(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      // 13 md5 hex chars = 52 uniform bits; (v+1)/(2^52+1) ∈ (0, 1]
      .withColumn("u", expr(
        "(cast(conv(substr(md5(concat('ws:', cast(o_orderkey as string))), 1, 13), 16, 10) as double) + 1.0) / 4503599627370497.0"))
      .withColumn("wkey",
        Det.r6e(-log(col("u")) / col("o_totalprice") * lit(100000.0)))
      .orderBy(col("wkey").asc, col("o_orderkey").asc)
      .limit(20)
      .select(col("o_orderkey"), col("o_totalprice"), col("wkey"))

  /** q135: per-doc unigram entropy — H = ln(n) − (Σ c·ln c)/n over the
    * doc's own token counts, plus token/unique-token counts: the
    * vocabulary-diversity quality feature (low H = repetitive/listy
    * text, complementing q99's occupancy filters and q109's
    * corpus-level surprisal). Scale shape: one (doc, word) hash
    * aggregate with map-side combine, then one doc-keyed aggregate —
    * the one-pass entropy identity avoids materializing per-word
    * probabilities. Both engines compute the identical formula text;
    * 4dp rounding absorbs float-sum order noise. */
  private def q135(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), explode(expr(TOKS)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_unique"),
        Det.r4e(log(sum("c")) - sum(col("c") * log(col("c"))) / sum("c"))
          .as("entropy"))
      .transform(Det.emitWide(_, "doc_id"))

  /** q138: column profiler — per-column row/non-null/distinct counts
    * and min/max over lineitem's numeric measures, one output row per
    * column (the profiling scan run before choosing join/agg/skew
    * strategy, the relational sibling of q126's key profile). All
    * metrics for all columns compute in ONE aggregate pass (Spark
    * plans the multi-column distinct via Expand — rows fan out
    * |distinct-aggs|+1 wide map-side, then combine); the 1-row result
    * unpivots to long form with `stack`. Never N passes over the
    * table. */
  private def q138(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"cnt_$c"),
      countDistinct(col(c)).as(s"ndv_$c"),
      min(col(c)).cast("double").as(s"min_$c"),
      max(col(c)).cast("double").as(s"max_$c")))
    lineitem(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, " + cols.map(c =>
        s"'$c', n, cnt_$c, ndv_$c, min_$c, max_$c").mkString(", ") +
        ") as (col_name, n_rows, n_nonnull, ndv, min_v, max_v)"))
      .transform(Det.emit(_, "col_name"))
  }

  /** q142: source-reputation table — per `documents.source`: volume,
    * language breadth, mean size, and the DUPLICATED-SPAN doc share
    * (docs whose repeated-8-gram fraction exceeds 0.2 — spans counted
    * corpus-WIDE, so a source pumping copies of other sources' content
    * scores high even if it never repeats itself). The per-source
    * rollup a curation pipeline keeps to weight or ban ingestion
    * feeds. The criterion is span-level (q127's operator), NOT
    * whole-content hashing: this fixture — like a real crawl — has
    * zero byte-identical documents, so an exact-dup share would be a
    * vacuous column (the q130 lesson); partially-copied text is what
    * reputations are made of. Scale shape: repeatedNgramStats' gram
    * shuffles + one doc-keyed join + the bounded source-key rollup.
    * The 0.2 compare runs on the UNROUNDED ratio of exact ints —
    * IEEE division is engine-identical, no boundary drift. */
  private def q142(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("source"), col("lang"),
      col("n_chars"))
    val spans = TextDedup.repeatedNgramStats(docs(s, d), "doc_id", "text")
      .select(col("doc_id"), col("dup_frac"))
    base.join(spans, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        Det.r4e(avg("n_chars")).as("avg_chars"),
        sum(when(col("dup_frac") > 0.2, 1L).otherwise(0L)).as("dup_docs"))
      .withColumn("dup_share", Det.r4e(col("dup_docs") / col("n_docs")))
      .transform(Det.emit(_, "source"))
  }

  /** q143: dedup-threshold calibration — for every LSH candidate pair,
    * the MinHash ESTIMATE (q122's agreeing-slot fraction) next to the
    * EXACT shingle Jaccard computed over the SAME 3-word-shingle hash
    * space, plus the absolute error. This is the table that decides
    * the near-dup cut-off before a full-scale run: the estimate is the
    * only affordable corpus-wide similarity, and this key measures
    * what that affordability costs. Scale shape: one persisted
    * signature pass feeds bucketing and both estimate sides (q122's
    * contract); the exact half joins the candidates to distinct
    * (doc, shingle-hash) pairs on the doc key, intersects on the
    * shingle hash, and derives union = |A| + |B| − |A∩B| — pair count
    * is LSH-bounded, never corpus². */
  private def q143(s: SparkSession, d: String): DataFrame = {
    // ONE tokenize→shingle→md5 cascade (round 16, guide §6): the
    // pinned (doc, hs) base-hash frame feeds BOTH the minhash side
    // (map-side fold) and the exact shingle-hash side (explode) —
    // previously two independent full-corpus md5 cascades.
    val hsDf = TextDedup.withShingleHashes(docs(s, d), "text")
      .select(col("doc_id"), col("hs")).transform(Det.pin)
    val sigs = TextDedup.minhashFromHashes(hsDf, "doc_id")
      .transform(Det.pin)
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
    val sa = sigs.select(col("doc_id").as("a_id"), col("seed"), col("sig").as("siga"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("seed"), col("sig").as("sigb"))
    val est = pairs.join(sa, "a_id").join(sb, Seq("b_id", "seed"))
      .groupBy("a_id", "b_id")
      .agg((sum(when(col("siga") === col("sigb"), 1.0).otherwise(0.0)) / 8.0)
        .as("est"))
    // exact Jaccard over the same shingle-hash space as the signatures;
    // pinned: it feeds the sizes aggregate and BOTH intersect sides —
    // three differently-keyed consumers (the q122 lesson), so without
    // the persist the explode+distinct runs three times
    val sh = hsDf
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .distinct()
      .transform(Det.pin)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("a_id"), col("h")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("h")), Seq("b_id", "h"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("a_id", "b_id"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sza")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("szb")), "b_id")
      .withColumn("exact",
        col("inter") / (col("sza") + col("szb") - col("inter")))
      .select(col("a_id"), col("b_id"),
        Det.r4e(col("est")).as("est_j"),
        Det.r4e(col("exact")).as("exact_j"),
        Det.r4e(abs(col("est") - col("exact"))).as("abs_err"))
      .transform(Det.emitWide(_, "a_id", "b_id"))
  }

  /** q209: LSH BANDING PLANNER (round 16 — the question q143's
    * calibration table feeds but never answers: which (bands, rows)
    * layout of the 8-slot MinHash signature should the NEXT dedup run
    * use? For each config b·r = 8, the S-curve collision probability
    * p(s) = 1−(1−s^r)^b is joined against the OBSERVED exact-Jaccard
    * histogram of the current corpus's candidate pairs, yielding the
    * expected caught-pair mass per similarity bucket plus the
    * config's s50 threshold (p = ½) — the table that says "(2,4)
    * drops 90% of your 0.3-bucket noise and keeps the 0.8 bucket").
    * Scale: the pair pipeline is q143's exact half (band equi-join
    * candidates, shingle-hash join-backs — never docs²); the
    * histogram is a ≤11-row frame, the config spine 4 literal rows,
    * so everything after the pair aggregate is constant-sized.
    * Floats: exact_j is the q143 class-C division, r4e'd BEFORE
    * bucketing (class E); the S-curve pow chains are libm under r4e
    * (class D) and feed no decision. */
  private def q209(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE tokenize→shingle→md5 cascade shared by the signature and
    // exact sides (round 16, guide §6 — the q143 discipline)
    val hsDf = TextDedup.withShingleHashes(docs(s, d), "text")
      .select(col("doc_id"), col("hs")).transform(Det.pin)
    val sigs = TextDedup.minhashFromHashes(hsDf, "doc_id")
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
    val sh = hsDf
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .distinct()
      .transform(Det.pin)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("a_id"), col("h")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("h")), Seq("b_id", "h"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    val hist = pairs.select("a_id", "b_id")
      .join(inter, Seq("a_id", "b_id"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sza")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("szb")), "b_id")
      .select(Det.r4e(col("inter") /
        (col("sza") + col("szb") - col("inter"))).as("exact_j"))
      .groupBy(floor(col("exact_j") * 10).cast("int").as("bkt"))
      .agg(count(lit(1)).as("n_pairs"))
    val cfg = Seq((8, 1), (4, 2), (2, 4), (1, 8)).toDF("b", "r")
    hist.crossJoin(broadcast(cfg))
      .withColumn("s_mid", (col("bkt") + lit(0.5)) / 10.0)
      .withColumn("p",
        lit(1.0) - pow(lit(1.0) - pow(col("s_mid"), col("r")), col("b")))
      .select(col("b"), col("r"), col("bkt"), col("n_pairs"),
        Det.r4e(col("s_mid")).as("s_mid"),
        Det.r4e(col("p")).as("p_collide"),
        Det.r4e(col("n_pairs") * col("p")).as("exp_caught"),
        Det.r4e(pow(lit(1.0) - pow(lit(0.5), lit(1.0) / col("b")),
          lit(1.0) / col("r"))).as("s50"))
      .transform(Det.emit(_, "b", "r", "bkt"))
  }

  /** q198: SIMHASH CALIBRATION (round 15 — q143's "measure the
    * approximation" discipline applied to the suite's OTHER sketch:
    * SimHash bits estimate the angle between TF vectors via
    * P(bit flip) = θ/π, so est_cos = cos(π·hd/60); this key reports
    * est vs the EXACT TF-cosine on every banded candidate pair
    * (hamming ≤ 5 — 6 bands of 10 bits, exact by pigeonhole), the
    * table an operator reads before trusting a hamming threshold.
    * Scale: candidates from the band equi-join (∝ bucket occupancy,
    * never docs²); the exact side is the (doc, word) TF table — a
    * vocabulary-keyed SHUFFLE (q109/q111 contract) joined on
    * candidates only; norms one bounded aggregate. The oracle
    * re-derives pairs BRUTE-FORCE (all-pairs hamming), so band
    * completeness at hd ≤ 5 is hash-proven per run (the q148/q103
    * argument), and replays cos/π bit-identically (both engines'
    * π is the same correctly-rounded double). */
  private def q198(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val pairs = TextDedup
      .simhashNearDupPairs(base, "doc_id", "text", maxHamming = 5)
      .transform(Det.pin)
    val tf = base.select(col("doc_id"), explode(expr(TOKS)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .transform(Det.pin)
    val norms = tf.groupBy("doc_id")
      .agg(sqrt(sum(col("c") * col("c"))).as("nrm"))
    val dot = pairs
      .join(tf.select(col("doc_id").as("a_id"), col("w"), col("c").as("ca")),
        "a_id")
      .join(tf.select(col("doc_id").as("b_id"), col("w"), col("c").as("cb")),
        Seq("b_id", "w"))
      .groupBy("a_id", "b_id").agg(sum(col("ca") * col("cb")).as("dot"))
    val estC = cos(lit(math.Pi) * col("hd") / lit(60.0))
    val exC = col("dot") / (col("na") * col("nb"))
    pairs.join(dot, Seq("a_id", "b_id"), "left")
      .na.fill(0L, Seq("dot"))
      .join(norms.select(col("doc_id").as("a_id"), col("nrm").as("na")), "a_id")
      .join(norms.select(col("doc_id").as("b_id"), col("nrm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("hd"),
        Det.r4e(estC).as("est_cos"),
        Det.r4e(exC).as("exact_cos"),
        Det.r4e(abs(estC - exC)).as("abs_err"))
      .transform(Det.emitWide(_, "a_id", "b_id"))
  }

  /** q199: ZIPF FIT of the corpus frequency spectrum (round 15 — the
    * vocabulary-health diagnostic: natural text follows
    * freq ∝ rank^(−s) with s ≈ 1; a corpus whose fitted s drifts —
    * template spam flattens the head, boilerplate dedup failures
    * fatten it — fails this check before it poisons a tokenizer or
    * a mixture weight). ln freq on ln rank over the TOP-1000
    * vocabulary, fitted with q197's one-pass regr_* aggregates, plus
    * the corpus type/token totals. Scale: the (word, count)
    * aggregate is the one corpus-sized shuffle (q109/q111 contract);
    * top-1000 is a TakeOrdered with the (cnt desc, w) tie-break; the
    * rank window and the fit run on ≤1000 rows — bounded by
    * construction at ANY corpus size. ln of exact integers + r4e
    * epsilon (q109 discipline). */
  private def q199(s: SparkSession, d: String): DataFrame = {
    val v = docs(s, d).select(explode(expr(TOKS)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .transform(Det.pin)
    val tot = v.agg(count(lit(1)).as("n_types"), sum("cnt").as("n_tokens"))
    val top = v.orderBy(col("cnt").desc, col("w").asc).limit(1000)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("w").asc)))
    val fit = top.agg(
      Det.r4e(expr("regr_slope(ln(cnt), ln(rnk))")).as("slope"),
      Det.r4e(expr("regr_intercept(ln(cnt), ln(rnk))")).as("icept"),
      Det.r4e(expr("regr_r2(ln(cnt), ln(rnk))")).as("r2"))
    tot.crossJoin(broadcast(fit))
      .select(col("n_types"), col("n_tokens"), col("slope"), col("icept"),
        col("r2"))
  }

  /** q208: HEAPS-LAW vocabulary growth (round 16 — the companion
    * corpus-health curve to q199's Zipf slope: V(N) ≈ k·N^β tells an
    * n-gram-index / dedup planner how fast NEW types keep arriving as
    * the corpus grows — a β that stops falling flags boilerplate or
    * synthetic runaway): distinct 3-word-SHINGLE types (the suite's
    * minhash/dedup unit — word-level V saturates on any bounded
    * vocabulary, exactly as it does on this fixture, so the shingle
    * grain is the one whose growth a pipeline actually plans for) at
    * 20 corpus prefixes (by doc_id ingest order), with the log-log
    * OLS fit (β, ln k, R²) over the checkpoints. Scale: prefixes come
    * from a 1-row min/max agg → 20 id-value thresholds
    * (calendar-sized, the q129 spine discipline — never a data-sized
    * rank window); per-shingle FIRST-SEEN doc is one
    * vocabulary-keyed min aggregate (the vocab-shuffle contract), and
    * each cumulative point is a ×20 map-side broadcast fanout over
    * the doc-grain / vocab-grain frames — the corpus itself is
    * scanned twice, never joined to itself. Floats: ln over exact
    * integers + regr_* under r4e (the q199/q197 discipline). */
  private def q208(s: SparkSession, d: String): DataFrame = {
    val perDoc = docs(s, d)
      .select(col("doc_id"), expr(s"size($TOKS)").cast("long").as("m"))
      .transform(Det.pin)
    val firstSeen = graft.operators.TextDedup
      .withShingles(docs(s, d), "text")
      .select(col("doc_id"), explode(col("shs")).as("g"))
      .groupBy("g").agg(min("doc_id").as("first_doc"))
    val mm = perDoc.agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
    val chk = mm
      .select(explode(sequence(lit(1L), lit(20L))).as("i"),
        col("mn"), col("mx"))
      .select(col("i"), expr("mn + ((mx - mn) * i) div 20").as("thr"))
    val tokCum = perDoc.crossJoin(broadcast(chk))
      .where(col("doc_id") <= col("thr"))
      .groupBy("i", "thr")
      .agg(count(lit(1)).as("docs_n"), sum("m").as("tokens_cum"))
    val vocCum = firstSeen.crossJoin(broadcast(chk))
      .where(col("first_doc") <= col("thr"))
      .groupBy("i").agg(count(lit(1)).as("vocab_cum"))
    val pts = tokCum.join(vocCum, "i").transform(Det.pin)
    val fit = pts
      .where(col("vocab_cum") > 0 && col("tokens_cum") > 0)
      .agg(
        Det.r4e(expr("regr_slope(ln(vocab_cum), ln(tokens_cum))"))
          .as("beta"),
        Det.r4e(expr("regr_intercept(ln(vocab_cum), ln(tokens_cum))"))
          .as("logk"),
        Det.r4e(expr("regr_r2(ln(vocab_cum), ln(tokens_cum))")).as("r2"))
    pts.crossJoin(broadcast(fit))
      .select(col("i"), col("thr"), col("docs_n"), col("tokens_cum"),
        col("vocab_cum"), col("beta"), col("logk"), col("r2"))
      .transform(Det.emit(_, "i"))
  }

  /** q200: PSI DISTRIBUTION DRIFT (round 15 — the population
    * stability index every production scoring/data pipeline monitors:
    * PSI = Σ (p−q)·ln(p/q) over shared histogram bins; < 0.1 stable,
    * > 0.25 drifted): order totals before vs since 1998-01-01, 10
    * equi-width bins on the GLOBAL min/max (one shared grid — binning
    * each window on its own range would hide exactly the shift being
    * measured), add-½ smoothing so empty bins stay finite (the q183
    * convention). Emits the per-bin decomposition (counts, smoothed
    * shares, signed contribution) — the table that says WHERE the
    * distribution moved, not just that it did. Scale: one scan, one
    * bounded (bin)-keyed aggregate, 1-row min/max + totals
    * broadcasts, dense 10-row bin spine; shares and contributions
    * are identical-IEEE-op chains on exact integers (ln under r6e). */
  private def q200(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .select(col("o_totalprice").as("p"),
        (col("o_orderdate") < lit("1998-01-01").cast("timestamp")).as("isref"))
      .transform(Det.pin)
    val mm = o.agg(min("p").as("mn"), max("p").as("mx"))
    val counts = o.crossJoin(broadcast(mm))
      .select(least(floor((col("p") - col("mn")) /
          ((col("mx") - col("mn")) / 10.0)), lit(9.0)).cast("int").as("bin"),
        col("isref"))
      .groupBy("bin")
      .agg(sum(when(col("isref"), lit(1L)).otherwise(lit(0L))).as("ref_cnt"),
        sum(when(!col("isref"), lit(1L)).otherwise(lit(0L))).as("cur_cnt"))
    val tot = counts.agg(sum("ref_cnt").as("nr"), sum("cur_cnt").as("nc"))
    val rs = (col("ref_cnt") + lit(0.5)) / (col("nr") + lit(5.0))
    val cs = (col("cur_cnt") + lit(0.5)) / (col("nc") + lit(5.0))
    s.range(10).select(col("id").cast("int").as("bin"))
      .join(counts, Seq("bin"), "left")
      .na.fill(0L, Seq("ref_cnt", "cur_cnt"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("ref_cnt"), col("cur_cnt"),
        Det.r6e(rs).as("ref_share"), Det.r6e(cs).as("cur_share"),
        Det.r6e((rs - cs) * log(rs / cs)).as("psi_contrib"))
      .transform(Det.emit(_, "bin"))
  }

  /** q201: DEDUP SURVIVORSHIP (round 15 — the MDM "golden record"
    * consolidation step after clustering: q123 finds WHO is a
    * duplicate; this key decides WHAT SURVIVES): per multi-member
    * LSH dup cluster, the keeper (min doc_id — the deterministic
    * earliest-wins rule q108/q185 already use), the keeper's
    * lang/source, and the merged evidence (member count, distinct
    * langs/sources, total chars) — the record a curation pipeline
    * writes back in place of the duplicates. Scale: clustering is
    * q123's lineage-truncated propagation; the metadata join keys on
    * doc id; the rollup is cluster-keyed; the keeper join is
    * aggregate-sized. Oracle = q123's recursive-CTE components +
    * the same relational rollup. */
  private def q201(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val sigs = TextDedup.minhashSignatures(base, "doc_id", "text")
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
    val clusters = TextDedup.dupClusters(pairs)
    val agg = clusters
      .join(base.select(col("doc_id").as("id"), col("lang"), col("source"),
        col("n_chars")), "id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        min("id").as("keep_doc"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        sum("n_chars").as("total_chars"))
      .where(col("n_members") > 1)
    agg.join(base.select(col("doc_id").as("keep_doc"),
        col("lang").as("keep_lang"), col("source").as("keep_source")),
        "keep_doc")
      .select(col("cluster"), col("n_members"), col("keep_doc"),
        col("keep_lang"), col("keep_source"), col("n_langs"),
        col("n_sources"), col("total_chars"))
      .transform(Det.emitWide(_, "cluster"))
  }

  /** q202: DUP-GRAPH PROFILE (round 15 — the health check ON the
    * dedup graph itself: a near-dup graph whose giant component
    * swallows the corpus means the banding threshold collapsed —
    * SemDeDup/MinHash pipelines watch the component-size spectrum
    * exactly like q199 watches the frequency spectrum): component
    * size histogram over the q123 LSH clusters, with per-size node
    * shares against the WHOLE corpus (so the "share un-clustered"
    * is visible too: size-1 rows are the docs no pair touched).
    * Scale: q123's lineage-truncated propagation; everything after
    * is cluster-keyed then size-keyed — two bounded aggregates;
    * corpus total is a 1-row broadcast; shares exact-integer
    * divisions. Oracle = the recursive-CTE components + the same
    * rollup, singletons restored by an anti-join. */
  private def q202(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val sigs = TextDedup.minhashSignatures(base, "doc_id", "text")
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
    val clusters = TextDedup.dupClusters(pairs)
    // docs in no pair are their own singleton component
    val all = base.select(col("doc_id").as("id"))
      .join(clusters, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    val sizes = all.groupBy("cluster").agg(count(lit(1)).as("csize"))
    val tot = base.agg(count(lit(1)).as("n_docs"))
    sizes.groupBy("csize").agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("csize"), col("n_clusters"),
        (col("csize") * col("n_clusters")).as("n_nodes"),
        ((col("csize") * col("n_clusters")).cast("double") / col("n_docs"))
          .as("node_share"))
      .transform(Det.emit(_, "csize"))
  }

  /** q204: EFFECTIVE TOKEN BUDGET by source (round 15 — the question
    * every mixture plan starts from: "how many tokens do I really
    * have?": raw counts double-count near-duplicates, so each doc
    * weighs 1/|its dup cluster| (q182's soft-dedup rule — the
    * cluster's content contributes one document's worth of signal
    * split across its members) and the per-source budget is
    * Σ tokens·weight, beside the raw count and the dedup ratio that
    * says how inflated each source is. Scale: q123's propagation for
    * clusters, a cluster-keyed size aggregate, a doc-keyed weight
    * join (docs in no pair weigh 1), one token-count scan, a
    * source-keyed rollup. The weighted sum is ints × exact rationals
    * under the r4e epsilon; the ratio divides the ROUNDED sum by the
    * exact raw count (identical op both engines). */
  private def q204(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val sigs = TextDedup.minhashSignatures(base, "doc_id", "text")
    val clusters = TextDedup.dupClusters(
      TextDedup.lshCandidatePairs(sigs, "doc_id"))
    val csize = clusters.groupBy("cluster").agg(count(lit(1)).as("csize"))
    val w = clusters.join(csize, "cluster")
      .select(col("id").as("doc_id"), (lit(1.0) / col("csize")).as("w"))
    base.select(col("doc_id"), col("source"),
        size(expr(TOKS)).cast("long").as("nt"))
      .join(w, Seq("doc_id"), "left")
      .na.fill(1.0, Seq("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("raw_tokens"),
        Det.r4e(sum(col("nt") * col("w"))).as("effective_tokens"))
      .withColumn("dedup_ratio",
        Det.r4e(col("effective_tokens") / col("raw_tokens")))
      .transform(Det.emitWide(_, "source"))
  }

  /** q211: LEAKAGE-SAFE train/val/test split (round 17 — the split
    * discipline dedup exists to protect: q152's naive per-doc hash
    * split lets two near-duplicates land in train AND test, leaking
    * test content into training; the fix every curation pipeline
    * applies is to split at the DUP-CLUSTER grain — all members of a
    * cluster inherit the split of the cluster's representative, so no
    * LSH pair can straddle a boundary BY CONSTRUCTION). Each doc's
    * representative is its cluster's min id (pair-free docs represent
    * themselves — and draw the SAME band as q152, so the cluster-aware
    * split only ever MOVES duplicate members); the split is q152's
    * 80/10/10 md5 band arithmetic applied to the representative.
    * Output: per (split, lang) doc counts plus how many of those docs
    * are duplicate-cluster members (the mass the naive split would
    * have scattered). Scale: clustering is q123's lineage-truncated
    * propagation; the representative aggregate is cluster-keyed and
    * pair-bounded; both joins are doc-keyed equi-joins; the split
    * itself is a pure map-side md5 band on the representative; the
    * rollup is #splits×#langs. OperatorSpec pins the invariant the
    * key exists for: zero LSH pairs straddle splits (while the naive
    * q152 assignment does straddle on the same fixture). */
  private def q211(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val sigs = TextDedup.minhashSignatures(base, "doc_id", "text")
    val clusters = TextDedup.dupClusters(
      TextDedup.lshCandidatePairs(sigs, "doc_id"))
    val rep = clusters.groupBy("cluster").agg(min("id").as("rep"))
    val assigned = base.select(col("doc_id"), col("lang"))
      .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(rep, Seq("cluster"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("rep"), col("doc_id")).as("rep"),
        col("cluster").isNotNull.as("is_dup"))
    TextDedup.hashSplit(assigned, "rep",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"))
      .transform(Det.emit(_, "split", "lang"))
  }

  /** q214: pairwise CORRELATION MATRIX over lineitem's numeric columns
    * (round 17 — the profiling pass q138 stops short of: q138 sees
    * each column alone, feature selection and drift review need the
    * RELATIONSHIPS): Pearson r for all 6 column pairs of (quantity,
    * extendedprice, discount, tax). Shape is the point: ONE corpus
    * scan folds every moment the matrix needs — n, Σx and Σx² per
    * column, Σxy per pair — into a single map-side-combinable 1-row
    * aggregate, and the 6 output rows assemble from that frame with
    * stack(); a naive unpivot-and-self-join would shuffle the corpus
    * against itself per pair. Floats: r is computed from the explicit
    * moment formula (n·Σxy − ΣxΣy)/√((n·Σx²−(Σx)²)(n·Σy²−(Σy)²)) —
    * the IDENTICAL op chain in the oracle (never the engine's corr(),
    * whose accumulation scheme is engine-private); sums carry
    * summation-order noise under r4e, √ and ÷ are correctly-rounded
    * IEEE. */
  private def q214(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val moments = lineitem(s, d).agg(
      count(lit(1)).cast("double").as("n"),
      (cols.flatMap(c => Seq(
        sum(col(c)).as(s"s_$c"),
        sum(col(c) * col(c)).as(s"ss_$c"))) ++
       pairs.map { case (a, b) =>
         sum(col(a) * col(b)).as(s"sp_${a}_$b") }): _*)
    val rs = pairs.zipWithIndex.foldLeft(moments) {
      case (df, ((a, b), i)) => df.withColumn(s"r_$i", Det.r4e(
        (col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
          sqrt((col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
               (col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")))))
    }
    val stackArgs = pairs.zipWithIndex
      .map { case ((a, b), i) => s"'$a', '$b', r_$i" }.mkString(", ")
    rs.select(col("n").cast("long").as("n_rows"), expr(
        s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, r)"))
      .select(col("col_a"), col("col_b"), col("n_rows"), col("r"))
      .transform(Det.emit(_, "col_a", "col_b"))
  }

  /** q217: JOIN-SIZE profile (round 17 — the diagnostic a planner
    * runs BEFORE a self-join, and the quantitative form of q126's
    * single-table skew screen: an equi self-join on key k emits
    * Σ n(k)² rows, and one hot key can own the output): for the
    * l_partkey self-join (the q147-style "co-ordered parts" prelude),
    * the total key count, distinct keys, total output pairs Σ n², and
    * the top-10 keys by contribution with their exact pair share —
    * the number that decides between a plain shuffle join and
    * SkewJoin's salting. Scale: ONE key-grain hash aggregate
    * (map-side combinable), a 1-row totals broadcast, and a top-10 —
    * the join itself is never run. Overflow bound (the q221 caveat,
    * stated here because `pairs`/`tot_pairs` are EMITTED columns and
    * the oracle emission contract is the portable-type allow-set in
    * scripts/lint_oracle_types.py, which excludes DECIMAL — unlike
    * q218/q221 where the wide arithmetic is decision-internal and so
    * runs in decimal(38,0)): the Long arithmetic is exact while
    * max n(k) ≤ 3.03e9 (n² < 2⁶³) and Σ n² ≤ 9.22e18 — i.e. up to a
    * ~3-billion-row hot key. Past that bound, route the squares
    * through decimal(38,0) and emit the profile as a report artifact
    * (corpus_audit-style) instead of an oracle-checked frame. The
    * pair_share doubles are already bound-free (squares taken in
    * binary64). */
  private def q217(s: SparkSession, d: String): DataFrame = {
    val counts = lineitem(s, d).groupBy("l_partkey")
      .agg(count(lit(1)).as("cnt"))
      .transform(Det.pin)
    val tot = counts.agg(
      sum("cnt").as("n_rows"),
      count(lit(1)).as("n_keys"),
      sum(col("cnt") * col("cnt")).as("tot_pairs"))
    counts.crossJoin(broadcast(tot))
      .orderBy(col("cnt").desc, col("l_partkey").asc)
      .limit(10)
      .select(col("l_partkey"), col("cnt"),
        (col("cnt") * col("cnt")).as("pairs"),
        Det.r6e(col("cnt").cast("double") * col("cnt").cast("double")
          / col("tot_pairs").cast("double")).as("pair_share"),
        col("n_rows"), col("n_keys"), col("tot_pairs"))
  }

  /** q218: PARETO frontier over (lang, source) corpus cells (round 17
    * — the multi-objective form of q142's scalar reputation ranking:
    * a mixture planner keeps the cells no other cell beats on EVERY
    * axis): maximize (avg tokens per doc, unique-doc share), where a
    * unique doc is one touched by NO LSH candidate pair. The whole
    * point of the construction: dominance is decided ENTIRELY in
    * exact integer cross-multiplication — a/b ≥ c/d becomes a·d ≥ c·b
    * on integer sums, carried in decimal(38,0) so the products never
    * wrap (q221's discipline) — the frontier membership decision
    * carries NO float anywhere (emitted ratios are r4e'd display
    * only). The
    * strict-inequality arm also makes self-comparison a non-dominator
    * for free. Scale: pair membership needs no propagation loop (just
    * the pair endpoints, distinct); one doc-grain aggregate to the
    * #langs×#sources cell frame; the dominance anti-join runs on that
    * aggregate-sized frame (broadcast nested-loop by construction —
    * the house-allowed bounded shape). */
  private def q218(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val sigs = TextDedup.minhashSignatures(base, "doc_id", "text")
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
    val dupIds = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id")))
      .distinct()
      .withColumn("isdup", lit(1L))
    val cells = base
      .join(dupIds, Seq("doc_id"), "left")
      .select(col("lang"), col("source"),
        size(expr(TOKS)).cast("long").as("nt"),
        coalesce(col("isdup"), lit(0L)).as("isdup"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("tokens"),
        sum(lit(1L) - col("isdup")).as("uniq"))
      .transform(Det.pin)
    // Cross-multiplies in decimal(38,0) (q221's overflow discipline):
    // cell token sums × doc counts reach ~1e22 at the 100 TB scale —
    // Long would wrap silently and flip dominance decisions.
    val dec = DecimalType(38, 0)
    def dm(c: Column): Column = c.cast(dec)
    val other = cells.select(col("tokens").as("ot"),
      col("uniq").as("ou"), col("n_docs").as("od"))
    cells.join(broadcast(other),
        dm(col("ot")) * dm(col("n_docs")) >=
          dm(col("tokens")) * dm(col("od")) &&
        dm(col("ou")) * dm(col("n_docs")) >=
          dm(col("uniq")) * dm(col("od")) &&
        (dm(col("ot")) * dm(col("n_docs")) >
           dm(col("tokens")) * dm(col("od")) ||
         dm(col("ou")) * dm(col("n_docs")) >
           dm(col("uniq")) * dm(col("od"))),
        "left_anti")
      .select(col("lang"), col("source"), col("n_docs"), col("tokens"),
        col("uniq"),
        Det.r4e(col("tokens").cast("double") / col("n_docs"))
          .as("avg_tokens"),
        Det.r4e(col("uniq").cast("double") / col("n_docs"))
          .as("uniq_share"))
      .transform(Det.emit(_, "lang", "source"))
  }

  /** q220: WEIGHTED median doc length per language (round 17 — the
    * statistic q160's order-statistics machinery doesn't cover: a
    * doc-grain median says where the median DOCUMENT sits, but
    * training cost lives at the token grain, so the question is
    * "what document length does the median TOKEN sit in?" — a corpus
    * of many short docs and a few huge ones has wildly different
    * answers, and the gap IS the length-skew diagnostic): per
    * language, the unweighted exact median of n_chars beside the
    * token-weighted one, both as LOWER medians on the integer rule
    * 2·cum ≥ total — every compare is exact BIGINT, no interpolation,
    * no float anywhere (weights are token counts — integers by
    * construction, which is what makes weighted quantiles
    * oracle-exact where 1/csize-style rational weights would not be).
    * Scale: q160's discipline — heavy state is the (lang, n_chars)
    * count/weight frame (map-side combinable); the cumulative window
    * runs over that BOUNDED distinct-value frame, never over rows;
    * the #langs totals broadcast back. */
  private def q220(s: SparkSession, d: String): DataFrame = {
    // pinned: the (lang, value) grain AND the totals fold from this
    // one tokenizing projection — unpinned, the corpus scans twice
    val base = docs(s, d).select(col("lang"), col("n_chars"),
      size(expr(TOKS)).cast("long").as("nt"))
      .transform(Det.pin)
    val g = base.groupBy("lang", "n_chars")
      .agg(count(lit(1)).as("c"), sum("nt").as("w"))
    val wCum = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g.withColumn("cn", sum("c").over(wCum))
      .withColumn("cw", sum("w").over(wCum))
    val tot = base.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("tot_tokens"))
    cum.join(broadcast(tot), "lang")
      .groupBy("lang")
      .agg(max("n_docs").as("n_docs"),
        max("tot_tokens").as("tot_tokens"),
        min(when(lit(2L) * col("cn") >= col("n_docs"), col("n_chars")))
          .as("med_chars"),
        min(when(lit(2L) * col("cw") >= col("tot_tokens"), col("n_chars")))
          .as("wmed_chars"))
      .transform(Det.emit(_, "lang"))
  }

  /** q221: two-sample KOLMOGOROV–SMIRNOV drift statistic (round 17 —
    * the distribution-free companion to q200's binned PSI: PSI needs
    * a bin grid and smoothing constants; KS is the exact sup-gap of
    * the two empirical CDFs, bin-free): D = max over distinct values
    * of |F_ref − F_cur| for order totals before vs since 1998-01-01,
    * plus WHERE the gap peaks. The decision arithmetic is the q218
    * discipline: |cr/nr − cc/nc| maximized as |cr·nc − cc·nr| on
    * EXACT integers (cumulatives cast to decimal(38,0) before the
    * cross-multiply, so the argmax never overflows at any plausible
    * scale — 1e15 rows per side is still 1e30 < 1e38); only the
    * displayed D divides, under r6e. Scale: one (value)-grain
    * map-side-combinable aggregate, then TWO DistributedRank global
    * prefix sums over the distinct-value frame (a bare unpartitioned
    * window here would serialize the whole CDF onto one task — the
    * exact anti-pattern the operator exists for), a 1-row totals
    * broadcast, a 1-row max broadcast back for the argmin-value pick. */
  private def q221(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val o = orders(s, d).select(col("o_totalprice").as("p"),
      (col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .as("isref"))
      .transform(Det.pin)
    val g = o.groupBy("p").agg(
      sum(when(col("isref"), 1L).otherwise(0L)).as("rc"),
      sum(when(!col("isref"), 1L).otherwise(0L)).as("cc"))
    val cum = graft.operators.DistributedRank.prefixSum(
        graft.operators.DistributedRank.prefixSum(g, "p", "rc")
          .withColumnRenamed("cum_sum", "cr"),
        "p", "cc")
      .withColumnRenamed("cum_sum", "ccu")
    val tot = o.agg(
      sum(when(col("isref"), 1L).otherwise(0L)).as("nr"),
      sum(when(!col("isref"), 1L).otherwise(0L)).as("nc"))
    val dec = DecimalType(38, 0)
    val gap = cum.crossJoin(broadcast(tot))
      .select(col("p"), col("nr"), col("nc"),
        abs(col("cr").cast(dec) * col("nc").cast(dec)
          - col("ccu").cast(dec) * col("nr").cast(dec)).as("gnum"))
      .transform(Det.pin)
    val mx = gap.agg(max("gnum").as("mxnum"))
    gap.join(broadcast(mx), col("gnum") === col("mxnum"))
      .agg(max("nr").as("n_ref"), max("nc").as("n_cur"),
        max("gnum").cast("long").as("ks_num"),
        min("p").as("ks_at"))
      .select(col("n_ref"), col("n_cur"), col("ks_num"),
        Det.r6e(col("ks_num").cast("double") /
          (col("n_ref").cast("double") * col("n_cur").cast("double")))
          .as("ks_d"),
        col("ks_at"))
  }

  /** q222: BENFORD first-digit audit of order totals (round 17 — the
    * classic fabricated-data / unit-mixup screen a data-quality pass
    * runs over any money column: organic multiplicative amounts
    * follow P(d) = log10(1 + 1/d); a flat or spiked digit profile
    * flags synthetic or truncated data): per leading digit 1–9 the
    * count, observed share, Benford expectation, and deviation. The
    * digit is extracted with NO float anywhere: floor to BIGINT, then
    * the first character of the LONG's decimal string (integer
    * formatting is identical in every engine — unlike float
    * formatting or a log10-based exponent, which can flip at powers
    * of ten). Scale: one map-side digit projection + a 9-key hash
    * aggregate; the digit spine is a 9-row literal. */
  private def q222(s: SparkSession, d: String): DataFrame = {
    val digits = orders(s, d)
      .select(floor(col("o_totalprice")).cast("long").as("i"))
      .where(col("i") >= 1L)
      .select(substring(col("i").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .transform(Det.pin)  // totals + spine join share the one scan
    val tot = digits.agg(sum("n").as("total"))
    val benford = log(10.0, lit(1.0) + lit(1.0) / col("digit"))
    spark_range9(s)
      .join(digits, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        Det.r6e(col("n").cast("double") / col("total")).as("share"),
        Det.r6e(benford).as("benford_p"),
        Det.r6e(col("n").cast("double") / col("total") - benford)
          .as("deviation"))
      .transform(Det.emit(_, "digit"))
  }

  private def spark_range9(s: SparkSession): DataFrame =
    s.range(1, 10).select(col("id").cast("int").as("digit"))

  /** q223: RFM SEGMENTATION (round 17 — the classic
    * customer/behavior segmentation rollup: quintile-code every user
    * on Recency / Frequency / Monetary and profile the 5×5×5 cells):
    * codes come from the q133 discipline — exact global row numbers
    * through DistributedRank.prefixSumBy (the user frame is
    * data-sized, so a bare ORDER BY window is the one-task
    * anti-pattern), then the pure-integer tile formula
    * (rn−1)·5 div n + 1 replayed verbatim in the oracle (NOT the
    * engine's ntile(), whose remainder placement is a different
    * split). Recency ranks on the NEGATED staleness so higher code =
    * better on every axis; monetary sums exact integer CENTS
    * (round(value·100) per event — identical positive-half rounding
    * in both engines — summed as longs). Scale: one event scan to
    * the user grain, three (metric, user)-keyed prefix-sum passes,
    * bounded 125-cell rollup. */
  private def q223(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"),
      unix_timestamp(col("ts")).as("tsec"),
      col("event_type"), col("value"))
    val users = ev.groupBy("user_id").agg(
      max("tsec").as("last_s"),
      count(lit(1)).as("freq"),
      sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L)).as("cents"))
    val mx = users.agg(max("last_s").as("mx_s"))
    val base = users.crossJoin(broadcast(mx))
      .select(col("user_id"), col("freq"), col("cents"),
        (col("last_s") - col("mx_s")).as("neg_rec"))
      .transform(Det.pin)
    val n1 = base.agg(count(lit(1)).as("__n"))
    // pin each coded frame: the next pass's quantile-bounds action
    // would otherwise re-execute the whole preceding chain (3× the
    // pipeline by the third code — measured 4.7 s → 1.6 s at sf0.1)
    def codify(df: DataFrame, metric: String, out: String): DataFrame =
      Det.pin(graft.operators.DistributedRank.prefixSumBy(
          df.withColumn("__one", lit(1L)), Seq(metric, "user_id"), "__one")
        .crossJoin(broadcast(n1))
        .withColumn(out,
          expr("cast((cum_sum - 1) * 5 div __n as int) + 1"))
        .drop("cum_sum", "__one", "__n"))
    val coded = codify(codify(codify(base, "neg_rec", "r_code"),
      "freq", "f_code"), "cents", "m_code")
    coded.groupBy("r_code", "f_code", "m_code")
      .agg(count(lit(1)).as("n_users"),
        Det.r4e(avg("cents") / 100.0).as("avg_purchase"),
        max("freq").as("max_freq"))
      .transform(Det.emit(_, "r_code", "f_code", "m_code"))
  }

  /** q227: token-budget WATER-FILLING across sources (round 18 — the
    * ALLOCATOR q204's effective-budget diagnostic feeds: given a
    * global training-token budget B, how many tokens may each source
    * contribute so no source exceeds its supply and the remainder
    * spreads evenly — maximize the minimum allocation, the classic
    * water-filling / max-min fairness rule a mixture planner runs
    * before q159/q176 sampling. EXACT integer construction: sources
    * sort ascending by (supply, source); source j is fully funded iff
    * s_j·(n−j+1) ≤ B − p_{j−1} (the per-head fair share covers it —
    * cross-multiplied, decimal(38,0) so the product never wraps;
    * fundedness is PREFIX-CLOSED under this order: if C_j fails,
    * s_j·(c_j−1) > B−p_j and s_{j+1} ≥ s_j force C_{j+1} to fail);
    * the unfunded n−m sources get ⌊(B−p_m)/(n−m)⌋ each, the first
    * (B−p_m) mod (n−m) of them (same sort order) one extra token —
    * so Σ alloc = B exactly when anything is unfunded, and every
    * alloc ≤ supply (λ < s_j on the unfunded side). B = ⌊total/2⌋
    * here — the declared fixture knob. Scale: one corpus scan to the
    * source-grain supply frame; every window runs over that BOUNDED
    * frame (#sources rows); two 1-row broadcasts. */
  private def q227(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(38, 0)
    def dm(c: org.apache.spark.sql.Column) = c.cast(dec)
    val sup = docs(s, d)
      .select(col("source"), size(expr(TOKS)).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("supply"))
      .transform(Det.pin)
    val tot = sup.agg(sum("supply").as("t"), count(lit(1)).as("n"))
      .select(expr("t div 2").as("budget"), col("n"))
    val w = Window.orderBy(col("supply").asc, col("source").asc)
    val ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = sup.crossJoin(broadcast(tot))
      .withColumn("j", row_number().over(w).cast("long"))
      .withColumn("p", sum("supply").over(ws))
      .withColumn("funded",
        dm(col("supply")) * dm(col("n") - col("j") + 1) <=
          dm(col("budget")) - dm(col("p") - col("supply")))
      .transform(Det.pin)
    val cut = ranked.agg(
      sum(when(col("funded"), 1L).otherwise(0L)).as("m"),
      sum(when(col("funded"), col("supply")).otherwise(0L)).as("pm"))
    ranked.crossJoin(broadcast(cut))
      .withColumn("alloc", when(col("funded"), col("supply"))
        .otherwise(expr("(budget - pm) div (n - m)") +
          when(col("j") - col("m") <= expr("(budget - pm) % (n - m)"),
            1L).otherwise(0L)))
      .select(col("source"), col("supply"), col("alloc"), col("funded"),
        Det.r4e(col("alloc").cast("double") / col("budget")).as("share"),
        col("budget"))
      .transform(Det.emit(_, "source"))
  }

  /** q228: exact MANN–WHITNEY U rank-sum drift test (round 18 — the
    * third two-sample drift statistic beside q200's binned PSI and
    * q221's sup-gap KS: PSI needs a grid, KS reacts to ANY shape
    * change, Mann–Whitney asks the directional question a pricing or
    * score regression cares about — "did the CURRENT sample shift
    * stochastically above the reference?"): for order totals before
    * vs since 1998-01-01, the exact tie-adjusted U via midranks. The
    * whole decision lives on integers: for a tie group of g rows
    * ending at cumulative position c, 2·midrank = 2·(c − g) + g + 1
    * — an integer even though the midrank itself is k+½ — so
    * 2·R_ref = Σ rc·(2·cum − tc + 1) and 2·U_ref = 2·R_ref −
    * n_ref·(n_ref+1) are EXACT in decimal(38,0) (the q218/q221
    * cross-multiply discipline; 1e15 rows per side stays < 1e38).
    * Emitted beside the downcast u2: the common-language effect size
    * U/(n_ref·n_cur) — which is exactly the ROC-AUC of "reference"
    * against the value column, ties counted half — and the
    * tie-corrected normal z, both display-only floats under r6e
    * built from the same exact integers in the same IEEE op order on
    * both engines. Scale: one (value)-grain map-side aggregate, ONE
    * DistributedRank global prefix sum over the distinct-value frame
    * (a bare unpartitioned window would serialize the CDF onto one
    * task), then a 1-row aggregate — no second scan, no join. */
  private def q228(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dm(c: Column) = c.cast(dec)
    val o = orders(s, d).select(col("o_totalprice").as("p"),
      (col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .as("isref"))
    val g = o.groupBy("p").agg(
        sum(when(col("isref"), 1L).otherwise(0L)).as("rc"),
        sum(when(!col("isref"), 1L).otherwise(0L)).as("cc"))
      .withColumn("tc", col("rc") + col("cc"))
    val cum = graft.operators.DistributedRank.prefixSum(g, "p", "tc")
    val agg = cum.agg(
      sum("rc").as("nr"), sum("cc").as("nc"),
      sum(dm(col("rc")) * (lit(2L) * dm(col("cum_sum")) - dm(col("tc"))
        + lit(1L).cast(dec))).as("r2"),
      // tie correction Σ(g³−g) — zero unless values repeat
      sum(dm(col("tc")) * dm(col("tc")) * dm(col("tc")) - dm(col("tc")))
        .as("tie3"))
    val u2 = col("r2") - dm(col("nr")) * (dm(col("nr")) + lit(1L).cast(dec))
    // display floats: every operand below is an exact integer, and the
    // op order is mirrored token-for-token in the oracle, so the IEEE
    // results agree bit-for-bit before the r6e guard even applies
    val nrd = col("nr").cast("double"); val ncd = col("nc").cast("double")
    val nd = (col("nr") + col("nc")).cast("double")
    val sigma2x4 = nrd * ncd *
      ((nd + lit(1.0)) - col("tie3").cast("double") / (nd * (nd - lit(1.0)))) / lit(3.0)
    agg.select(col("nr").as("n_ref"), col("nc").as("n_cur"),
      u2.cast("long").as("u2_ref"),
      Det.r6e(u2.cast("double") / (lit(2.0) * (nrd * ncd))).as("auc_ref"),
      Det.r6e((u2.cast("double") - nrd * ncd) / sqrt(sigma2x4)).as("z"))
  }

  /** q229: GINI / LORENZ concentration audit of corpus mass (round
    * 18 — the inequality statistic a mixture planner reads before
    * q227 allocates and q176 samples: "how concentrated is each
    * source's character mass in its biggest documents?" — a source
    * whose top decile holds 90% of the mass packs and dedups very
    * differently from a uniform one, and the Gini is the standard
    * single-number summary): per source, the exact Gini numerator
    * G_num = 2·Σ(rank·x) − (n+1)·Σx over docs ranked ascending by
    * (n_chars, doc_id) — rank·x products in decimal(38,0), and the
    * statistic is TIE-SAFE (permuting equal x across adjacent ranks
    * leaves Σ rank·x unchanged), so the deterministic doc_id
    * tie-break is for the rank frame only, never the answer — plus
    * the top-decile mass share on the integer rule
    * rn > n − (n div 10). Scale: ranks come from DistributedRank
    * .ranked keyed on (source, value) — the q133/q223 discipline; a
    * per-source ORDER BY window would pin each source, a data-sized
    * partition, onto one task — and the per-source totals frame
    * (#sources rows) broadcasts back. */
  private def q229(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = docs(s, d)
      .select(col("source"), col("n_chars").as("x"), col("doc_id"))
    val r = graft.operators.DistributedRank.ranked(
        base, Seq("source"), Seq("x"), Seq("doc_id"), ntileK = 2)
      .select(col("source"), col("x"), col("rn"))
      .transform(Det.pin)
    val tot = r.groupBy("source")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val num = lit(2L).cast(dec) * col("srx") -
      (col("n_docs") + lit(1L)).cast(dec) * col("tot_chars").cast(dec)
    r.join(broadcast(tot), "source")
      .groupBy("source")
      .agg(max("n").as("n_docs"), max("sx").as("tot_chars"),
        sum(col("rn").cast(dec) * col("x").cast(dec)).as("srx"),
        sum(when(col("rn") > col("n") - expr("n div 10"), col("x"))
          .otherwise(0L)).as("top_chars"))
      .select(col("source"), col("n_docs"), col("tot_chars"),
        // emission downcast (the q221 ks_num convention — the lint
        // bans DECIMAL columns): Long-exact while n·Σx per source
        // ≤ 9.2e18; the DECISION arithmetic above stayed decimal
        num.cast("long").as("gini_num"),
        Det.r6e(num.cast("double") /
          (col("n_docs").cast("double") * col("tot_chars").cast("double")))
          .as("gini"),
        Det.r6e(col("top_chars").cast("double") /
          col("tot_chars").cast("double")).as("top_decile_share"))
      .transform(Det.emit(_, "source"))
  }

  /** q230: score CALIBRATION / reliability deciles (round 18 — the
    * model-eval companion to q228's AUC column: AUC says whether the
    * score RANKS positives above negatives; calibration says whether
    * the score's LEVEL means what it claims — the reliability diagram
    * every eval harness draws): events decile-binned by exact integer
    * cents (q223's discipline: global row numbers through
    * DistributedRank.prefixSumBy — the score frame is data-sized, so
    * a bare ORDER BY window is the one-task anti-pattern — then the
    * pure-integer tile formula (rn−1)·10 div n + 1, never ntile()),
    * and per decile the positive ("purchase") rate beside the mean
    * score. The fixture's flat profile is the point — value is
    * independent of type there, so every decile's rate sits near the
    * base rate; a real scorer shows the monotone staircase. Exact
    * bin edges emit as integer cents; the two rates are display
    * floats from exact integers. Scale: one scan to the
    * (cents, id) grain, one prefix-sum pass, a 10-row rollup. */
  private def q230(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d).select(
        round(col("value") * 100).cast("long").as("cents"),
        (col("event_type") === "purchase").as("pos"),
        col("event_id"))
      .transform(Det.pin)
    val n1 = base.agg(count(lit(1)).as("__n"))
    val coded = graft.operators.DistributedRank.prefixSumBy(
        base.withColumn("__one", lit(1L)),
        Seq("cents", "event_id"), "__one")
      .crossJoin(broadcast(n1))
      .withColumn("decile",
        expr("cast((cum_sum - 1) * 10 div __n as int) + 1"))
    coded.groupBy("decile")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        min("cents").as("lo_cents"), max("cents").as("hi_cents"),
        sum("cents").as("sum_cents"))
      .select(col("decile"), col("n_rows"), col("n_pos"),
        col("lo_cents"), col("hi_cents"),
        Det.r6e(col("n_pos").cast("double") / col("n_rows").cast("double"))
          .as("pos_rate"),
        Det.r4e(col("sum_cents").cast("double") /
          (lit(100.0) * col("n_rows").cast("double"))).as("mean_value"))
      .transform(Det.emit(_, "decile"))
  }

  /** q231: CHI-SQUARE independence audit of event_type × ISO weekday
    * (round 18 — the categorical twin of q214's numeric correlation
    * matrix: "does behavior depend on the day?" is the first question
    * a seasonality or bot screen asks of two discrete columns): the
    * full contingency table over a DENSE spine (observed types × the
    * 7-day literal — an absent cell still owes its expected-count
    * contribution, the q226 dense-spine rule), expected counts as the
    * exact integer product row_total·col_total in decimal(38,0)
    * (downcast at emission — Long wraps at N > 3e9 events, the
    * q217/q218 lesson), and the per-cell contribution
    * (obs·N − rt·ct)²/(N·rt·ct) — the cross-multiplied form whose
    * numerator gap is an EXACT integer before the one display
    * division. Weekday is engine-neutral ISO (1 = Monday): Spark
    * derives it from dayofweek's Sunday-start integer, DuckDB
    * extracts ISODOW directly — both exact int arithmetic on the
    * same timestamp. Scale: one scan to the (type, dow) cell grain
    * (map-side combinable); margins and spine are bounded frames
    * (#types × 7) that broadcast. */
  private def q231(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = events(s, d).select(col("event_type"),
        (((dayofweek(col("ts")) + lit(5)) % lit(7)) + lit(1))
          .cast("int").as("isodow"))
      .groupBy("event_type", "isodow").agg(count(lit(1)).as("obs"))
      .transform(Det.pin)
    val spine = cells.select("event_type").distinct()
      .crossJoin(s.range(1, 8).select(col("id").cast("int").as("isodow")))
    val dense = spine.join(cells, Seq("event_type", "isodow"), "left")
      .na.fill(0L, Seq("obs"))
    val rt = dense.groupBy("event_type").agg(sum("obs").as("rt"))
    val ct = dense.groupBy("isodow").agg(sum("obs").as("ct"))
    val nn = dense.agg(sum("obs").as("nn"))
    val gap = col("obs").cast(dec) * col("nn").cast(dec) -
      col("rt").cast(dec) * col("ct").cast(dec)
    val rtd = col("rt").cast("double"); val ctd = col("ct").cast("double")
    val nnd = col("nn").cast("double")
    dense.join(broadcast(rt), "event_type")
      .join(broadcast(ct), "isodow")
      .crossJoin(broadcast(nn))
      .select(col("event_type"), col("isodow"), col("obs"),
        (col("rt").cast(dec) * col("ct").cast(dec)).cast("long")
          .as("exp_num"),
        Det.r6e((rtd * ctd) / nnd).as("expected"),
        Det.r6e((gap.cast("double") * gap.cast("double")) /
          (nnd * (rtd * ctd))).as("contrib"))
      .transform(Det.emit(_, "event_type", "isodow"))
  }

  /** Poisson(1) CDF thresholds scaled to 2⁶⁰ (15 md5 hex chars = 60
    * uniform bits): w = k iff u < T_k, else 8. Fixed integer literals
    * pasted VERBATIM into the q232 oracle — the weight draw is an
    * all-integer decision, never a float compare. */
  private[graft] val POIS1_T = Seq(
    424136118829305344L, 848272237658610688L, 1060340297073263360L,
    1131029650211480960L, 1148701988496035328L, 1152236456152946176L,
    1152825534095764608L, 1152909688087595776L)

  /** q232: POISSON-BOOTSTRAP confidence interval for the mean (round
    * 19 — the at-scale bootstrap: classical resampling draws n rows
    * WITH replacement per replicate, which requires a global sample —
    * impossible to distribute; the Poisson bootstrap replaces each
    * row's multiplicity with an independent Poisson(1) weight, so all
    * B replicates fall out of ONE scan with map-side-combinable
    * weighted sums — the standard trick behind every production
    * bootstrap/BLB pipeline): B = 40 replicates of the mean of order
    * totals, CI = the 2nd-smallest / 2nd-largest replicate means
    * (the declared ~95% convention at B = 40). Determinism: the
    * weight is drawn from md5("bs:rep:key") — the house replayable
    * substitute for rand() — by comparing the 60-bit hash integer
    * against the fixed POIS1_T thresholds: an ALL-INTEGER draw, and
    * replicate sums are exact integer cents (Long — bound documented
    * at the aggregate), so the 40 replicate means are exact rationals
    * and their sort order is engine-identical before any display
    * rounding. Scale: the B× amplification touches only the
    * (key, cents) projection, never storage; one groupBy(rep) → 40
    * rows; the order-statistic window runs over that bounded frame. */
  private def q232(s: SparkSession, d: String): DataFrame = {
    // (decimal deliberately absent here — see the aggregate comment)
    // key-hashed repartition BEFORE the B× fan-out: the narrow orders
    // projection reads as ONE file split at bench scale, and without
    // the shuffle the whole 6M-hash map side runs on a single task
    // (measured 7.8 s → 2.1 s); the shuffle moves 16-byte rows only
    val base = orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .repartition(col("o_orderkey"))
      .transform(Det.pin)
    val reps = s.range(0, 40).select(col("id").cast("int").as("rep"))
    // one md5 per (rep-pair, key): the 128-bit digest yields TWO
    // independent 60-bit draws (hex windows [1,15] and [17,31]) —
    // halving the hash work, the dominant cost of the B× pass
    val u = conv(md5(concat(lit("bs:"),
        expr("cast(rep div 2 as string)"), lit(":"),
        col("o_orderkey").cast("string")))
      .substr((col("rep") % 2) * lit(16) + lit(1), lit(15)),
      16, 10).cast("long")
    val w = POIS1_T.zipWithIndex.foldRight(lit(8L)) {
      case ((t, k), rest) => when(col("u") < t, k.toLong).otherwise(rest)
    }
    // Long sums, not decimal: w·cents ≤ 8·cents, so the partials are
    // Long-exact while 8 × total cents ≤ 9.2e18 (~$10¹⁴ per
    // replicate) — and Spark's decimal hash-aggregate measured 6.5×
    // this key's whole runtime (12.5 s vs 1.9 s for the same 6M-row
    // fold). Past that volume, lift ONLY this aggregate to
    // decimal(38,0) — the one-line trade documented here.
    val g = base.crossJoin(broadcast(reps))
      .withColumn("u", u).withColumn("w", w)
      .groupBy("rep")
      .agg(sum(col("w") * col("cents")).as("swc"),
        sum("w").as("sw"))
    val m = g.select(col("rep"),
      (col("swc").cast("double") / col("sw").cast("double")).as("m"))
    // bounded 40-row frame — the unpartitioned window is O(B)
    val rk = m.withColumn("rn",
      row_number().over(Window.orderBy(col("m"), col("rep"))))
    val tot = base.agg(count(lit(1)).as("n_orders"),
      sum("cents").as("sc"))
    rk.agg(min(when(col("rn") === 2, col("m"))).as("lo"),
        min(when(col("rn") === 39, col("m"))).as("hi"))
      .crossJoin(broadcast(tot))
      .select(col("n_orders"), lit(40).as("b_reps"),
        Det.r4e(col("sc").cast("double") / col("n_orders").cast("double")
          / lit(100.0)).as("mean_value"),
        Det.r4e(col("lo") / lit(100.0)).as("ci_lo"),
        Det.r4e(col("hi") / lit(100.0)).as("ci_hi"))
  }

  /** q233: token BURSTINESS / dispersion screen (round 19 — the
    * boilerplate detector the quality family lacked: q120's heavy
    * hitters rank tokens by TOTAL count, but a navigation-chrome
    * token appearing 50× in 2% of docs and a function word appearing
    * once everywhere can have the SAME total — the variance-to-mean
    * ratio over per-doc counts (zeros included) separates them:
    * Poisson-like scatter ⇒ D ≈ 1, bursty boilerplate ⇒ D ≫ 1, the
    * classic Church–Gale diagnostic): for the top-20 tokens by total
    * count, D = (N·Σc² − tot²)/(N·tot) with the numerator an EXACT
    * integer in decimal(38,0) (Σc² summed in decimal — the q217
    * overflow lesson; bound ~1e38, far past any corpus) and zeros
    * handled implicitly (absent docs add nothing to Σc² and the N
    * factor carries them). Scale: one (doc, token) map-side count,
    * one token-keyed rollup (vocabulary-sized, same contract as
    * q109/q111), a global top-20 TakeOrdered, a 1-row N broadcast. */
  private def q233(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val counts = docs(s, d)
      .select(col("doc_id"), explode(expr(TOKS)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val tok = counts.groupBy("w").agg(count(lit(1)).as("n_docs"),
      sum("c").as("tot"),
      sum((col("c") * col("c")).cast(dec)).as("sc2"))
    val nn = docs(s, d).agg(count(lit(1)).as("nn"))
    val num = col("nn").cast(dec) * col("sc2") -
      col("tot").cast(dec) * col("tot").cast(dec)
    tok.crossJoin(broadcast(nn))
      .orderBy(col("tot").desc, col("w"))
      .limit(20)
      .select(col("w"), col("n_docs"), col("tot"),
        num.cast("long").as("burst_num"),
        Det.r6e(num.cast("double") /
          (col("nn").cast("double") * col("tot").cast("double")))
          .as("dispersion"))
      .transform(Det.emit(_, col("tot").desc, col("w")))
  }

  /** q224: BANDED (4×2) MinHash LSH candidates (round 17 — closing
    * the loop q209 opened: the planner scores (bands, rowsPerBand)
    * layouts, and until now the engine could only RUN r = 1; this key
    * executes the b=4, r=2 layout the planner's S-curve table covers,
    * with each candidate's 8-slot Jaccard estimate attached): a band
    * collides only when BOTH its slots agree — sharper precision than
    * q87's r=1 at the same signature budget. Scale: TextDedup
    * .lshCandidatePairsBanded — (id, band) fold, (band, key) bucket
    * aggregate, pairs ∝ occupancy; the estimate join-back keys on
    * (id, seed). Oracle replays the banding with string_agg over the
    * same ':' key, so the candidate set — not just the estimates —
    * is hash-proven. */
  private def q224(s: SparkSession, d: String): DataFrame = {
    val sigs = TextDedup.minhashSignatures(docs(s, d), "doc_id", "text")
      .transform(Det.pin)
    val pairs = TextDedup.lshCandidatePairsBanded(sigs, "doc_id",
      rowsPerBand = 2)
    val sa = sigs.select(col("doc_id").as("a_id"), col("seed"),
      col("sig").as("siga"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("seed"),
      col("sig").as("sigb"))
    pairs.join(sa, "a_id").join(sb, Seq("b_id", "seed"))
      .groupBy("a_id", "b_id")
      .agg(Det.r4e(
        sum(when(col("siga") === col("sigb"), 1.0).otherwise(0.0)) / 8.0)
        .as("est_jaccard"))
      .transform(Det.emitWide(_, "a_id", "b_id"))
  }

  /** q157: MERGEABLE fixed-bin histogram quantiles — the pattern that
    * makes PERCENTILES incremental at lake scale, the quantile twin of
    * q149's HLL story: bin each day's order totals ONCE (exact counts
    * per equi-width bin — constant state per day, counts just ADD),
    * roll months up by summing day bins (mergeability exercised
    * in-plan), and answer any later quantile from the cumulative bins
    * by linear interpolation — a re-aggregation reads the month's raw
    * rows again; the bin rollup reads 500 longs per day regardless of
    * volume. Every step is DETERMINISTIC integer/double arithmetic, so
    * unlike percentile_approx (whose digest is engine-private) the
    * whole estimate is oracle-checkable — DuckDB reproduces bins,
    * cumsum, and interpolation bit-for-bit; OperatorSpec separately
    * bounds each estimate within one bin width of the order statistic
    * at its target rank ⌈p·n⌉ (the honest histogram guarantee — the
    * interpolated percentile can sit many bins away when a month is
    * sparse). Scale shape: one (day, bin)-keyed aggregate (map-side
    * combinable), a (month, bin) rollup over ~bins rows per month, a
    * bins-sized window per month, one tiny final aggregate. */
  private def q157(s: SparkSession, d: String): DataFrame = {
    val lo = 0.0; val hi = 500000.0; val bins = 500
    val w = (hi - lo) / bins // 1000.0
    val bin = least(lit(bins - 1),
      greatest(lit(0), floor((col("o_totalprice") - lo) / w))).cast("int")
    val daily = orders(s, d)
      .select(col("o_orderdate").cast("date").as("day"), bin.as("bin"))
      .groupBy("day", "bin").agg(count(lit(1)).as("cnt"))
    val monthly = daily
      .groupBy(
        date_trunc("month", col("day")).cast("date").cast("string").as("month"),
        col("bin"))
      .agg(sum("cnt").as("cnt"))
    val wc = Window.partitionBy("month").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("month")
    val cum = monthly
      .withColumn("cum", sum("cnt").over(wc))
      .withColumn("n", sum("cnt").over(wn))
    // the CROSSING bin is unique: prevcum < t ≤ cum — evaluate the
    // interpolation ONLY there (an aggregate over later bins is
    // garbage: their (t − prevcum)/cnt term goes arbitrarily negative,
    // so a min over all crossing-or-later bins can undercut the true
    // estimate — caught by s33's dense-histogram test)
    def est(p: Double): Column = {
      val t = lit(p) * col("n")
      min(when(col("cum") >= t && col("cum") - col("cnt") < t,
        lit(lo) + lit(w) *
          (col("bin") + (t - (col("cum") - col("cnt"))) / col("cnt"))))
    }
    cum.groupBy("month")
      .agg(max("n").as("n_orders"),
        Det.r4e(est(0.25)).as("est_p25"),
        Det.r4e(est(0.50)).as("est_p50"),
        Det.r4e(est(0.95)).as("est_p95"))
      .transform(Det.emit(_, "month"))
  }

  /** q158: sequence packing (see `operators.Packing`) — the
    * concatenate-short-docs-into-context-windows pass that sits
    * between cleaning and batching. Capacity 256 tokens, 8 hashed
    * streams over the documents table; output is the full
    * (doc_id → stream, bin) assignment. The DuckDB oracle replays the
    * greedy walk with a recursive CTE over per-stream row numbers — an
    * independent formulation of the same chain, so the hash-match
    * proves the walk exactly (the oversize-doc and boundary branches
    * are additionally property-tested in AlgebraProps with lengths
    * beyond the capacity). */
  private def q158(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.packGreedy(
      docs(s, d).withColumn("len", expr(s"size($TOKS)")),
      "doc_id", "len", capacity = 256, streams = 8)
      .transform(Det.emitWide(_, "doc_id"))

  /** q159: language-balanced mixture downsampling — recompute per-
    * stratum keep-rates FROM the corpus so the sampled mix is
    * balanced to the smallest language (the data-mixing step that
    * turns "90% English crawl" into an even per-language diet before
    * training). Unlike q106 (caller-fixed rates) the rates here are
    * DERIVED: cut_lang = ⌊min_cnt · 10000 / cnt_lang⌋ on the same
    * 10000-grid integer hash draw as q106/q152 — every step is
    * integer arithmetic, so the kept set is exact and replayable on
    * any engine, any retry. Scale shape: one bounded (#langs)
    * aggregate broadcasts back onto the corpus; the keep decision is
    * a pure map-side compare — no data-sized shuffle at all. */
  private def q159(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("lang"))
    val cnts = base.groupBy("lang").agg(count(lit(1)).as("cnt"))
    val minc = cnts.agg(min("cnt").as("min_cnt"))
    val cuts = cnts.crossJoin(broadcast(minc))
      .withColumn("cut", expr("min_cnt * 10000 div cnt"))
      .select(col("lang"), col("cut"))
    base
      .join(broadcast(cuts), Seq("lang"))
      .withColumn("draw", TextDedup.hashDraw("doc_id", salt = "mix"))
      .where(col("draw") < col("cut"))
      .select(col("doc_id"), col("lang"), col("draw"), col("cut"))
      .transform(Det.emitWide(_, "doc_id"))
  }

  /** q160: per-language winsorized robust statistics over doc length —
    * clamp n_chars to the exact p05/p95 ORDER STATISTICS (rank
    * ⌈p·n⌉, pure integers — no interpolation, no float thresholds)
    * and report the winsorized mean plus clip counts: the robust
    * feature-normalization pass that keeps a handful of 100 MB crawl
    * blobs from owning a mean. Scale shape: heavy state is the
    * (lang, n_chars) count frame — map-side combinable, distributed
    * like any hash aggregate; the per-lang cumulative window runs
    * over that BOUNDED distinct-value frame (never over rows); the
    * #langs-row threshold table broadcasts back for a map-side clamp.
    * No task ever holds a language's row multiset (contrast a naive
    * percentile_disc window over lang partitions). */
  private def q160(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("lang"), col("n_chars"))
    val cnts = base.groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cnts.withColumn("cum", sum("c").over(wCum))
    val tot = base.groupBy("lang").agg(count(lit(1)).as("n"))
    // rank ⌈p·n⌉ as exact integers: (5n + 99) div 100, (95n + 99) div 100
    val th = cum.join(broadcast(tot), "lang")
      .groupBy("lang")
      .agg(
        min(when(col("cum") >= expr("(5 * n + 99) div 100"),
          col("n_chars"))).as("lo"),
        min(when(col("cum") >= expr("(95 * n + 99) div 100"),
          col("n_chars"))).as("hi"),
        max("n").as("n"))
    base.join(broadcast(th), Seq("lang"))
      .groupBy("lang")
      .agg(
        max("n").as("n_docs"),
        max("lo").as("p05"),
        max("hi").as("p95"),
        Det.r4e(avg(greatest(col("lo"),
          least(col("hi"), col("n_chars"))))).as("wins_mean"),
        sum(when(col("n_chars") < col("lo"), 1L)
          .otherwise(0L)).as("clipped_lo"),
        sum(when(col("n_chars") > col("hi"), 1L)
          .otherwise(0L)).as("clipped_hi"))
      .transform(Det.emit(_, "lang"))
  }

  /** q172: deterministic EPOCH SHUFFLE — the global permutation +
    * sharding pass a training run makes over the corpus each epoch,
    * rand()-free and replayable (the q152/q119 discipline): each doc's
    * position is a salted 48-bit md5 key (seed in the salt — a new
    * seed is a new permutation), its shard is the key mod the shard
    * count, and its within-shard position is its rank by (key, id).
    * The rank goes through DistributedRank, NOT a plain window: the
    * window form would sort each of the 16 shards on ONE task at any
    * cluster size, while the two-phase rank range-partitions on
    * (shard, key) so the epoch sort parallelizes with the data (shard
    * count itself scales by taking more hex digits — 16 here keeps
    * the fixture's oracle readable). The key is uniform and
    * collision-free in practice, so the probe job is skipped
    * (declared continuous + un-skewed). Downstream,
    * `examples.EpochShuffle.writeShards` lays the permutation out as
    * one directory per shard. */
  private def q172(s: SparkSession, d: String): DataFrame = {
    val h = docs(s, d).select(col("doc_id"),
      conv(substring(md5(concat(lit("ep7:"),
        col("doc_id").cast("string"))), 1, 12), 16, 10)
        .cast("long").as("h64"))
      .withColumn("shard", pmod(col("h64"), lit(16)).cast("int"))
    graft.operators.DistributedRank.ranked(h,
        pkeys = Seq("shard"), tieCols = Seq("h64"),
        uniqueCols = Seq("doc_id"), ntileK = 2,
        adaptiveCut = 0, hotTieCut = 0)
      .select(col("doc_id"), col("shard"), col("rn"))
      .transform(Det.emitWide(_, "shard", "rn"))
  }

  /** q176: TEMPERATURE-scaled mixture sampling (α = 0.5) — the data-
    * mixing generalization of q159's full balance: per-language
    * keep-rate (min_cnt/cnt)^(1−α) = √(min_cnt/cnt) on the shared
    * 10000-grid hash draw, so over-represented languages are damped
    * toward — but not flattened to — the smallest one (the standard
    * α-temperature diet of multilingual pretraining). sqrt and the
    * one multiply are exactly-specified IEEE ops on exact integers →
    * both engines derive the identical integer cut; the keep decision
    * stays a pure map-side compare (one bounded aggregate broadcasts
    * back, no corpus shuffle — q159's plan shape). */
  private def q176(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("lang"))
    val cnts = base.groupBy("lang").agg(count(lit(1)).as("cnt"))
    val minc = cnts.agg(min("cnt").as("min_cnt"))
    val cuts = cnts.crossJoin(broadcast(minc))
      .withColumn("cut",
        floor(sqrt(col("min_cnt").cast("double") / col("cnt")) * 10000)
          .cast("long"))
      .select(col("lang"), col("cut"))
    base
      .join(broadcast(cuts), Seq("lang"))
      .withColumn("draw", TextDedup.hashDraw("doc_id", salt = "temp"))
      .where(col("draw") < col("cut"))
      .select(col("doc_id"), col("lang"), col("draw"), col("cut"))
      .transform(Det.emitWide(_, "doc_id"))
  }

  /** q177: COUNT–MIN sketch token frequencies — the mergeable
    * frequency sketch complementing q150's Misra–Gries (MG keeps the
    * top-k identities; CMS answers point queries for ANY key): d=4
    * md5-seeded rows × w=256 buckets of exact counts. The sketch is
    * ONE map-side-combinable aggregate to 4×256 cells — constant
    * state, and cells ADD, so per-day sketches union by bin-sum
    * exactly like q149's HLLs and q157's histograms (the lakehouse
    * incremental story; OperatorSpec pins sketch(A)+sketch(B) ≡
    * sketch(A∪B) and est ≥ exact). Estimates for the exact top-20
    * tokens: est = min over rows of the row's bucket count. Every
    * step is deterministic integer arithmetic — the whole sketch is
    * oracle-replayable, overcount included. */
  private def q177(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CountMin
    val tk = docs(s, d).select(explode(expr(TOKS)).as("w"))
      .transform(Det.pin)
    val sketch = CountMin.cells(tk, "w", depth = 4, width = 256)
    val probes = tk.groupBy("w").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("w").asc).limit(20)
    probes
      .select(col("w"), col("exact"),
        explode(sequence(lit(0), lit(3))).as("i"))
      .withColumn("b", CountMin.bucket(col("i"), col("w"), 256))
      .join(broadcast(sketch), Seq("i", "b"))
      .groupBy("w").agg(max("exact").as("exact"), min("c").as("est"))
      .select(col("w"), col("exact"), col("est"),
        (col("est") - col("exact")).as("over"))
      .transform(Det.emit(_, "w"))
  }

  /** The q179 merge table: ranked BPE merges over in-word characters
    * (q121 counts the LEARNING statistic; this is the APPLY side).
    * Every pair has p1 ≠ p2 — the DISJOINT-PASS contract: with
    * p1 ≠ p2 two matches of the same pair can never share a symbol,
    * so one left-to-right pass merges all occurrences at once and
    * both engines implement the pass without greedy tie-breaking
    * (a self-pair like (a,a) on "aaa" would need run-splitting —
    * excluded by construction, loudly). */
  private[graft] val BPE_MERGES = Seq(("t", "h"), ("th", "e"), ("i", "n"),
    ("a", "n"), ("e", "r"), ("o", "n"), ("an", "d"), ("in", "g"))

  /** Nested rank-order merge expression (see q179's lemma; AlgebraProps
    * pins it ≡ the reference min-rank-first loop). The pass itself
    * lives in BpeTrain.mergeExpr since round 14 — q190 learns with the
    * identical pass it is applied with. */
  private[graft] def bpeMergeExpr(inner: String,
      merges: Seq[(String, String)]): String =
    graft.operators.BpeTrain.mergeExpr(inner, merges)

  /** q179: BPE tokenizer APPLY — run a ranked merge table over each
    * word's character sequence (the GPT-2 encode loop) and report the
    * per-doc symbol compression: the tokenization-cost statistic a
    * data pipeline prices corpora with before training. Correctness
    * lemma (why rank order ≡ the reference "min-rank pair first"
    * loop): a merge at rank r replaces "p1 p2" with one NEW symbol;
    * every adjacency it creates involves that new symbol, whose pairs
    * can only appear LATER in a learned table — two old symbols never
    * become newly adjacent — so processing ranks 1..R, one disjoint
    * pass each, reaches the identical fixpoint. Each pass is a
    * map-side array fold (`aggregate`); 8 ranks nest as 8 expressions
    * over the exploded words — zero shuffles before the per-doc sum.
    * The oracle replays the same 8 passes as unrolled lead/lag window
    * stages over (doc, word, pos, sym) rows — an independent
    * formulation of the pass (relational match-and-renumber vs
    * sequential fold), so the hash-match proves the merge semantics,
    * not just the arithmetic. */
  private def q179(s: SparkSession, d: String): DataFrame = {
    val merged = bpeMergeExpr("split(w, '')", BPE_MERGES)
    spread(s, docs(s, d))
      .withColumn("toks", expr(TOKS))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .select(col("doc_id"), length(col("w")).as("nc"),
        expr(s"size($merged)").as("ns"))
      .groupBy("doc_id")
      .agg(sum("nc").as("n_sym0"), sum("ns").as("n_sym"))
      .select(col("doc_id"), col("n_sym0"), col("n_sym"),
        Det.r4e(col("n_sym").cast("double") / col("n_sym0")).as("ratio"))
      .transform(Det.emitWide(_, "doc_id"))
  }

  /** q190: BPE merge-rule TRAINING — the loop that PRODUCES a ranked
    * merge table (q121 counts round one's statistic, q179 applies a
    * learned table; this closes the triangle). Six rounds of
    * (pair-count → argmax → disjoint merge pass) over the
    * word-frequency table — see BpeTrain for the scale contract (the
    * corpus is scanned once for the count aggregate; every round after
    * is vocabulary-sized) and the p1 ≠ p2 self-pair exclusion both
    * engines share. Output = the learned table itself: (rnk, lhs,
    * rhs, pair_cnt), rounds-sized, assembled from the per-round
    * 1-row argmax collects (the dupClusters-style driver decision).
    * The oracle replays the identical six rounds UNROLLED as DuckDB
    * CTEs — pair fan-out via lateral unnest, argmax via ORDER BY …
    * LIMIT 1, the merge pass via an index lambda — an independent
    * formulation of every step, so the hash-match proves the LEARNING
    * semantics (tie-breaks included), not just arithmetic. */
  private def q190(s: SparkSession, d: String): DataFrame = {
    val words = Det.pin(docs(s, d)
      .select(explode(expr(TOKS)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt")))
    val ms = graft.operators.BpeTrain.learnMerges(words, "w", "cnt", rounds = 6)
    import s.implicits._
    ms.map(m => (m.rank, m.lhs, m.rhs, m.pairCnt))
      .toDF("rnk", "lhs", "rhs", "pair_cnt")
      .transform(Det.emit(_, "rnk"))
  }

  /** q195: TOKENIZER FERTILITY by language (round 15 — the
    * tokenizer-evaluation statistic multilingual LM work reports:
    * pieces-per-word / pieces-per-char under a LEARNED subword
    * vocabulary; a tokenizer trained on an English-heavy mix
    * over-fragments other languages, and this is the table that
    * shows it). Composes the BPE triangle end-to-end: q190's
    * training loop LEARNS the 6-rank merge table from the corpus
    * word-frequency aggregate, q179's disjoint pass APPLIES it to
    * every word occurrence, and the per-language fold reports
    * (words, chars, pieces, fertility, pieces/char). Scale: training
    * is vocabulary-sized after one corpus scan (BpeTrain's
    * contract), the apply is a zero-shuffle map-side fold over the
    * exploded token stream, the output is languages-sized; the
    * divisions are exact-integer (q189 discipline). Oracle = q190's
    * unrolled training CTEs, whose final v6 IS the merged form of
    * every vocab word (the rank-order lemma), joined back onto the
    * (lang, word) stream — so the hash-match proves train+apply
    * compose identically in both engines. */
  private def q195(s: SparkSession, d: String): DataFrame = {
    // ONE corpus tokenize pass (round 15): the (lang, word) occurrence
    // counts pin, and both the trainer's global word-count frame and
    // the fertility statistics derive from that vocab-scale frame.
    // Previously the corpus was tokenized and exploded TWICE and the
    // learned 6-layer merge expression was evaluated per token
    // OCCURRENCE; now it evaluates once per DISTINCT word (the
    // q109/q111 vocabulary-join discipline — BPE statistics are
    // occurrence-invariant, see BpeTrain's scaladoc) and the second
    // corpus pass disappears entirely. Integer-exact: n_words = Σ lcnt,
    // n_chars = Σ len(w)·lcnt, n_pieces = Σ pieces(w)·lcnt are the
    // same sums the per-occurrence form computed, in long arithmetic.
    val lw = Det.pin(docs(s, d)
      .select(col("lang"), explode(expr(TOKS)).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("lcnt")))
    val words = Det.pin(lw.groupBy("w").agg(sum("lcnt").as("cnt")))
    val ms = graft.operators.BpeTrain.learnMerges(words, "w", "cnt",
      rounds = Q190_ROUNDS)
    val merged = graft.operators.BpeTrain.mergeExpr("split(w, '')",
      ms.map(m => (m.lhs, m.rhs)))
    val wstats = words.select(col("w"),
      length(col("w")).cast("long").as("nc"),
      expr(s"size($merged)").cast("long").as("ns"))
    lw.join(wstats, "w")
      .groupBy("lang")
      .agg(sum("lcnt").as("n_words"),
        sum(col("nc") * col("lcnt")).as("n_chars"),
        sum(col("ns") * col("lcnt")).as("n_pieces"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_pieces"),
        (col("n_pieces").cast("double") / col("n_words")).as("fertility"),
        (col("n_pieces").cast("double") / col("n_chars")).as("pieces_per_char"))
      .transform(Det.emit(_, "lang"))
  }

  private val Q190_ROUNDS = 6

  /** q190's oracle: the training loop unrolled — v0 is the word-count
    * table, then per round r: p{r} adjacent-pair counts (lateral
    * unnest over positions; `range(1, len)` is naturally empty for
    * 1-symbol words), b{r} the argmax under the identical
    * (count desc, lexicographic) tie-break, v{r+1} the merge pass as
    * a DuckDB index lambda (match-drop form, disjoint under
    * p1 ≠ p2). Counts CAST to BIGINT (DuckDB sums to HUGEINT — the
    * q160 lesson). */
  /** The training rounds as a reusable CTE chain ending at
    * v$Q190_ROUNDS — the fully-merged vocabulary (each distinct
    * word's symbol sequence after all learned ranks). q190 selects
    * the learned table out of b0..b5; q195 joins v6 back onto the
    * (lang, word) stream for fertility. */
  private val bpeTrainCtes: String = {
    val rounds = (0 until Q190_ROUNDS).map { r =>
      s"""p$r AS (
           SELECT syms[i] AS p1, syms[i + 1] AS p2, sum(cnt) AS c
           FROM v$r, unnest(range(1, len(syms))) AS t(i)
           GROUP BY 1, 2),
         b$r AS (
           SELECT p1, p2, CAST(c AS BIGINT) AS c
           FROM p$r WHERE p1 <> p2
           ORDER BY c DESC, p1 ASC, p2 ASC LIMIT 1),
         v${r + 1} AS (
           SELECT w, cnt,
             list_filter(list_transform(syms, (x, i) -> CASE
               WHEN x = b.p2 AND i > 1 AND syms[i - 1] = b.p1 THEN NULL
               WHEN x = b.p1 AND i < len(syms) AND syms[i + 1] = b.p2
                 THEN b.p1 || b.p2
               ELSE x END), y -> y IS NOT NULL) AS syms
           FROM v$r, b$r b)"""
    }
    s"""v0 AS (
          SELECT w, CAST(count(1) AS BIGINT) AS cnt, string_split(w, '') AS syms
          FROM (SELECT unnest($TS) AS w FROM documents) GROUP BY w),
        ${rounds.mkString(",\n        ")}"""
  }

  private val q190Oracle: String = {
    val sel = (0 until Q190_ROUNDS)
      .map(r => s"SELECT ${r + 1} AS rnk, p1 AS lhs, p2 AS rhs, c AS pair_cnt FROM b$r")
      .mkString("\n          UNION ALL ")
    s"""WITH $bpeTrainCtes
        $sel ORDER BY rnk"""
  }

  /** q195's oracle: the same unrolled training chain, then the merged
    * vocabulary (v6) joined back onto the per-language word stream. */
  private val q195Oracle: String =
    s"""WITH $bpeTrainCtes,
        wl AS (SELECT lang, unnest($TS) AS w FROM documents),
        pc AS (SELECT w, len(syms) AS ns, len(w) AS nc FROM v$Q190_ROUNDS)
        SELECT lang, CAST(count(1) AS BIGINT) AS n_words,
               CAST(sum(nc) AS BIGINT) AS n_chars,
               CAST(sum(ns) AS BIGINT) AS n_pieces,
               CAST(sum(ns) AS DOUBLE) / count(1) AS fertility,
               CAST(sum(ns) AS DOUBLE) / sum(nc) AS pieces_per_char
        FROM wl JOIN pc USING (w)
        GROUP BY lang ORDER BY lang"""

  /** q180: dedup-ENSEMBLE canonicalization — production near-dup
    * pipelines run SEVERAL candidate generators (each blind to what
    * the others catch: MinHash sees shingle overlap, SimHash sees
    * token-multiset proximity, embeddings see semantics) and
    * canonicalize over the UNION of their verdicts, because
    * transitivity only holds jointly: a∼b by text and b∼c by
    * embedding must collapse a, b, c together. Edges = q87's LSH
    * pairs ∪ q103's banded SimHash pairs (hamming ≤ 3) ∪ q90's
    * cosine pairs (> 0.35, the vec_id<200 block); components by
    * min-label propagation (q123's machinery); emit (id, cluster).
    *
    * Scale: each generator keeps its own proven bucketed plan; the
    * union is edge-sized; dupClusters is the lineage-truncated
    * propagation loop. The oracle re-derives all three edge sets
    * BRUTE-FORCE (naive joins — proving the banded/LSH generators
    * complete yet again) and replays the components as a recursive
    * CTE. */
  private def q180(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Similarity
    val base = docs(s, d)
    val sigs = TextDedup.minhashSignatures(base, "doc_id", "text")
    val mh = TextDedup.lshCandidatePairs(sigs, "doc_id")
      .select("a_id", "b_id")
    val sh = TextDedup.simhashNearDupPairs(base, "doc_id", "text",
        maxHamming = 3)
      .select("a_id", "b_id")
    val cp = Similarity.nearDupPairs(
        spread(s, embeddings(s, d).where(col("vec_id") < 200)),
        "vec_id", "embedding", minCos = 0.35)
      .select(col("a_id"), col("b_id"))
    val edges = mh.unionAll(sh).unionAll(cp).distinct()
    TextDedup.dupClusters(edges).transform(Det.emitWide(_, "id"))
  }

  /** q182: SOFT-dedup loss weights — the alternative to dropping
    * near-duplicates: keep every doc but weight its training loss by
    * 1/|dup-cluster| so each content cluster contributes one unit
    * (the "count once" principle applied softly; exact-dedup-then-
    * weight is how several production corpora price repeats).
    * Clusters are q123's connected components over the LSH candidate
    * pairs; docs in no pair are singletons at weight 1. One
    * propagation loop + a bounded cluster-size aggregate + a left
    * join back onto the corpus — nothing quadratic. */
  private def q182(s: SparkSession, d: String): DataFrame = {
    val sigs = TextDedup.minhashSignatures(docs(s, d), "doc_id", "text")
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
    val comp = TextDedup.dupClusters(pairs).transform(Det.pin)
    val sizes = comp.groupBy("cluster").agg(count(lit(1)).as("csize"))
    val labeled = comp.join(sizes, "cluster")
    docs(s, d).select(col("doc_id"))
      .join(labeled.select(col("id").as("doc_id"), col("cluster"),
        col("csize")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        coalesce(col("csize"), lit(1L)).as("csize"),
        Det.r4e(lit(1.0) / coalesce(col("csize"), lit(1L))).as("w"))
      .transform(Det.emitWide(_, "doc_id"))
  }

  /** q192: DSIR importance weights (round 15 — Xie et al. 2023's
    * Data Selection via Importance Resampling, the hashed-n-gram
    * form): score every RAW-corpus doc by how target-like its token
    * distribution is. Features are unigrams hashed into B=64 buckets
    * (the paper's dimensionality-reduction trick — bag-of-hashed-
    * ngrams makes the per-domain LM a B-sized table instead of a
    * vocabulary); target = the 'en' slice, raw = everything else;
    * λ[b] = ln p̂_target(b) − ln p̂_raw(b) with add-1 smoothing, and a
    * doc's log importance weight is Σ_tokens λ[bucket(token)]. The
    * top-25 raw docs by weight are the ones DSIR would resample into
    * the training mix. Scale: the bucket aggregates are B-cardinality
    * (map-side combined), the λ table is B rows → BROADCAST into the
    * token stream (unlike the q109/q111 vocabulary joins there is no
    * corpus-sized vocabulary table here — that is DSIR's point), the
    * per-doc fold is one hash aggregate, and the top-25 is a
    * TakeOrdered. ln on exact-integer ratios + r4e epsilon (the
    * q109/q183 discipline); ordering ties break on the rounded
    * weight then doc_id. */
  private def q192(s: SparkSession, d: String): DataFrame = {
    val B = 64
    val tk = docs(s, d)
      .select(col("doc_id"), col("lang"), explode(expr(TOKS)).as("w"))
      .withColumn("b", expr(
        s"CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % $B"))
      .transform(Det.pin)
    val ct = tk.where(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val cr = tk.where(col("lang") =!= "en")
      .groupBy("b").agg(count(lit(1)).as("cr"))
    val totals = ct.agg(sum("ct").as("nt"))
      .crossJoin(cr.agg(sum("cr").as("nr")))
    val lam = s.range(B).select(col("id").as("b"))
      .join(ct, Seq("b"), "left").join(cr, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1L)) / (col("nt") + lit(64.0))) -
         log((coalesce(col("cr"), lit(0L)) + lit(1L)) / (col("nr") + lit(64.0))))
          .as("lam"))
    tk.where(col("lang") =!= "en")
      .join(broadcast(lam), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), Det.r4e(sum("lam")).as("logw"))
      .orderBy(col("logw").desc, col("doc_id").asc)
      .limit(25)
  }

  /** q194: data-quality EXPECTATIONS report (round 15 — the
    * great-expectations / Delta-constraints audit shape, batch twin
    * of Lake.mergeIntoChecked's per-merge gate): a declared rule set
    * over orders/lineitem — domain checks, range checks, referential
    * integrity, cross-table temporal consistency — evaluated into one
    * (rule, checked, violations, rate, exemplar) report row each.
    * Scale: all single-table rules for one table fold in ONE scan
    * (sum(CASE)/min(CASE) per rule inside a single aggregate, then
    * `stack` pivots the 1-row aggregate into rule rows — no
    * rule-count × table-size rescans); FK rules are anti-joins on the
    * key (shuffle joins at scale — never a collect); the temporal
    * rule is one key-equi-join + fold. Exemplar = min violating key,
    * −1 when clean (a NULL here would flip the pandas column dtype).
    * viol_rate is an exact-integer division — identical IEEE op both
    * engines, no epsilon needed (the q189 discipline). */
  private def q194(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d); val l = lineitem(s, d); val c = customer(s, d)
    def pass(tbl: DataFrame, key: String, tname: String,
        rules: Seq[(String, Column)]): DataFrame = {
      val aggs = rules.zipWithIndex.flatMap { case ((_, bad), i) => Seq(
        sum(when(bad, lit(1L)).otherwise(lit(0L))).as(s"v$i"),
        coalesce(min(when(bad, col(key))), lit(-1L)).as(s"k$i")) }
      val stackArgs = rules.zipWithIndex
        .map { case ((rid, _), i) => s"'$rid', v$i, k$i" }.mkString(", ")
      val one = tbl.agg(count(lit(1)).as("n"), aggs: _*)
      one.selectExpr(
          s"stack(${rules.size}, $stackArgs) AS (rule_id, n_viol, sample_key)",
          "n AS n_checked")
        .select(col("rule_id"), lit(tname).as("tbl"), col("n_checked"),
          col("n_viol"), col("sample_key"))
    }
    val oRules = pass(o, "o_orderkey", "orders", Seq(
      "r01_price_positive" -> !(col("o_totalprice") > 0),
      "r02_status_domain" -> !col("o_orderstatus").isin("O", "F", "P"),
      "r03_date_present" -> col("o_orderdate").isNull))
    val lRules = pass(l, "l_orderkey", "lineitem", Seq(
      "r04_qty_range" -> !(col("l_quantity") >= 1 && col("l_quantity") <= 45),
      "r05_disc_range" -> !(col("l_discount") >= 0 && col("l_discount") <= 0.08),
      "r06_extprice_positive" -> !(col("l_extendedprice") > 0)))
    def fk(child: DataFrame, key: String, tname: String, rid: String,
        parent: DataFrame, parentKey: String): DataFrame =
      child.join(parent, col(key) === col(parentKey), "left_anti")
        .agg(count(lit(1)).as("n_viol"),
          coalesce(min(col(key)), lit(-1L)).as("sample_key"))
        .crossJoin(broadcast(child.agg(count(lit(1)).as("n_checked"))))
        .select(lit(rid).as("rule_id"), lit(tname).as("tbl"),
          col("n_checked"), col("n_viol"), col("sample_key"))
    val fk1 = fk(o.select(col("o_custkey")), "o_custkey",
      "orders", "r07_fk_order_customer", c.select(col("c_custkey")), "c_custkey")
    val fk2 = fk(l.select(col("l_orderkey")), "l_orderkey",
      "lineitem", "r08_fk_lineitem_order", o.select(col("o_orderkey")),
      "o_orderkey")
    val late = col("l_shipdate") < col("o_orderdate")
    val shp = l.select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n_checked"),
        sum(when(late, lit(1L)).otherwise(lit(0L))).as("n_viol"),
        coalesce(min(when(late, col("l_orderkey"))), lit(-1L)).as("sample_key"))
      .select(lit("r09_ship_after_order").as("rule_id"),
        lit("lineitem_orders").as("tbl"), col("n_checked"), col("n_viol"),
        col("sample_key"))
    Seq(oRules, lRules, fk1, fk2, shp).reduce(_ unionByName _)
      .select(col("rule_id"), col("tbl"), col("n_checked"), col("n_viol"),
        (col("n_viol").cast("double") / col("n_checked")).as("viol_rate"),
        col("sample_key"))
      .transform(Det.emit(_, "rule_id"))
  }

  /** q240: SPEARMAN rank-correlation drift between document length
    * and whitespace-token count per source (round 20 — the monotone-
    * association member of the drift family: q214's Pearson matrix is
    * LINEAR association on raw values, outlier-dominated; q228's
    * Mann-Whitney compares two samples; Spearman audits IN-SAMPLE
    * monotone consistency — a source whose chars-vs-tokens RANK
    * relationship degrades has changed composition (code vs prose vs
    * boilerplate tables), whatever the marginal scales do): ρ is
    * Pearson over 2·midranks — 2·midrank = 2·(cum − c) + c + 1 is an
    * EXACT INTEGER though the midrank itself is k+½ (the q228 trick)
    * — built from value-grain prefix sums over the BOUNDED
    * (source, length) frame (the q238 discipline: document lengths
    * are capped by construction at any corpus scale, so the window
    * never sees a data-sized partition). All five moments accumulate
    * in decimal(38,0): 2r ≤ 2n so Σ(2r)² ≤ 4n³ and num/den stay
    * exact to n ≈ 2.9e12 docs per source — documented bound, far past
    * any real source. ONE division over a sqrt of exact integer
    * operands at display, op order mirrored token-for-token in the
    * oracle (HUGEINT ≡ decimal(38,0) on this range) → r6e. Degenerate
    * sources (a constant column ⇒ zero rank variance) emit ρ = 0 by
    * explicit guard in BOTH engines, never NaN. Scale: two
    * (source, value)-keyed grain aggregates + joins back on the same
    * keys (co-partitioned), one source-grain rollup; nothing
    * broadcasts but the emit. */
  private def q240(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dm(c: Column) = c.cast(dec)
    val base = docs(s, d).select(col("source"),
      col("n_chars").as("x"),
      expr(s"size($TOKS)").cast("long").as("y"))
    def ranks2(v: String): DataFrame = {
      val g = base.groupBy(col("source"), col(v))
        .agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy("source").orderBy(v)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cum", sum("c").over(wc))
        .select(col("source"), col(v),
          (lit(2L) * (col("cum") - col("c")) + col("c") + lit(1L))
            .as(s"r2$v"))
    }
    val withR = base
      .join(ranks2("x"), Seq("source", "x"))
      .join(ranks2("y"), Seq("source", "y"))
    val m = withR.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(dm(col("r2x"))).as("sx"), sum(dm(col("r2y"))).as("sy"),
      sum(dm(col("r2x")) * dm(col("r2x"))).as("sxx"),
      sum(dm(col("r2y")) * dm(col("r2y"))).as("syy"),
      sum(dm(col("r2x")) * dm(col("r2y"))).as("sxy"))
    val n = dm(col("n_docs"))
    val num = n * col("sxy") - col("sx") * col("sy")
    val denx = n * col("sxx") - col("sx") * col("sx")
    val deny = n * col("syy") - col("sy") * col("sy")
    m.select(col("source"), col("n_docs"),
      Det.r6e(when(denx > 0 && deny > 0,
        num.cast("double") /
          sqrt(denx.cast("double") * deny.cast("double")))
        .otherwise(lit(0.0))).as("rho"))
      .transform(Det.emit(_, "source"))
  }

  /** q241: PII / leak-risk SCREEN per source (round 20 — the redaction
    * gate every training-data pipeline runs before release, and the
    * audit q194's declared rules don't cover because the signal is
    * pattern-shaped, not range-shaped): per source, documents and
    * total hits for three engine-portable pattern classes — email
    * addresses, long digit runs (7+, the phone/account/SSN superclass:
    * the RECALL-side screen a pipeline triages before a typed
    * extractor), and URLs — plus the affected-document share. The
    * fixture corpus is expected near-clean; like q222's flat Benford
    * profile, the zeros ARE the point (the screen proves absence). The
    * regexes stay inside the portable class (character classes +
    * greedy counted/unbounded quantifiers, no backrefs, no
    * lookaround), where Java regex (Spark) and RE2 (DuckDB) produce
    * identical non-overlapping leftmost-greedy match sets — documented
    * constraint, not an accident. Scale: pure map-side regexp_count
    * over the doc scan + one source-grain rollup; the dense 3-class
    * emission is #sources × 3 rows. */
  private def q241(s: SparkSession, d: String): DataFrame = {
    // NO backslashes anywhere: Spark's SQL literal parser strips
    // unrecognized escapes (`'\.'` reaches the regex as any-char `.`)
    // while DuckDB passes them through — `[.]` is the literal dot
    // both engines agree on
    val pats = Seq(
      ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"),
      ("digit_run7", "[0-9]{7,}"),
      ("url", "https?://[^ ]+"))
    pats.map { case (cls, re) =>
      docs(s, d).select(col("source"),
        expr(s"regexp_count(text, '$re')").cast("long").as("hits"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_affected"),
          sum("hits").as("n_hits"))
        .select(col("source"), lit(cls).as("pii_class"), col("n_docs"),
          col("n_affected"), col("n_hits"),
          Det.r6e(col("n_affected").cast("double") /
            col("n_docs").cast("double")).as("affected_share"))
    }.reduce(_ unionByName _)
      .transform(Det.emit(_, "source", "pii_class"))
  }

  /** q242: CROSS-SOURCE VOCABULARY OVERLAP (round 20 — the
    * source-redundancy audit a mixture planner reads beside q229's
    * concentration and q176's weights: two sources whose
    * characteristic vocabularies coincide contribute near-duplicate
    * distribution mass even when their documents never collide in
    * q107's trigram decontamination or q86's MinHash — the overlap is
    * DISTRIBUTIONAL, not textual): per source pair, the Jaccard of
    * their top-300 token sets (ranked c desc, token asc — a total
    * order, so the set is deterministic on any engine) plus both set
    * sizes. Emission is SPARSE by construction (pairs sharing ≥ 1 top
    * token — the q87 candidate-pair convention; an absent pair reads
    * as zero overlap). Scale: the (source, token) aggregate shuffles
    * on the token-keyed grain; everything after operates on the
    * BOUNDED #sources×300 top frame — the pair join is top⋈top on the
    * token key, never corpus-sized. */
  private def q242(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("source"), explode(expr(TOKS)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val top = TopK.perGroup(tok, Seq("source"),
        Seq(col("c").desc, col("w").asc), k = 300)
      .select(col("source"), col("w"))
    val sz = top.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = top.select(col("source").as("src_a"), col("w"))
      .join(top.select(col("source").as("src_b"), col("w")), Seq("w"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sz.select(col("source").as("src_a"), col("n").as("na")), "src_a")
      .join(sz.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("na"), col("nb"),
        Det.r6e(col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")).cast("double"))
          .as("jaccard"))
      .transform(Det.emit(_, "src_a", "src_b"))
  }

  /** q243: LANGUAGE-MIX entropy per source (round 20 — the mixture
    * audit beside q242's vocabulary overlap: a "source" that is
    * secretly a multilingual crawl behaves differently under q159's
    * language balancing than a monolingual one, and the Shannon
    * entropy of its language shares is the single-number summary;
    * corpus_audit computes shares per RUN — this is the per-source
    * oracle-checked key): H = ln(n) − (Σ c·ln c)/n over the bounded
    * (source, lang) frame (the q135 one-pass identity — no per-lang
    * probability column materializes), plus the dominant-language
    * share. Scale: one doc scan to the (source, lang) cell grain,
    * one source rollup; float sums over the bounded lang frame →
    * r6e (the q207 class). */
  private def q243(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .groupBy("source").agg(
        sum("c").as("n_docs"),
        count(lit(1)).as("n_langs"),
        Det.r6e(log(sum("c")) - sum(col("c").cast("double") *
          log(col("c"))) / sum("c")).as("lang_entropy"),
        Det.r6e(max("c").cast("double") / sum("c").cast("double"))
          .as("top_lang_share"))
      .transform(Det.emit(_, "source"))

  /** q244: THEIL T INEQUALITY INDEX of document length per language
    * (round 21 — the decomposable inequality measure beside q229's
    * Gini: Theil is additively decomposable across subgroups, which
    * is why corpus-balance audits prefer it when drilling from corpus
    * to source to shard): T = (Σ x·ln x)/S − ln(S/n) over n_chars > 0,
    * from three exact scan-side sums (n, S = Σx as longs; the x·ln x
    * sum is the one float fold → r6e, the q207 class). Scale: pure
    * map-side fold to the #langs frame — one scan, no joins. */
  private def q244(s: SparkSession, d: String): DataFrame =
    docs(s, d).where(col("n_chars") > 0)
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("total_chars"),
        Det.r6e(sum(col("n_chars").cast("double") *
            log(col("n_chars").cast("double"))) /
          sum(col("n_chars")).cast("double") -
          log(sum(col("n_chars")).cast("double") /
            count(lit(1)).cast("double"))).as("theil_t"))
      .transform(Det.emit(_, "lang"))

  /** q245: LAG-1 AUTOCORRELATION of daily event counts per event type
    * (round 21 — the time-series health check beside q226's CUSUM and
    * q237's Mann–Kendall: high positive autocorrelation means bursty,
    * sessionful traffic; near zero means memoryless arrivals — the
    * number a capacity planner and a drift monitor both read first).
    * Day series at the (event_type, day) grain; lag(1) over observed
    * days (gaps documented: the previous OBSERVED day, the standard
    * series treatment); Pearson r from exact integer moment sums —
    * the q240 discipline, never an engine-private streaming corr.
    * Zero variance on either side → 0.0 (the constant series has no
    * correlation to speak of, and NULL would poison the hash). Scale:
    * one events scan to the bounded (type, day) frame; the lag window
    * and the moment fold both run on that frame. */
  private def q245(s: SparkSession, d: String): DataFrame = {
    // Moment sums in decimal(38,0), genuinely the q240 discipline now
    // (round 14, ADVICE): daily counts c can reach 1e12 at corpus
    // scale, so Σc² in a plain Long wraps past 2^63 while the DuckDB
    // oracle's HUGEINT keeps going — decimal(38,0) matches HUGEINT on
    // every reachable range (exact to Σc² ≈ 1e38, i.e. c ≈ 1e16 over
    // 1e6 days — far past any real feed).
    val dec = DecimalType(38, 0)
    def dm(c: Column) = c.cast(dec)
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = daily.withColumn("prev", lag(col("c"), 1).over(w))
      .where(col("prev").isNotNull)
    val np = dm(col("n_pairs"))
    lagged.groupBy("event_type").agg(
        count(lit(1)).as("n_pairs"),
        sum(dm(col("c"))).as("sx"), sum(dm(col("prev"))).as("sy"),
        sum(dm(col("c")) * dm(col("c"))).as("sxx"),
        sum(dm(col("prev")) * dm(col("prev"))).as("syy"),
        sum(dm(col("c")) * dm(col("prev"))).as("sxy"))
      .select(col("event_type"), col("n_pairs"),
        Det.r6e(when(
          (np * col("sxx") - col("sx") * col("sx") > 0) &&
            (np * col("syy") - col("sy") * col("sy") > 0),
          (np * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((np * col("sxx") - col("sx") * col("sx")).cast("double") *
              (np * col("syy") - col("sy") * col("sy")).cast("double")))
          .otherwise(lit(0.0))).as("autocorr"))
      .transform(Det.emit(_, "event_type"))
  }

  /** q246: HERFINDAHL–HIRSCHMAN source concentration per language
    * (round 21 — the concentration number beside q243's entropy: HHI
    * = Σ(cᵢ/n)² is what competition analysis reads, and 1/HHI is the
    * EFFECTIVE source count — "this language really comes from ~2.3
    * sources" — the mixture planner's sanity check against q159's
    * balancing assumptions): exact integer cell counts, HHI =
    * Σc²/(Σc)² with the one float division → r6e. Scale: one scan to
    * the (lang, source) cell grain, one lang rollup. */
  private def q246(s: SparkSession, d: String): DataFrame = {
    // Σc² in decimal(38,0) (round 14, ADVICE — the q240/q245 overflow
    // discipline), and the denominator mirrors the oracle's
    // cast-then-multiply shape (CAST(sum(c) AS DOUBLE) * CAST(...))
    // rather than multiplying longs first, so neither side ever wraps
    // and the ulp path is token-identical.
    val c2 = sum(col("c").cast(DecimalType(38, 0)) *
      col("c").cast(DecimalType(38, 0)))
    val nD = sum(col("c")).cast("double")
    docs(s, d).groupBy("lang", "source").agg(count(lit(1)).as("c"))
      .groupBy("lang").agg(
        sum("c").as("n_docs"),
        count(lit(1)).as("n_sources"),
        Det.r6e(c2.cast("double") / (nD * nD)).as("hhi"),
        Det.r6e((nD * nD) / c2.cast("double")).as("effective_sources"))
      .transform(Det.emit(_, "lang"))
  }

  /** q247: COHEN'S D effect size of document length between every
    * source pair (round 21 — the parametric companion to q221's KS
    * distance: KS says the length distributions differ, d says by HOW
    * MANY pooled standard deviations the means differ — the number a
    * rebalancing decision actually thresholds on): per source the
    * exact moment triple (n, Σx, Σx²) folds scan-side; the pair frame
    * is the bounded #sources² cross (sources are enum-sized), d =
    * (μa − μb)/s_pooled with the textbook pooled variance, 0.0 when
    * the pooled variance degenerates (n_a + n_b < 3 or zero spread).
    * Scale: one scan + a broadcast-sized pair join. */
  private def q247(s: SparkSession, d: String): DataFrame = {
    // Moment triple in decimal(38,0) (round 14, ADVICE): Σx² over
    // n_chars ≤ ~1e6 wraps a Long past ~9e6 docs per source at
    // corpus scale; the oracle's HUGEINT never does. decimal(38,0)
    // is exact to Σx² ≈ 1e38 — 1e26 docs at that cap.
    val dec = DecimalType(38, 0)
    val m = docs(s, d).groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("n_chars").cast(dec)).as("sx"),
      sum(col("n_chars").cast(dec) * col("n_chars").cast(dec)).as("sxx"))
    // centered sum of squares, computed IDENTICALLY on both engines
    // (one shape, no divide-then-multiply — ulp discipline)
    def ss(side: String): Column =
      col(s"sxx_$side").cast("double") -
        col(s"sx_$side").cast("double") * col(s"sx_$side").cast("double") /
          col(s"n_$side").cast("double")
    val a = m.select(col("source").as("src_a"), col("n").as("n_a"),
      col("sx").as("sx_a"), col("sxx").as("sxx_a"))
    val b = m.select(col("source").as("src_b"), col("n").as("n_b"),
      col("sx").as("sx_b"), col("sxx").as("sxx_b"))
    val sp2 = (ss("a") + ss("b")) /
      (col("n_a") + col("n_b") - 2).cast("double")
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        Det.r6e(when(col("n_a") + col("n_b") > 2 && sp2 > 0,
          (col("sx_a").cast("double") / col("n_a").cast("double") -
            col("sx_b").cast("double") / col("n_b").cast("double")) /
            sqrt(sp2)).otherwise(lit(0.0))).as("cohens_d"))
      .transform(Det.emit(_, "src_a", "src_b"))
  }

  /** q248: pairwise JENSEN–SHANNON divergence between source language
    * mixes (round 21 — the symmetric, bounded [0, ln 2] distance the
    * mixture family was missing: q200's PSI is unstable on empty
    * cells and asymmetric in spirit, q242's Jaccard is set-valued;
    * JSD is THE standard distribution distance for "are these two
    * sources drawing from the same language mixture"): shares on the
    * DENSE (source × lang) grid (zero cells carry 0 and contribute
    * nothing by the p>0 guard — the limit p·ln p → 0, applied
    * explicitly on both engines), JSD = Σ [p/2·ln(2p/(p+q)) +
    * q/2·ln(2q/(p+q))] in nats. Scale: one scan to the (source, lang)
    * cell grain; grid, pair join, and fold all on the bounded
    * #sources × #langs frame. */
  private def q248(s: SparkSession, d: String): DataFrame = {
    val cells = docs(s, d).groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
    val totals = cells.groupBy("source").agg(sum("c").as("n"))
    val langs = cells.select("lang").distinct()
    val grid = totals.crossJoin(langs)
      .join(cells, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"),
        (coalesce(col("c"), lit(0L)).cast("double") /
          col("n").cast("double")).as("p"))
    val a = grid.select(col("source").as("src_a"), col("lang"),
      col("p").as("pa"))
    val b = grid.select(col("source").as("src_b"), col("lang"),
      col("p").as("pb"))
    val term =
      when(col("pa") > 0,
        col("pa") / 2 * log(lit(2) * col("pa") / (col("pa") + col("pb"))))
        .otherwise(lit(0.0)) +
      when(col("pb") > 0,
        col("pb") / 2 * log(lit(2) * col("pb") / (col("pa") + col("pb"))))
        .otherwise(lit(0.0))
    a.join(b, Seq("lang")).where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(Det.r6e(sum(term)).as("jsd"))
      .transform(Det.emit(_, "src_a", "src_b"))
  }

  /** q250: GOOD–TURING frequency-smoothing table (round 22 — the
    * unseen-mass estimator the LM-quality family lacked: q109/q183
    * score documents under ML unigram/bigram models, which assign
    * zero to anything unseen; Good–Turing's r* = (r+1)·N_{r+1}/N_r
    * and p0 = N_1/N are the classical corrections, and the N_r table
    * itself is a corpus-health readout — a spam-flooded corpus shows
    * a depleted hapax shelf long before perplexity moves; Gale &
    * Sampson 1995). Grain: TRIGRAM shingles (`TextDedup.withShingles`,
    * the q208/minhash construction) — the fixture's unigram vocabulary
    * is a closed 31-word set where every type occurs hundreds of
    * times (N_r ≡ 0 for r ≤ 10, a degenerate table), while the
    * trigram spectrum is the real long-tail GT exists for (N_1 ≈ 9.4k
    * at sf0.01). Counts-of-counts N_r for r = 1..10 (a fixed spine:
    * absent r emits N_r = 0 with r* = 0 — the table shape is
    * corpus-independent), each r* ONE float division of exact
    * integers, p0 likewise (r6e). Scale: the (shingle, count)
    * aggregate is the one corpus-sized shuffle (q109/q199 contract);
    * counts-of-counts collapses it to ≤ max-cnt rows
    * map-side-combinably; the spine join and both divisions run on
    * ≤ 10 rows + two broadcast 1-row totals. */
  private def q250(s: SparkSession, d: String): DataFrame = {
    val v = graft.operators.TextDedup.withShingles(docs(s, d), "text")
      .select(explode(col("shs")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .transform(Det.pin)
    val cc = v.groupBy(col("cnt").as("r")).agg(count(lit(1)).as("n_r"))
    val tot = v.agg(sum("cnt").as("n_tokens"))
    val n1 = cc.agg(coalesce(sum(when(col("r") === 1, col("n_r"))),
      lit(0L)).as("n1"))
    val spine = s.range(1, 11).select(col("id").as("r"))
    val next = cc.select((col("r") - 1).as("r"), col("n_r").as("nn"))
    spine.join(cc, Seq("r"), "left").join(next, Seq("r"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(n1))
      .select(col("r"),
        coalesce(col("n_r"), lit(0L)).as("n_r"),
        coalesce(col("nn"), lit(0L)).as("n_r_next"),
        Det.r6e(when(coalesce(col("n_r"), lit(0L)) > 0,
            ((col("r") + 1) * coalesce(col("nn"), lit(0L))).cast("double") /
              col("n_r").cast("double"))
          .otherwise(lit(0.0))).as("r_star"),
        Det.r6e(col("n1").cast("double") /
          col("n_tokens").cast("double")).as("p0"))
      .transform(Det.emit(_, "r"))
  }

  /** q251: KNESER–NEY DISCOUNT estimation from bigram
    * counts-of-counts (round 22 — the modified-KN companion to
    * q250's Good–Turing: the three discounts D1/D2/D3+ that
    * interpolated KN subtracts from raw bigram counts are closed-form
    * functions of n1..n4, Chen & Goodman 1999 eq. 26: Y =
    * n1/(n1+2n2), Dk = (k+1) − (k+2)·Y·n_{k+1}/n_k — the standard
    * pre-training readout for "does this corpus have enough n-gram
    * mass to smooth well"): n1..n4 = TRIGRAM types seen exactly
    * 1..4 times (the q250 grain — the fixture's closed unigram/bigram
    * sets leave single-digit counts-of-counts, while the trigram
    * spectrum is the long tail KN discounts are estimated on in
    * practice), each D a fixed chain of float ops over exact
    * integers in ONE token-identical shape on both engines, degenerate
    * denominators (n_k = 0) emit 0.0. Scale: the shingle aggregate is
    * the one corpus-sized shuffle (q183 contract — fan-out ~1 shingle
    * per token, map-side combinable); counts-of-counts collapses to
    * 4 flags folded in a single 1-row aggregate. */
  private def q251(s: SparkSession, d: String): DataFrame = {
    val bg = graft.operators.TextDedup.withShingles(docs(s, d), "text")
      .select(explode(col("shs")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("cnt"))
    val nk = bg.agg(
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("cnt") === 3, 1L).otherwise(0L)).as("n3"),
      sum(when(col("cnt") === 4, 1L).otherwise(0L)).as("n4"))
    val y = col("n1").cast("double") /
      (col("n1") + lit(2L) * col("n2")).cast("double")
    def dk(k: Int, num: Column, den: Column): Column =
      when(den > 0 && col("n1") + lit(2L) * col("n2") > 0,
        lit(k + 1.0) - lit(k + 2.0) * y *
          num.cast("double") / den.cast("double"))
        .otherwise(lit(0.0))
    nk.select(col("n1"), col("n2"), col("n3"), col("n4"),
      Det.r6e(when(col("n1") + lit(2L) * col("n2") > 0, y)
        .otherwise(lit(0.0))).as("y"),
      Det.r6e(dk(0, col("n2"), col("n1"))).as("d1"),
      Det.r6e(dk(1, col("n3"), col("n2"))).as("d2"),
      Det.r6e(dk(2, col("n4"), col("n3"))).as("d3plus"))
  }

  /** q252: VOCABULARY COVERAGE CURVE — cumulative token share of the
    * top-K vocabulary at K = 100/1000/10000 (round 22 — the
    * vocab-size planning readout between q199's Zipf slope and
    * q195's fertility: "how big a word list covers 95% of tokens"
    * decides tokenizer budget and OOV-rate expectations; a corpus
    * whose coverage-at-10k collapses is template-heavy or
    * multilingual beyond its declared mix): rank the TRIGRAM
    * vocabulary (the q250 grain — the fixture's 31-word closed
    * unigram set saturates at every K, telling nothing) by
    * (count desc, gram) — q199's total-order tie-break — and emit,
    * per K, the covered occurrence count and its share of all
    * occurrences (ONE float division of exact longs, r6e). Scale: the
    * (shingle, count) aggregate is the one corpus-sized shuffle;
    * top-10000 is a TakeOrdered; the K spine (3 rows) × top frame
    * product and the rank window are bounded by construction at any
    * corpus size. */
  private def q252(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = graft.operators.TextDedup.withShingles(docs(s, d), "text")
      .select(explode(col("shs")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .transform(Det.pin)
    val tot = v.agg(sum("cnt").as("n_tokens"))
    val top = v.orderBy(col("cnt").desc, col("w").asc).limit(10000)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("w").asc)))
    val ks = s.range(1).select(explode(typedLit(
      Seq(100L, 1000L, 10000L))).as("k"))
    top.crossJoin(broadcast(ks))
      .groupBy("k").agg(
        sum(when(col("rnk") <= col("k"), col("cnt")).otherwise(0L))
          .as("covered_tokens"),
        sum(when(col("rnk") <= col("k"), 1L).otherwise(0L))
          .as("n_types_at_k"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_types_at_k"), col("covered_tokens"),
        Det.r6e(col("covered_tokens").cast("double") /
          col("n_tokens").cast("double")).as("coverage"))
      .transform(Det.emit(_, "k"))
  }

  /** q254: CONDITIONAL BIGRAM ENTROPY H(W₂|W₁) and the information
    * gain H(W₂) − H(W₂|W₁) of the word bigram model (round 22 — the
    * entropy-RATE companion to q135's unigram token entropy and
    * q183's bigram log-probability: how much does knowing the
    * previous word reduce next-word uncertainty — the classic
    * Shannon estimate of a corpus's sequential structure; template
    * spam drives the gain toward H(W₂) while i.i.d. shuffled text
    * drives it to 0): exact bigram counts c₂(w₁,w₂), first-position
    * marginals c₁(w₁) = Σ_{w₂} c₂, N = Σc₂;
    * H(W₂|W₁) = −Σ (c₂/N)·ln(c₂/c₁), H(W₂) over the second-position
    * marginal — every term a fixed float chain over exact longs,
    * summed over the bounded bigram-type frame (r6e). Word grain (not
    * shingles): the fixture's 31-word vocabulary makes the bigram
    * table DENSE, which is exactly the regime conditional entropy is
    * informative in. Scale: the positional bigram aggregate is the
    * one corpus-sized shuffle (q183 contract); all folds run on the
    * ≤ V² bigram-type frame with two broadcast 1-row totals. */
  private def q254(s: SparkSession, d: String): DataFrame = {
    val bg = docs(s, d).select(expr(TOKS).as("ts"))
      .where(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .transform(Det.pin)
    val c1 = bg.groupBy("w1").agg(sum("c2").as("c1"))
    val m2 = bg.groupBy("w2").agg(sum("c2").as("m2"))
    val tot = bg.agg(sum("c2").as("n"))
    val hCond = bg.join(c1, "w1").crossJoin(broadcast(tot))
      .agg((-sum(col("c2").cast("double") / col("n").cast("double") *
        log(col("c2").cast("double") / col("c1").cast("double"))))
        .as("h_cond"))
    val hMarg = m2.crossJoin(broadcast(tot))
      .agg((-sum(col("m2").cast("double") / col("n").cast("double") *
        log(col("m2").cast("double") / col("n").cast("double"))))
        .as("h_marg"))
    val nTypes = bg.agg(count(lit(1)).as("n_bigram_types"))
    nTypes.crossJoin(broadcast(hMarg)).crossJoin(broadcast(hCond))
      .select(col("n_bigram_types"),
        Det.r6e(col("h_marg")).as("h_w2"),
        Det.r6e(col("h_cond")).as("h_w2_given_w1"),
        Det.r6e(col("h_marg") - col("h_cond")).as("info_gain"))
  }

  /** q255: MUTUAL INFORMATION of (lang, source) (round 22 — the
    * information-theoretic association readout between q231's
    * chi-square TEST (is there association) and q248's pairwise JSD
    * (which sources differ): MI in nats says HOW MUCH knowing the
    * source tells about the language — the number a mixture planner
    * compares against the language-entropy budget): exact cell/
    * marginal counts, MI = Σ (c/n)·ln((c·n)/(r·s)) over nonzero
    * cells with the products taken in DOUBLE (round-14 ADVICE
    * overflow lesson: c·n overflows a long at ~1e12-doc corpora —
    * double keeps 53-bit precision on a ratio that feeds a log),
    * plus the two marginal entropies that bound it. Scale: one scan
    * to the (lang, source) cell grain; every fold on the bounded
    * cell frame. */
  private def q255(s: SparkSession, d: String): DataFrame = {
    val cells = docs(s, d).groupBy("lang", "source")
      .agg(count(lit(1)).as("c"))
      .transform(Det.pin)
    val rl = cells.groupBy("lang").agg(sum("c").as("r"))
    val cs = cells.groupBy("source").agg(sum("c").as("s"))
    val tot = cells.agg(sum("c").as("n"))
    val mi = cells.join(rl, "lang").join(cs, "source")
      .crossJoin(broadcast(tot))
      .agg(sum(col("c").cast("double") / col("n").cast("double") *
        log((col("c").cast("double") * col("n").cast("double")) /
          (col("r").cast("double") * col("s").cast("double"))))
        .as("mi"))
    def hOf(df: DataFrame, cnt: String): Column =
      -sum(col(cnt).cast("double") / col("n").cast("double") *
        log(col(cnt).cast("double") / col("n").cast("double")))
    val hl = rl.crossJoin(broadcast(tot)).agg(hOf(rl, "r").as("h_lang"))
    val hs = cs.crossJoin(broadcast(tot)).agg(hOf(cs, "s").as("h_source"))
    mi.crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .select(Det.r6e(col("mi")).as("mi"),
        Det.r6e(col("h_lang")).as("h_lang"),
        Det.r6e(col("h_source")).as("h_source"))
  }

  /** q259: CRAMÉR'S V + Bergsma's bias-corrected V for (lang, source)
    * (round 23 — the normalized EFFECT SIZE the association family
    * lacked: q231's chi-square says whether the association beats
    * noise, q255's MI prices it in nats, but neither is comparable
    * across tables of different size or shape; V ∈ [0,1] is, and the
    * bias-corrected form subtracts the positive bias that makes raw V
    * of pure noise grow with table sparsity): chi-square over the
    * FULL r×c grid — zero cells contribute e = r·s/n, so the grid is
    * the marginals' cross join with observed counts left-joined in,
    * never a corpus-sized frame; V = √(χ²/(n·min(r−1,c−1))),
    * φ²corr = max(0, φ² − (r−1)(c−1)/(n−1)) with the matching
    * r/c corrections (Bergsma 2013). Exact cells/marginals; the χ²
    * fold is a float sum over the bounded grid (r6e, q207 class) with
    * products in DOUBLE (q255 overflow discipline). Scale: one doc
    * scan to the cell grain; everything after is marginal-sized. */
  private def q259(s: SparkSession, d: String): DataFrame = {
    val cells = docs(s, d).groupBy("lang", "source")
      .agg(count(lit(1)).as("c"))
      .transform(Det.pin)
    val rl = cells.groupBy("lang").agg(sum("c").as("r"))
    val cs = cells.groupBy("source").agg(sum("c").as("s"))
    val tot = cells.agg(sum("c").as("n"))
    val dims = rl.agg(count(lit(1)).as("nr"))
      .crossJoin(cs.agg(count(lit(1)).as("nc")))
    val e = col("r").cast("double") * col("s").cast("double") /
      col("n").cast("double")
    val chi = rl.crossJoin(cs)
      .join(cells, Seq("lang", "source"), "left")
      .select(col("r"), col("s"),
        coalesce(col("c"), lit(0L)).as("c"))
      .crossJoin(broadcast(tot))
      .agg(sum((col("c").cast("double") - e) *
        (col("c").cast("double") - e) / e).as("chi2"))
    val nD = col("n").cast("double")
    val phi2 = col("chi2") / nD
    val phi2c = greatest(lit(0.0),
      phi2 - (col("nr") - 1).cast("double") *
        (col("nc") - 1).cast("double") / (nD - lit(1.0)))
    val nrc = col("nr").cast("double") -
      (col("nr") - 1).cast("double") * (col("nr") - 1).cast("double") /
        (nD - lit(1.0))
    val ncc = col("nc").cast("double") -
      (col("nc") - 1).cast("double") * (col("nc") - 1).cast("double") /
        (nD - lit(1.0))
    chi.crossJoin(broadcast(tot)).crossJoin(broadcast(dims))
      .select(col("n").as("n_docs"), col("nr").as("n_langs"),
        col("nc").as("n_sources"),
        Det.r6e(col("chi2")).as("chi2"),
        Det.r6e(sqrt(phi2 /
          least(col("nr") - 1, col("nc") - 1).cast("double")))
          .as("cramers_v"),
        Det.r6e(sqrt(phi2c / least(nrc - lit(1.0), ncc - lit(1.0))))
          .as("cramers_v_corr"))
  }

  /** q261: word-BIGRAM NOVELTY curve by arrival decile (round 23 —
    * the marginal-value readout the dedup family stops short of:
    * q208's Heaps law fits how vocabulary GROWS, q107/q196 ask
    * whether specific content repeats, but "how much of each new
    * slice of the crawl is phrasing we have not seen yet?" is the
    * curve a data buyer reads before paying for the next decile, and
    * its collapse is the sign the source is exhausted): doc_id is the
    * fixture's dense 0..n−1 arrival order (TESTDATA contract), so
    * decile = (doc_id·10) div n is EXACT integer arithmetic — no
    * global rank, nothing to sort; a bigram type's first decile is
    * min(decile) over its occurrences; per decile, the types present,
    * the first-seen types, their ratio, and the cumulative vocabulary.
    * All counts exact; one ratio per decile (r6e). Scale: the
    * (decile, bigram)-distinct aggregate is the one corpus-sized
    * shuffle (q183 contract); the decile rollup is 10 rows. */
  private def q261(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nd = docs(s, d).agg(count(lit(1)).as("ndocs"))
    val present = docs(s, d).select(col("doc_id"), expr(TOKS).as("ts"))
      .where(size(col("ts")) >= 2)
      .crossJoin(broadcast(nd))
      .select(expr("(doc_id * 10) div ndocs").as("decile"),
        explode(expr(
          "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))"))
          .as("p"))
      .select(col("decile"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .distinct()
      .transform(Det.pin)
    val perDec = present.groupBy("decile")
      .agg(count(lit(1)).as("n_types_present"))
    val novel = present.groupBy("w1", "w2")
      .agg(min("decile").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_novel"))
    perDec.join(novel, Seq("decile"), "left")
      .select(col("decile"), col("n_types_present"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_rate",
        Det.r6e(col("n_novel").cast("double") /
          col("n_types_present").cast("double")))
      .withColumn("cum_vocab",
        sum("n_novel").over(Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .transform(Det.emit(_, "decile"))
  }

  /** q265: AUTOCORRELATION SPECTRUM — Pearson r at lags 1..7 of the
    * daily event counts per type (round 23 — q245's one-number lag-1
    * readout widened to the week: the lag-7 coefficient IS the weekly
    * seasonality signal (its spike is what q266's η² explains), and
    * the decay shape across lags 1..7 separates bursty-with-memory
    * traffic from a pure weekly cycle): the observed-day series gets
    * a per-type row_number spine, pairs (t, t−k) form by an exact
    * index join against a broadcast 7-row lag spine, and each (type,
    * lag) cell folds the q245 moment sums — all in decimal(38,0)
    * (the q240/q245 overflow discipline), Pearson r one float chain,
    * zero variance on either side → 0.0. Scale: one scan to the
    * bounded (type, day) frame; the ×7 pair fan-out and every fold
    * stay on that frame. */
  private def q265(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    def dm(c: Column) = c.cast(dec)
    val w = Window.partitionBy("event_type").orderBy("day")
    val daily = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("i", row_number().over(w).cast("long"))
      .transform(Det.pin)
    val lags = s.range(1, 8).select(col("id").as("lag_k"))
    val a = daily.select(col("event_type"), col("i"), col("c").as("x"))
    val b = daily.select(col("event_type"), col("i").as("j"),
      col("c").as("y"))
    val np = dm(col("n_pairs"))
    a.crossJoin(broadcast(lags))
      .withColumn("j", col("i") - col("lag_k"))
      .join(b, Seq("event_type", "j"))
      .groupBy("event_type", "lag_k")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(dm(col("x"))).as("sx"), sum(dm(col("y"))).as("sy"),
        sum(dm(col("x")) * dm(col("x"))).as("sxx"),
        sum(dm(col("y")) * dm(col("y"))).as("syy"),
        sum(dm(col("x")) * dm(col("y"))).as("sxy"))
      .select(col("event_type"), col("lag_k"), col("n_pairs"),
        Det.r6e(when(
          (np * col("sxx") - col("sx") * col("sx") > 0) &&
            (np * col("syy") - col("sy") * col("sy") > 0),
          (np * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((np * col("sxx") - col("sx") * col("sx")).cast("double") *
              (np * col("syy") - col("sy") * col("sy")).cast("double")))
          .otherwise(lit(0.0))).as("acf"))
      .transform(Det.emit(_, "event_type", "lag_k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q254_bigram_cond_entropy" -> q254,
    "q255_mi_lang_source" -> q255,
    "q259_cramers_v" -> q259,
    "q261_ngram_novelty" -> q261,
    "q265_acf_spectrum" -> q265,
    "q250_good_turing" -> q250,
    "q251_kn_discounts" -> q251,
    "q252_vocab_coverage" -> q252,
    "q248_jsd_langmix" -> q248,
    "q244_theil_index" -> q244,
    "q245_daily_autocorr" -> q245,
    "q246_hhi_concentration" -> q246,
    "q247_cohens_d" -> q247,
    "q240_spearman_drift" -> q240,
    "q241_pii_screen" -> q241,
    "q242_vocab_overlap" -> q242,
    "q243_lang_entropy" -> q243,
    "q119_stratified_sample" -> q119,
    "q192_dsir_weights" -> q192,
    "q194_expectations_report" -> q194,
    "q120_heavy_hitters" -> q120,
    "q121_bpe_pairs" -> q121,
    "q122_minhash_est" -> q122,
    "q123_dup_components" -> q123,
    "q124_edit_neardup" -> q124,
    "q127_repeated_ngrams" -> q127,
    "q128_pmi_collocations" -> q128,
    "q130_inverted_index" -> q130,
    "q131_outlier_zscore" -> q131,
    "q133_decile_stats" -> q133,
    "q134_weighted_sample" -> q134,
    "q135_token_entropy" -> q135,
    "q138_column_profile" -> q138,
    "q142_source_reputation" -> q142,
    "q143_minhash_calibration" -> q143,
    "q157_histogram_quantiles" -> q157,
    "q158_sequence_packing" -> q158,
    "q159_mixture_sample" -> q159,
    "q160_winsorized_stats" -> q160,
    "q172_epoch_shuffle" -> q172,
    "q176_temperature_mix" -> q176,
    "q177_cms_freq" -> q177,
    "q179_bpe_apply" -> q179,
    "q180_dedup_ensemble" -> q180,
    "q182_dup_weights" -> q182,
    "q190_bpe_train" -> q190,
    "q195_token_fertility" -> q195,
    "q198_simhash_calibration" -> q198,
    "q199_zipf_fit" -> q199,
    "q208_heaps_law" -> q208,
    "q209_lsh_planner" -> q209,
    "q200_psi_drift" -> q200,
    "q201_survivorship" -> q201,
    "q202_dup_graph_profile" -> q202,
    "q204_effective_tokens" -> q204,
    "q211_leakage_split" -> q211,
    "q214_corr_matrix" -> q214,
    "q217_join_size_profile" -> q217,
    "q218_pareto_cells" -> q218,
    "q220_weighted_median" -> q220,
    "q221_ks_drift" -> q221,
    "q222_benford" -> q222,
    "q223_rfm_segments" -> q223,
    "q224_lsh_banded" -> q224,
    "q227_budget_waterfill" -> q227,
    "q228_mannwhitney_drift" -> q228,
    "q229_gini_concentration" -> q229,
    "q230_calibration_deciles" -> q230,
    "q231_chisq_independence" -> q231,
    "q232_bootstrap_ci" -> q232,
    "q233_burstiness" -> q233)

  /** Shared DuckDB CTE chain reproducing minhashSignatures +
    * lshCandidatePairs (same constants as the q86/q87 oracles). */
  private[queries] val SIG_CTES =
    s"""t AS (SELECT doc_id, $TS AS ts FROM documents),
        sh AS (SELECT doc_id,
                      unnest(list_transform(range(len(ts) - 2),
                        i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS s
               FROM t WHERE len(ts) >= 3),
        hs AS (SELECT doc_id,
                      CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 1000000007 AS h
               FROM sh),
        x AS (SELECT doc_id, k, ((2*k + 1) * h + 7 + 13*k) % 1000000007 AS v
              FROM hs, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) seeds(k)),
        sig AS (SELECT doc_id, k, min(v) AS sig FROM x GROUP BY doc_id, k),
        pr AS (SELECT DISTINCT s1.doc_id AS a_id, s2.doc_id AS b_id
               FROM sig s1 JOIN sig s2
                 ON s1.k = s2.k AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id)"""

  /** q179's oracle: the 8 merge passes unrolled as generated lead/lag
    * WINDOW stages over (doc, word, pos, sym) rows — relational
    * match-and-renumber (merge the match, drop the consumed right
    * symbol, renumber), independent of the Spark side's sequential
    * array fold. Disjointness of same-pass matches (p1 ≠ p2, see
    * BPE_MERGES) is what makes the single lead/lag sweep exact. */
  private val bpeOracle: String = {
    val stages = BPE_MERGES.zipWithIndex.map { case ((p1, p2), ix) =>
      val i = ix + 1
      s"""s$i AS (SELECT doc_id, wi,
               row_number() OVER (PARTITION BY doc_id, wi ORDER BY pos) AS pos,
               sym
             FROM (SELECT doc_id, wi, pos,
                     CASE WHEN sym = '$p1' AND lead(sym) OVER w = '$p2'
                          THEN '$p1$p2' ELSE sym END AS sym,
                     CASE WHEN sym = '$p2' AND lag(sym) OVER w = '$p1'
                          THEN 1 ELSE 0 END AS drop_
                   FROM s${i - 1}
                   WINDOW w AS (PARTITION BY doc_id, wi ORDER BY pos))
             WHERE drop_ = 0)"""
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, $TS AS ts FROM documents),
        wds AS (SELECT doc_id, unnest(range(len(ts))) AS wi, unnest(ts) AS w
                FROM t WHERE len(ts) >= 1),
        s0 AS (SELECT doc_id, wi,
                unnest(range(len(string_split(w, '')))) + 1 AS pos,
                unnest(string_split(w, '')) AS sym
               FROM wds),
        $stages,
        n0 AS (SELECT doc_id, CAST(sum(len(w)) AS BIGINT) AS n_sym0
               FROM wds GROUP BY doc_id),
        n1 AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS n_sym
               FROM s${BPE_MERGES.size} GROUP BY doc_id)
        SELECT doc_id, n_sym0, n_sym,
               round(CAST(n_sym AS DOUBLE) / n_sym0 + ${Det.E4}, 4) AS ratio
        FROM n0 JOIN n1 USING (doc_id)
        ORDER BY doc_id"""
  }

  val oracles: Map[String, String] = Map(
    // q254: positional word-bigram build; every entropy term the
    // identical float chain over exact longs (r6e on emitted sums)
    "q254_bigram_cond_entropy" ->
      s"""WITH bg AS (SELECT w1, w2, CAST(count(1) AS BIGINT) AS c2
                      FROM (SELECT unnest(list_transform(range(len(ts) - 1),
                                     i -> {'w1': ts[i+1], 'w2': ts[i+2]})) AS p
                            FROM (SELECT $TS AS ts FROM documents)
                            WHERE len(ts) >= 2)
                      CROSS JOIN LATERAL (SELECT p['w1'] AS w1, p['w2'] AS w2)
                      GROUP BY w1, w2),
          c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
                 FROM bg GROUP BY w1),
          m2 AS (SELECT w2, CAST(sum(c2) AS BIGINT) AS m2
                 FROM bg GROUP BY w2),
          tot AS (SELECT CAST(sum(c2) AS BIGINT) AS n FROM bg),
          hc AS (SELECT -sum(CAST(bg.c2 AS DOUBLE) / CAST(tot.n AS DOUBLE)
                        * ln(CAST(bg.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)))
                        AS h_cond
                 FROM bg JOIN c1 USING (w1) CROSS JOIN tot),
          hm AS (SELECT -sum(CAST(m2.m2 AS DOUBLE) / CAST(tot.n AS DOUBLE)
                        * ln(CAST(m2.m2 AS DOUBLE) / CAST(tot.n AS DOUBLE)))
                        AS h_marg
                 FROM m2 CROSS JOIN tot),
          nt AS (SELECT CAST(count(1) AS BIGINT) AS n_bigram_types FROM bg)
          SELECT nt.n_bigram_types,
                 round(hm.h_marg + ${Det.E6}, 6) AS h_w2,
                 round(hc.h_cond + ${Det.E6}, 6) AS h_w2_given_w1,
                 round(hm.h_marg - hc.h_cond + ${Det.E6}, 6) AS info_gain
          FROM nt CROSS JOIN hm CROSS JOIN hc""",
    // q255: exact cells/marginals; products taken in DOUBLE before
    // the divide (the q245 overflow discipline applied to a log arg)
    "q255_mi_lang_source" ->
      s"""WITH cells AS (SELECT lang, source, CAST(count(1) AS BIGINT) AS c
                         FROM documents GROUP BY lang, source),
          rl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS r
                 FROM cells GROUP BY lang),
          cs AS (SELECT source, CAST(sum(c) AS BIGINT) AS s
                 FROM cells GROUP BY source),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
          mi AS (SELECT sum(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                       * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                            / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE))))
                        AS mi
                 FROM cells JOIN rl USING (lang) JOIN cs USING (source)
                      CROSS JOIN tot),
          hl AS (SELECT -sum(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
                        * ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)))
                        AS h_lang FROM rl CROSS JOIN tot),
          hs AS (SELECT -sum(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                        * ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                        AS h_source FROM cs CROSS JOIN tot)
          SELECT round(mi.mi + ${Det.E6}, 6) AS mi,
                 round(hl.h_lang + ${Det.E6}, 6) AS h_lang,
                 round(hs.h_source + ${Det.E6}, 6) AS h_source
          FROM mi CROSS JOIN hl CROSS JOIN hs""",
    // q259: chi-square over the FULL marginal cross (zero cells
    // included); V / bias-corrected V one float chain each (r6e)
    "q259_cramers_v" ->
      s"""WITH cells AS (SELECT lang, source,
                                CAST(count(1) AS BIGINT) AS c
                         FROM documents GROUP BY lang, source),
          rl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS r
                 FROM cells GROUP BY lang),
          cs AS (SELECT source, CAST(sum(c) AS BIGINT) AS s
                 FROM cells GROUP BY source),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
          dims AS (SELECT (SELECT CAST(count(1) AS BIGINT) FROM rl)
                            AS nr,
                          (SELECT CAST(count(1) AS BIGINT) FROM cs)
                            AS nc),
          grid AS (SELECT rl.r, cs.s,
                          CAST(coalesce(cells.c, 0) AS BIGINT) AS c
                   FROM rl CROSS JOIN cs
                   LEFT JOIN cells ON cells.lang = rl.lang
                                  AND cells.source = cs.source),
          chi AS (SELECT sum((CAST(c AS DOUBLE)
                              - CAST(r AS DOUBLE) * CAST(s AS DOUBLE)
                                / CAST(n AS DOUBLE))
                             * (CAST(c AS DOUBLE)
                                - CAST(r AS DOUBLE) * CAST(s AS DOUBLE)
                                  / CAST(n AS DOUBLE))
                             / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE)
                                / CAST(n AS DOUBLE))) AS chi2
                  FROM grid CROSS JOIN tot)
          SELECT n AS n_docs, nr AS n_langs, nc AS n_sources,
                 round(chi2 + ${Det.E6}, 6) AS chi2,
                 round(sqrt(chi2 / CAST(n AS DOUBLE)
                            / CAST(least(nr - 1, nc - 1) AS DOUBLE))
                       + ${Det.E6}, 6) AS cramers_v,
                 round(sqrt(greatest(0.0,
                              chi2 / CAST(n AS DOUBLE)
                              - CAST(nr - 1 AS DOUBLE)
                                * CAST(nc - 1 AS DOUBLE)
                                / (CAST(n AS DOUBLE) - 1.0))
                            / least(CAST(nr AS DOUBLE)
                                    - CAST(nr - 1 AS DOUBLE)
                                      * CAST(nr - 1 AS DOUBLE)
                                      / (CAST(n AS DOUBLE) - 1.0)
                                    - 1.0,
                                    CAST(nc AS DOUBLE)
                                    - CAST(nc - 1 AS DOUBLE)
                                      * CAST(nc - 1 AS DOUBLE)
                                      / (CAST(n AS DOUBLE) - 1.0)
                                    - 1.0))
                       + ${Det.E6}, 6) AS cramers_v_corr
          FROM chi CROSS JOIN tot CROSS JOIN dims""",
    // q265: observed-day row_number spine, exact index join against
    // the 7-row lag spine, q245 moment sums in HUGEINT per cell
    "q265_acf_spectrum" ->
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                                CAST(count(1) AS BIGINT) AS c
                         FROM events GROUP BY 1, 2),
          idx AS (SELECT event_type, c,
                         CAST(row_number() OVER (PARTITION BY event_type
                           ORDER BY day) AS BIGINT) AS i
                  FROM daily),
          lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag_k),
          p AS (SELECT a.event_type, l.lag_k,
                       a.c AS x, b.c AS y
                FROM idx a CROSS JOIN lags l
                JOIN idx b ON b.event_type = a.event_type
                          AND b.i = a.i - l.lag_k),
          m AS (SELECT event_type, lag_k,
                       CAST(count(1) AS BIGINT) AS n_pairs,
                       sum(CAST(x AS HUGEINT)) AS sx,
                       sum(CAST(y AS HUGEINT)) AS sy,
                       sum(CAST(x AS HUGEINT) * x) AS sxx,
                       sum(CAST(y AS HUGEINT) * y) AS syy,
                       sum(CAST(x AS HUGEINT) * y) AS sxy
                FROM p GROUP BY 1, 2)
          SELECT event_type, lag_k, n_pairs,
                 round(CASE WHEN n_pairs * sxx - sx * sx > 0
                             AND n_pairs * syy - sy * sy > 0
                       THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                            / sqrt(CAST(n_pairs * sxx - sx * sx
                                        AS DOUBLE)
                                   * CAST(n_pairs * syy - sy * sy
                                          AS DOUBLE))
                       ELSE 0.0 END + ${Det.E6}, 6) AS acf
          FROM m ORDER BY event_type, lag_k""",
    // q261: exact arithmetic decile on the dense doc_id spine; the
    // q254 positional-bigram build; all counts exact, one ratio/row
    "q261_ngram_novelty" ->
      s"""WITH nd AS (SELECT CAST(count(1) AS BIGINT) AS ndocs
                      FROM documents),
          present AS (SELECT DISTINCT (doc_id * 10) // ndocs AS decile,
                             p['w1'] AS w1, p['w2'] AS w2
                      FROM (SELECT doc_id,
                                   unnest(list_transform(
                                     range(len(ts) - 1),
                                     i -> {'w1': ts[i+1],
                                           'w2': ts[i+2]})) AS p
                            FROM (SELECT doc_id, $TS AS ts
                                  FROM documents)
                            WHERE len(ts) >= 2)
                      CROSS JOIN nd),
          per_dec AS (SELECT decile,
                             CAST(count(1) AS BIGINT) AS n_types_present
                      FROM present GROUP BY decile),
          novel AS (SELECT decile, CAST(count(1) AS BIGINT) AS n_novel
                    FROM (SELECT min(decile) AS decile
                          FROM present GROUP BY w1, w2)
                    GROUP BY decile)
          SELECT p.decile, p.n_types_present,
                 CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
                 round(CAST(coalesce(n.n_novel, 0) AS DOUBLE)
                       / CAST(p.n_types_present AS DOUBLE)
                       + ${Det.E6}, 6) AS novelty_rate,
                 CAST(sum(coalesce(n.n_novel, 0))
                      OVER (ORDER BY p.decile ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_vocab
          FROM per_dec p LEFT JOIN novel n USING (decile)
          ORDER BY p.decile""",
    // q250: the q208-style trigram shingle build; exact integer N_r
    // table on a fixed 1..10 spine; each r* and p0 one float division
    // of exact integers (r6e)
    "q250_good_turing" ->
      s"""WITH v AS (SELECT w, CAST(count(1) AS BIGINT) AS cnt
                     FROM (SELECT unnest(list_transform(range(len(ts) - 2),
                                    i -> ts[i+1] || ' ' || ts[i+2] || ' ' ||
                                         ts[i+3])) AS w
                           FROM (SELECT $TS AS ts FROM documents)
                           WHERE len(ts) >= 3)
                     GROUP BY w),
          cc AS (SELECT cnt AS r, CAST(count(1) AS BIGINT) AS n_r
                 FROM v GROUP BY cnt),
          tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM v),
          n1 AS (SELECT CAST(coalesce(sum(CASE WHEN r = 1 THEN n_r END),
                        0) AS BIGINT) AS n1 FROM cc),
          spine AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS r)
          SELECT s.r,
                 CAST(coalesce(c.n_r, 0) AS BIGINT) AS n_r,
                 CAST(coalesce(cn.n_r, 0) AS BIGINT) AS n_r_next,
                 round(CASE WHEN coalesce(c.n_r, 0) > 0
                       THEN CAST((s.r + 1) * coalesce(cn.n_r, 0) AS DOUBLE)
                            / CAST(c.n_r AS DOUBLE)
                       ELSE 0.0 END + ${Det.E6}, 6) AS r_star,
                 round(CAST(n1.n1 AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE)
                       + ${Det.E6}, 6) AS p0
          FROM spine s LEFT JOIN cc c ON c.r = s.r
               LEFT JOIN cc cn ON cn.r = s.r + 1
               CROSS JOIN tot CROSS JOIN n1
          ORDER BY s.r""",
    // q251: the q208-style trigram shingle build; n1..n4 exact
    // flags in one fold; Y and each Dk the identical float-op chain
    "q251_kn_discounts" ->
      s"""WITH bg AS (SELECT g, CAST(count(1) AS BIGINT) AS cnt
                      FROM (SELECT unnest(list_transform(range(len(ts) - 2),
                                     i -> ts[i+1] || ' ' || ts[i+2] || ' ' ||
                                          ts[i+3])) AS g
                            FROM (SELECT $TS AS ts FROM documents)
                            WHERE len(ts) >= 3)
                      GROUP BY g),
          nk AS (SELECT
                   CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                   CAST(sum(CASE WHEN cnt = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                   CAST(sum(CASE WHEN cnt = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
                 FROM bg)
          SELECT n1, n2, n3, n4,
                 round(CASE WHEN n1 + 2 * n2 > 0
                       THEN CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE)
                       ELSE 0.0 END + ${Det.E6}, 6) AS y,
                 round(CASE WHEN n1 > 0 AND n1 + 2 * n2 > 0
                       THEN 1.0 - 2.0 * (CAST(n1 AS DOUBLE)
                              / CAST(n1 + 2 * n2 AS DOUBLE))
                            * CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       ELSE 0.0 END + ${Det.E6}, 6) AS d1,
                 round(CASE WHEN n2 > 0 AND n1 + 2 * n2 > 0
                       THEN 2.0 - 3.0 * (CAST(n1 AS DOUBLE)
                              / CAST(n1 + 2 * n2 AS DOUBLE))
                            * CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE)
                       ELSE 0.0 END + ${Det.E6}, 6) AS d2,
                 round(CASE WHEN n3 > 0 AND n1 + 2 * n2 > 0
                       THEN 3.0 - 4.0 * (CAST(n1 AS DOUBLE)
                              / CAST(n1 + 2 * n2 AS DOUBLE))
                            * CAST(n4 AS DOUBLE) / CAST(n3 AS DOUBLE)
                       ELSE 0.0 END + ${Det.E6}, 6) AS d3plus
          FROM nk""",
    // q252: the q208-style trigram shingle build; q199's
    // (cnt desc, w) total-order rank; covered counts exact longs, the
    // share one float division (r6e)
    "q252_vocab_coverage" ->
      s"""WITH v AS (SELECT w, CAST(count(1) AS BIGINT) AS cnt
                     FROM (SELECT unnest(list_transform(range(len(ts) - 2),
                                    i -> ts[i+1] || ' ' || ts[i+2] || ' ' ||
                                         ts[i+3])) AS w
                           FROM (SELECT $TS AS ts FROM documents)
                           WHERE len(ts) >= 3)
                     GROUP BY w),
          tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM v),
          top AS (SELECT cnt, row_number() OVER (
                    ORDER BY cnt DESC, w ASC) AS rnk
                  FROM v ORDER BY cnt DESC, w ASC LIMIT 10000),
          ks AS (SELECT CAST(unnest([100, 1000, 10000]) AS BIGINT) AS k),
          cov AS (SELECT k,
                    CAST(sum(CASE WHEN rnk <= k THEN cnt ELSE 0 END)
                         AS BIGINT) AS covered_tokens,
                    CAST(sum(CASE WHEN rnk <= k THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_types_at_k
                  FROM top CROSS JOIN ks GROUP BY k)
          SELECT c.k, c.n_types_at_k, c.covered_tokens,
                 round(CAST(c.covered_tokens AS DOUBLE)
                       / CAST(t.n_tokens AS DOUBLE) + ${Det.E6}, 6) AS coverage
          FROM cov c CROSS JOIN tot t ORDER BY c.k""",
    // q240: the identical 2·midrank construction and moment arithmetic
    // (HUGEINT ≡ decimal(38,0) on this range), op order mirrored
    "q240_spearman_drift" ->
      s"""WITH b AS (SELECT source, n_chars AS x,
                            CAST(len($TS) AS BIGINT) AS y
                     FROM documents),
          gx AS (SELECT source, x, CAST(count(1) AS BIGINT) AS c
                 FROM b GROUP BY 1, 2),
          rx AS (SELECT source, x,
                        2 * (CAST(sum(c) OVER (PARTITION BY source
                               ORDER BY x ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS BIGINT)
                             - c) + c + 1 AS r2x
                 FROM gx),
          gy AS (SELECT source, y, CAST(count(1) AS BIGINT) AS c
                 FROM b GROUP BY 1, 2),
          ry AS (SELECT source, y,
                        2 * (CAST(sum(c) OVER (PARTITION BY source
                               ORDER BY y ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS BIGINT)
                             - c) + c + 1 AS r2y
                 FROM gy),
          j AS (SELECT b.source AS source, r2x, r2y
                FROM b
                JOIN rx ON b.source = rx.source AND b.x = rx.x
                JOIN ry ON b.source = ry.source AND b.y = ry.y),
          m AS (SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
                       sum(CAST(r2x AS HUGEINT)) AS sx,
                       sum(CAST(r2y AS HUGEINT)) AS sy,
                       sum(CAST(r2x AS HUGEINT) * CAST(r2x AS HUGEINT))
                         AS sxx,
                       sum(CAST(r2y AS HUGEINT) * CAST(r2y AS HUGEINT))
                         AS syy,
                       sum(CAST(r2x AS HUGEINT) * CAST(r2y AS HUGEINT))
                         AS sxy
                FROM j GROUP BY source)
          SELECT source, n_docs,
                 CASE WHEN CAST(n_docs AS HUGEINT) * sxx - sx * sx > 0
                       AND CAST(n_docs AS HUGEINT) * syy - sy * sy > 0
                 THEN round(
                   CAST(CAST(n_docs AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                   / sqrt(
                     CAST(CAST(n_docs AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                     * CAST(CAST(n_docs AS HUGEINT) * syy - sy * sy
                         AS DOUBLE)) + ${Det.E6}, 6)
                 ELSE 0.0 END AS rho
          FROM m ORDER BY source""",
    // q248: dense grid shares; p>0 guards apply the p·ln p → 0 limit
    // explicitly on both engines
    "q248_jsd_langmix" ->
      s"""WITH cells AS (SELECT source, lang, CAST(count(1) AS BIGINT) AS c
                         FROM documents GROUP BY 1, 2),
          totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
                     FROM cells GROUP BY 1),
          langs AS (SELECT DISTINCT lang FROM cells),
          grid AS (SELECT t.source, l.lang,
                          CAST(coalesce(c.c, 0) AS DOUBLE)
                            / CAST(t.n AS DOUBLE) AS p
                   FROM totals t CROSS JOIN langs l
                   LEFT JOIN cells c
                     ON c.source = t.source AND c.lang = l.lang)
          SELECT a.source AS src_a, b.source AS src_b,
                 round(sum(
                   CASE WHEN a.p > 0
                     THEN a.p / 2 * ln(2 * a.p / (a.p + b.p))
                     ELSE 0.0 END +
                   CASE WHEN b.p > 0
                     THEN b.p / 2 * ln(2 * b.p / (a.p + b.p))
                     ELSE 0.0 END) + ${Det.E6}, 6) AS jsd
          FROM grid a JOIN grid b
            ON a.lang = b.lang AND a.source < b.source
          GROUP BY 1, 2 ORDER BY 1, 2""",
    // q244: three exact sums; the x·ln x fold is the one float term
    "q244_theil_index" ->
      s"""SELECT lang,
                 CAST(count(1) AS BIGINT) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars,
                 round(sum(CAST(n_chars AS DOUBLE) * ln(n_chars))
                         / CAST(sum(n_chars) AS DOUBLE)
                       - ln(CAST(sum(n_chars) AS DOUBLE) / count(1))
                       + ${Det.E6}, 6) AS theil_t
          FROM documents WHERE n_chars > 0
          GROUP BY lang ORDER BY lang""",
    // q245: exact integer moment sums, the q240 discipline; lag(1)
    // over observed days — the same gap rule both engines apply
    "q245_daily_autocorr" ->
      s"""WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(1) AS BIGINT) AS c
            FROM events GROUP BY 1, 2),
          lagged AS (
            SELECT event_type, c,
                   lag(c) OVER (PARTITION BY event_type ORDER BY day)
                     AS prev
            FROM daily),
          m AS (SELECT event_type,
                       CAST(count(1) AS BIGINT) AS n_pairs,
                       sum(CAST(c AS HUGEINT)) AS sx,
                       sum(CAST(prev AS HUGEINT)) AS sy,
                       sum(CAST(c AS HUGEINT) * c) AS sxx,
                       sum(CAST(prev AS HUGEINT) * prev) AS syy,
                       sum(CAST(c AS HUGEINT) * prev) AS sxy
                FROM lagged WHERE prev IS NOT NULL
                GROUP BY event_type)
          SELECT event_type, n_pairs,
                 CASE WHEN CAST(n_pairs AS HUGEINT) * sxx - sx * sx > 0
                       AND CAST(n_pairs AS HUGEINT) * syy - sy * sy > 0
                 THEN round(
                   CAST(CAST(n_pairs AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                   / sqrt(
                     CAST(CAST(n_pairs AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                     * CAST(CAST(n_pairs AS HUGEINT) * syy - sy * sy
                         AS DOUBLE)) + ${Det.E6}, 6)
                 ELSE round(0.0 + ${Det.E6}, 6) END AS autocorr
          FROM m ORDER BY event_type""",
    // q246: exact integer cells; HHI's one float division
    "q246_hhi_concentration" ->
      s"""WITH g AS (SELECT lang, source, CAST(count(1) AS BIGINT) AS c
                     FROM documents GROUP BY 1, 2)
          SELECT lang,
                 CAST(sum(c) AS BIGINT) AS n_docs,
                 CAST(count(1) AS BIGINT) AS n_sources,
                 round(CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE)
                       / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
                       + ${Det.E6}, 6) AS hhi,
                 round((CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
                       / CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE)
                       + ${Det.E6}, 6) AS effective_sources
          FROM g GROUP BY lang ORDER BY lang""",
    // q247: textbook pooled-variance d from exact moment triples
    "q247_cohens_d" ->
      s"""WITH m AS (SELECT source,
                            CAST(count(1) AS BIGINT) AS n,
                            sum(CAST(n_chars AS HUGEINT)) AS sx,
                            sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
                     FROM documents GROUP BY source),
          p AS (SELECT a.source AS src_a, b.source AS src_b,
                       a.n AS n_a, b.n AS n_b,
                       a.sx AS sx_a, b.sx AS sx_b,
                       a.sxx AS sxx_a, b.sxx AS sxx_b
                FROM m a JOIN m b ON a.source < b.source),
          v AS (SELECT src_a, src_b, n_a, n_b, sx_a, sx_b,
                       ((CAST(sxx_a AS DOUBLE)
                          - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)
                            / CAST(n_a AS DOUBLE))
                        + (CAST(sxx_b AS DOUBLE)
                          - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)
                            / CAST(n_b AS DOUBLE)))
                       / CAST(n_a + n_b - 2 AS DOUBLE) AS sp2
                FROM p)
          SELECT src_a, src_b, n_a, n_b,
                 CASE WHEN n_a + n_b > 2 AND sp2 > 0
                 THEN round((CAST(sx_a AS DOUBLE) / n_a
                             - CAST(sx_b AS DOUBLE) / n_b) / sqrt(sp2)
                            + ${Det.E6}, 6)
                 ELSE round(0.0 + ${Det.E6}, 6) END AS cohens_d
          FROM v ORDER BY src_a, src_b""",
    // q242: identical top-300 total order (c DESC, w ASC) both sides
    "q242_vocab_overlap" ->
      s"""WITH t AS (SELECT source, w, CAST(count(1) AS BIGINT) AS c
                     FROM (SELECT source, unnest($TS) AS w
                           FROM documents)
                     GROUP BY 1, 2),
          top AS (SELECT source, w FROM (
                    SELECT source, w,
                           row_number() OVER (PARTITION BY source
                             ORDER BY c DESC, w ASC) AS rn
                    FROM t)
                  WHERE rn <= 300),
          sz AS (SELECT source, CAST(count(1) AS BIGINT) AS n
                 FROM top GROUP BY 1),
          p AS (SELECT a.source AS src_a, b.source AS src_b,
                       CAST(count(1) AS BIGINT) AS n_shared
                FROM top a JOIN top b
                  ON a.w = b.w AND a.source < b.source
                GROUP BY 1, 2)
          SELECT src_a, src_b, n_shared,
                 sa.n AS na, sb.n AS nb,
                 round(CAST(n_shared AS DOUBLE)
                       / CAST(sa.n + sb.n - n_shared AS DOUBLE)
                       + ${Det.E6}, 6) AS jaccard
          FROM p
          JOIN sz sa ON p.src_a = sa.source
          JOIN sz sb ON p.src_b = sb.source
          ORDER BY src_a, src_b""",
    // q243: the q135 one-pass entropy identity at the source grain
    "q243_lang_entropy" ->
      s"""WITH g AS (SELECT source, lang, CAST(count(1) AS BIGINT) AS c
                     FROM documents GROUP BY 1, 2)
          SELECT source,
                 CAST(sum(c) AS BIGINT) AS n_docs,
                 CAST(count(1) AS BIGINT) AS n_langs,
                 round(ln(sum(c)) - sum(CAST(c AS DOUBLE) * ln(c))
                         / sum(c) + ${Det.E6}, 6) AS lang_entropy,
                 round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                       + ${Det.E6}, 6) AS top_lang_share
          FROM g GROUP BY source ORDER BY source""",
    // q241: the same three portable regexes (no backslash escapes —
    // both engines receive the identical pattern text)
    "q241_pii_screen" ->
      s"""WITH h AS (
             SELECT source, 'email' AS cls,
                    CAST(len(regexp_extract_all(text,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'))
                      AS BIGINT) AS hits
             FROM documents
             UNION ALL
             SELECT source, 'digit_run7' AS cls,
                    CAST(len(regexp_extract_all(text, '[0-9]{7,}'))
                      AS BIGINT) AS hits
             FROM documents
             UNION ALL
             SELECT source, 'url' AS cls,
                    CAST(len(regexp_extract_all(text, 'https?://[^ ]+'))
                      AS BIGINT) AS hits
             FROM documents)
          SELECT source, cls AS pii_class,
                 CAST(count(1) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_affected,
                 CAST(sum(hits) AS BIGINT) AS n_hits,
                 round(CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
                         AS DOUBLE) / CAST(count(1) AS DOUBLE)
                       + ${Det.E6}, 6) AS affected_share
          FROM h GROUP BY 1, 2 ORDER BY source, pii_class""",
    "q200_psi_drift" ->
      """WITH o AS (SELECT o_totalprice AS p,
                           o_orderdate < TIMESTAMP '1998-01-01' AS isref
                    FROM orders),
          mm AS (SELECT min(p) AS mn, max(p) AS mx FROM o),
          binned AS (SELECT CAST(least(floor((p - mn) / ((mx - mn) / 10.0)), 9.0) AS INT) AS bin,
                            isref
                     FROM o, mm),
          counts AS (SELECT bin,
                       CAST(sum(CASE WHEN isref THEN 1 ELSE 0 END) AS BIGINT) AS ref_cnt,
                       CAST(sum(CASE WHEN NOT isref THEN 1 ELSE 0 END) AS BIGINT) AS cur_cnt
                     FROM binned GROUP BY bin),
          tot AS (SELECT CAST(sum(ref_cnt) AS BIGINT) AS nr,
                         CAST(sum(cur_cnt) AS BIGINT) AS nc FROM counts),
          dense AS (SELECT CAST(r.b AS INT) AS bin,
                           coalesce(ref_cnt, 0) AS ref_cnt,
                           coalesce(cur_cnt, 0) AS cur_cnt
                    FROM range(0, 10) r(b) LEFT JOIN counts ON counts.bin = r.b)
          SELECT bin, ref_cnt, cur_cnt,
                 round((ref_cnt + 0.5) / (nr + 5.0) + 0.0000000123, 6) AS ref_share,
                 round((cur_cnt + 0.5) / (nc + 5.0) + 0.0000000123, 6) AS cur_share,
                 round(((ref_cnt + 0.5) / (nr + 5.0) - (cur_cnt + 0.5) / (nc + 5.0)) *
                       ln(((ref_cnt + 0.5) / (nr + 5.0)) / ((cur_cnt + 0.5) / (nc + 5.0)))
                       + 0.0000000123, 6) AS psi_contrib
          FROM dense, tot ORDER BY bin""",
    "q204_effective_tokens" ->
      s"""WITH RECURSIVE $SIG_CTES,
          e AS (SELECT a_id AS src, b_id AS dst FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
          reach(id, lbl) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM e)
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id),
          cl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
          cs AS (SELECT cluster, count(1) AS csize FROM cl GROUP BY cluster),
          wt AS (SELECT cl.id AS doc_id, 1.0 / cs.csize AS w
                 FROM cl JOIN cs ON cs.cluster = cl.cluster),
          tk AS (SELECT d.doc_id, d.source, CAST(len($TS) AS BIGINT) AS nt,
                        coalesce(wt.w, 1.0) AS w
                 FROM documents d LEFT JOIN wt ON wt.doc_id = d.doc_id),
          ag AS (SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
                        CAST(sum(nt) AS BIGINT) AS raw_tokens,
                        round(sum(nt * w) + ${Det.E4}, 4) AS effective_tokens
                 FROM tk GROUP BY source)
          SELECT source, n_docs, raw_tokens, effective_tokens,
                 round(effective_tokens / raw_tokens + ${Det.E4}, 4) AS dedup_ratio
          FROM ag ORDER BY source""",
    "q202_dup_graph_profile" ->
      s"""WITH RECURSIVE $SIG_CTES,
          e AS (SELECT a_id AS src, b_id AS dst FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
          reach(id, lbl) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM e)
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id),
          cl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
          alln AS (SELECT d.doc_id AS id, coalesce(cl.cluster, d.doc_id) AS cluster
                   FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
          sizes AS (SELECT cluster, CAST(count(1) AS BIGINT) AS csize
                    FROM alln GROUP BY cluster),
          tot AS (SELECT CAST(count(1) AS BIGINT) AS n_docs FROM documents)
          SELECT csize, CAST(count(1) AS BIGINT) AS n_clusters,
                 csize * CAST(count(1) AS BIGINT) AS n_nodes,
                 CAST(csize * count(1) AS DOUBLE) / n_docs AS node_share
          FROM sizes, tot
          GROUP BY csize, n_docs ORDER BY csize""",
    "q201_survivorship" ->
      s"""WITH RECURSIVE $SIG_CTES,
          e AS (SELECT a_id AS src, b_id AS dst FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
          reach(id, lbl) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM e)
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id),
          cl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
          ag AS (SELECT cluster, CAST(count(1) AS BIGINT) AS n_members,
                        min(d.doc_id) AS keep_doc,
                        CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
                        CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
                        CAST(sum(d.n_chars) AS BIGINT) AS total_chars
                 FROM cl JOIN documents d ON d.doc_id = cl.id
                 GROUP BY cluster)
          SELECT a.cluster, a.n_members, a.keep_doc, k.lang AS keep_lang,
                 k.source AS keep_source, a.n_langs, a.n_sources, a.total_chars
          FROM ag a JOIN documents k ON k.doc_id = a.keep_doc
          WHERE a.n_members > 1
          ORDER BY a.cluster""",
    // q211: recursive-CTE components (q123's oracle), representative =
    // min id per cluster (singletons self-represent), then q152's md5
    // band arithmetic applied to the REPRESENTATIVE.
    "q211_leakage_split" ->
      s"""WITH RECURSIVE $SIG_CTES,
          e AS (SELECT a_id AS src, b_id AS dst FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
          reach(id, lbl) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM e)
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id),
          cl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
          rp AS (SELECT cluster, min(id) AS rep FROM cl GROUP BY cluster),
          dr AS (SELECT d.doc_id, d.lang,
                        coalesce(rp.rep, d.doc_id) AS rep,
                        CASE WHEN cl.id IS NULL THEN 0 ELSE 1 END AS is_dup
                 FROM documents d
                 LEFT JOIN cl ON cl.id = d.doc_id
                 LEFT JOIN rp ON rp.cluster = cl.cluster),
          sp AS (SELECT lang, is_dup,
                        CASE WHEN ub < 8000 THEN 'train'
                             WHEN ub < 9000 THEN 'val'
                             ELSE 'test' END AS split
                 FROM (SELECT lang, is_dup,
                              CAST('0x' || substr(md5('spl:' || CAST(rep AS VARCHAR)), 1, 15)
                                   AS BIGINT) % 10000 AS ub
                       FROM dr))
          SELECT split, lang, CAST(count(1) AS BIGINT) AS n_docs,
                 CAST(sum(is_dup) AS BIGINT) AS n_dup_docs
          FROM sp GROUP BY 1, 2 ORDER BY 1, 2""",
    // q227: identical exact-integer water-fill; `//` and `%` match
    // Spark's `div`/`%` on the nonnegative operands by construction.
    "q227_budget_waterfill" ->
      s"""WITH sup AS (SELECT source, CAST(sum(len($TS)) AS BIGINT)
                         AS supply
                       FROM documents GROUP BY source),
          tot AS (SELECT CAST(sum(supply) AS BIGINT) // 2 AS budget,
                         CAST(count(1) AS BIGINT) AS n FROM sup),
          rk AS (SELECT s.source, s.supply, t.budget, t.n,
                   CAST(row_number() OVER o AS BIGINT) AS j,
                   CAST(sum(supply) OVER (o ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS BIGINT) AS p
                 FROM sup s CROSS JOIN tot t
                 WINDOW o AS (ORDER BY s.supply ASC, s.source ASC)),
          fl AS (SELECT *,
                   supply * (n - j + 1) <= budget - (p - supply)
                     AS funded
                 FROM rk),
          cut AS (SELECT CAST(sum(CASE WHEN funded THEN 1 ELSE 0 END)
                              AS BIGINT) AS m,
                         CAST(sum(CASE WHEN funded THEN supply
                                       ELSE 0 END) AS BIGINT) AS pm
                  FROM fl),
          al AS (SELECT f.*, c.m, c.pm,
                   CASE WHEN funded THEN supply
                        ELSE (budget - pm) // (n - m)
                             + (CASE WHEN j - m <=
                                       (budget - pm) % (n - m)
                                THEN 1 ELSE 0 END) END AS alloc
                 FROM fl f CROSS JOIN cut c)
          SELECT source, supply, CAST(alloc AS BIGINT) AS alloc, funded,
                 round(CAST(alloc AS DOUBLE) / budget + ${Det.E4}, 4)
                   AS share,
                 budget
          FROM al ORDER BY source""",
    // q228: 2·midrank integers in HUGEINT; the z/auc floats are built
    // from the same exact integers in the same IEEE op order as the
    // Spark side — r6e only guards the final rounding.
    "q228_mannwhitney_drift" ->
      s"""WITH o AS (SELECT o_totalprice AS p,
                            (o_orderdate < TIMESTAMP '1998-01-01')
                              AS isref
                     FROM orders),
          g AS (SELECT p,
                       CAST(sum(CASE WHEN isref THEN 1 ELSE 0 END)
                            AS BIGINT) AS rc,
                       CAST(sum(CASE WHEN NOT isref THEN 1 ELSE 0 END)
                            AS BIGINT) AS cc
                FROM o GROUP BY p),
          cum AS (SELECT rc, cc, rc + cc AS tc,
                         sum(rc + cc) OVER (ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS ct
                  FROM g),
          a AS (SELECT CAST(sum(rc) AS BIGINT) AS nr,
                       CAST(sum(cc) AS BIGINT) AS nc,
                       sum(CAST(rc AS HUGEINT)
                           * (2 * CAST(ct AS HUGEINT)
                              - CAST(tc AS HUGEINT) + 1)) AS r2,
                       sum(CAST(tc AS HUGEINT) * CAST(tc AS HUGEINT)
                           * CAST(tc AS HUGEINT)
                           - CAST(tc AS HUGEINT)) AS tie3
                FROM cum),
          u AS (SELECT nr, nc, tie3,
                       r2 - CAST(nr AS HUGEINT) * (CAST(nr AS HUGEINT)
                         + 1) AS u2
                FROM a)
          SELECT nr AS n_ref, nc AS n_cur,
                 CAST(u2 AS BIGINT) AS u2_ref,
                 round(CAST(u2 AS DOUBLE)
                       / (2.0 * (CAST(nr AS DOUBLE)
                                 * CAST(nc AS DOUBLE)))
                       + ${Det.E6}, 6) AS auc_ref,
                 round((CAST(u2 AS DOUBLE) - CAST(nr AS DOUBLE)
                          * CAST(nc AS DOUBLE))
                       / sqrt(CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
                          * ((CAST(nr + nc AS DOUBLE) + 1.0)
                             - CAST(tie3 AS DOUBLE)
                               / (CAST(nr + nc AS DOUBLE)
                                  * (CAST(nr + nc AS DOUBLE) - 1.0)))
                          / 3.0)
                       + ${Det.E6}, 6) AS z
          FROM u""",
    // q229: per-source row_number replayed; rank·x in HUGEINT; the
    // top-decile rule uses `//` ≡ Spark's `div` on the nonnegative
    // operands (the q227 precedent).
    "q229_gini_concentration" ->
      s"""WITH b AS (SELECT source, n_chars AS x, doc_id,
                            CAST(row_number() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS BIGINT) AS rn
                     FROM documents),
          t AS (SELECT source, CAST(count(1) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx
                FROM b GROUP BY source),
          a AS (SELECT b.source, max(t.n) AS n_docs,
                       max(t.sx) AS tot_chars,
                       sum(CAST(b.rn AS HUGEINT) * b.x) AS srx,
                       CAST(sum(CASE WHEN b.rn > t.n - t.n // 10
                                THEN b.x ELSE 0 END) AS BIGINT)
                         AS top_chars
                FROM b JOIN t USING (source) GROUP BY b.source)
          SELECT source, n_docs, tot_chars,
                 CAST(2 * srx - CAST(n_docs + 1 AS HUGEINT) * tot_chars
                      AS BIGINT) AS gini_num,
                 round(CAST(2 * srx - CAST(n_docs + 1 AS HUGEINT)
                              * tot_chars AS DOUBLE)
                       / (CAST(n_docs AS DOUBLE)
                          * CAST(tot_chars AS DOUBLE))
                       + ${Det.E6}, 6) AS gini,
                 round(CAST(top_chars AS DOUBLE)
                       / CAST(tot_chars AS DOUBLE) + ${Det.E6}, 6)
                   AS top_decile_share
          FROM a ORDER BY source""",
    // q230: q223's tile formula replayed; round(value*100) is the
    // identical positive-half rounding in both engines.
    "q230_calibration_deciles" ->
      s"""WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                            (event_type = 'purchase') AS pos, event_id
                     FROM events),
          r AS (SELECT *,
                       CAST(row_number() OVER (ORDER BY cents, event_id)
                            AS BIGINT) AS rn,
                       CAST(count(1) OVER () AS BIGINT) AS n
                FROM b),
          c AS (SELECT *, CAST((rn - 1) * 10 // n AS INT) + 1 AS decile
                FROM r)
          SELECT decile, CAST(count(1) AS BIGINT) AS n_rows,
                 CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
                 min(cents) AS lo_cents, max(cents) AS hi_cents,
                 round(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
                              AS DOUBLE)
                       / CAST(count(1) AS DOUBLE) + ${Det.E6}, 6)
                   AS pos_rate,
                 round(CAST(sum(cents) AS DOUBLE)
                       / (100.0 * CAST(count(1) AS DOUBLE))
                       + ${Det.E4}, 4) AS mean_value
          FROM c GROUP BY decile ORDER BY decile""",
    // q231: ISODOW extracted natively; the dense spine and the
    // cross-multiplied gap mirror the Spark side exactly.
    "q231_chisq_independence" ->
      s"""WITH cells AS (SELECT event_type,
                                CAST(EXTRACT(ISODOW FROM ts) AS INT)
                                  AS isodow,
                                CAST(count(1) AS BIGINT) AS obs
                         FROM events GROUP BY 1, 2),
          spine AS (SELECT t.event_type, d.isodow
                    FROM (SELECT DISTINCT event_type FROM cells) t
                    CROSS JOIN (SELECT CAST(unnest(range(1, 8)) AS INT)
                                  AS isodow) d),
          dense AS (SELECT s.event_type, s.isodow,
                           coalesce(c.obs, 0) AS obs
                    FROM spine s LEFT JOIN cells c
                      ON s.event_type = c.event_type
                     AND s.isodow = c.isodow),
          rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rt
                 FROM dense GROUP BY 1),
          ct AS (SELECT isodow, CAST(sum(obs) AS BIGINT) AS ct
                 FROM dense GROUP BY 1),
          nn AS (SELECT CAST(sum(obs) AS BIGINT) AS nn FROM dense)
          SELECT d.event_type, d.isodow, d.obs,
                 CAST(CAST(r.rt AS HUGEINT) * c.ct AS BIGINT) AS exp_num,
                 round((CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE))
                       / CAST(n.nn AS DOUBLE) + ${Det.E6}, 6)
                   AS expected,
                 round((CAST(CAST(d.obs AS HUGEINT) * n.nn
                               - CAST(r.rt AS HUGEINT) * c.ct AS DOUBLE)
                        * CAST(CAST(d.obs AS HUGEINT) * n.nn
                               - CAST(r.rt AS HUGEINT) * c.ct AS DOUBLE))
                       / (CAST(n.nn AS DOUBLE)
                          * (CAST(r.rt AS DOUBLE)
                             * CAST(c.ct AS DOUBLE)))
                       + ${Det.E6}, 6) AS contrib
          FROM dense d
          JOIN rt r ON d.event_type = r.event_type
          JOIN ct c ON d.isodow = c.isodow
          CROSS JOIN nn n
          ORDER BY d.event_type, d.isodow""",
    // q232: the Poisson(1) thresholds are the SAME integer literals
    // as POIS1_T; replicate sums in HUGEINT; replicate means are
    // exact rationals so the rank order is engine-identical.
    "q232_bootstrap_ci" ->
      s"""WITH b AS (SELECT o_orderkey,
                            CAST(round(o_totalprice * 100) AS BIGINT)
                              AS cents
                     FROM orders),
          r AS (SELECT CAST(unnest(range(0, 40)) AS INT) AS rep),
          x AS (SELECT rep, cents,
                       CAST('0x' || substr(md5('bs:'
                           || CAST(rep // 2 AS VARCHAR) || ':'
                           || CAST(o_orderkey AS VARCHAR)),
                           (rep % 2) * 16 + 1, 15)
                         AS BIGINT) AS u
                FROM b CROSS JOIN r),
          wz AS (SELECT rep, cents,
                   CASE WHEN u < 424136118829305344 THEN 0
                        WHEN u < 848272237658610688 THEN 1
                        WHEN u < 1060340297073263360 THEN 2
                        WHEN u < 1131029650211480960 THEN 3
                        WHEN u < 1148701988496035328 THEN 4
                        WHEN u < 1152236456152946176 THEN 5
                        WHEN u < 1152825534095764608 THEN 6
                        WHEN u < 1152909688087595776 THEN 7
                        ELSE 8 END AS w
                 FROM x),
          g AS (SELECT rep,
                       sum(CAST(w AS HUGEINT) * cents) AS swc,
                       CAST(sum(w) AS BIGINT) AS sw
                FROM wz GROUP BY rep),
          m AS (SELECT rep, CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE)
                         AS m,
                       row_number() OVER (ORDER BY
                         CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE), rep)
                         AS rn
                FROM g),
          t AS (SELECT CAST(count(1) AS BIGINT) AS n_orders,
                       CAST(sum(cents) AS BIGINT) AS sc
                FROM b)
          SELECT t.n_orders, 40 AS b_reps,
                 round(CAST(t.sc AS DOUBLE) / CAST(t.n_orders AS DOUBLE)
                       / 100.0 + ${Det.E4}, 4) AS mean_value,
                 round(max(CASE WHEN m.rn = 2 THEN m.m END) / 100.0
                       + ${Det.E4}, 4) AS ci_lo,
                 round(max(CASE WHEN m.rn = 39 THEN m.m END) / 100.0
                       + ${Det.E4}, 4) AS ci_hi
          FROM m CROSS JOIN t
          GROUP BY t.n_orders, t.sc""",
    // q233: Σc² in HUGEINT; zeros enter through the N factor only.
    "q233_burstiness" ->
      s"""WITH t AS (SELECT doc_id, unnest($TS) AS w FROM documents),
          c AS (SELECT doc_id, w, CAST(count(1) AS BIGINT) AS c
                FROM t GROUP BY 1, 2),
          tok AS (SELECT w, CAST(count(1) AS BIGINT) AS n_docs,
                         CAST(sum(c) AS BIGINT) AS tot,
                         sum(CAST(c AS HUGEINT) * c) AS sc2
                  FROM c GROUP BY w),
          nn AS (SELECT CAST(count(1) AS BIGINT) AS nn FROM documents)
          SELECT w, n_docs, tot,
                 CAST(nn * sc2 - CAST(tot AS HUGEINT) * tot AS BIGINT)
                   AS burst_num,
                 round(CAST(nn * sc2 - CAST(tot AS HUGEINT) * tot
                            AS DOUBLE)
                       / (CAST(nn AS DOUBLE) * CAST(tot AS DOUBLE))
                       + ${Det.E6}, 6) AS dispersion
          FROM tok CROSS JOIN nn
          ORDER BY tot DESC, w LIMIT 20""",
    // q224: the banding replayed with string_agg over the same ':'
    // key; the 8-slot estimate is q122's arithmetic.
    "q224_lsh_banded" ->
      s"""WITH $SIG_CTES,
          bk AS (SELECT doc_id, CAST(k // 2 AS INT) AS band,
                        string_agg(CAST(sig AS VARCHAR), ':' ORDER BY k)
                          AS bkey
                 FROM sig GROUP BY doc_id, k // 2),
          cp AS (SELECT DISTINCT b1.doc_id AS a_id, b2.doc_id AS b_id
                 FROM bk b1 JOIN bk b2
                   ON b1.band = b2.band AND b1.bkey = b2.bkey
                  AND b1.doc_id < b2.doc_id)
          SELECT cp.a_id, cp.b_id,
                 round(sum(CASE WHEN s1.sig = s2.sig
                           THEN 1.0 ELSE 0.0 END) / 8.0 + ${Det.E4}, 4)
                   AS est_jaccard
          FROM cp
          JOIN sig s1 ON s1.doc_id = cp.a_id
          JOIN sig s2 ON s2.doc_id = cp.b_id AND s2.k = s1.k
          GROUP BY cp.a_id, cp.b_id
          ORDER BY a_id, b_id""",
    // q223: row_number replay of the prefix-sum ranks; the tile
    // formula (rn-1)*5 // n + 1 verbatim (never ntile()).
    "q223_rfm_segments" ->
      s"""WITH ev AS (SELECT user_id,
                             CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                             event_type, value
                      FROM events),
          u AS (SELECT user_id, max(tsec) AS last_s,
                       CAST(count(1) AS BIGINT) AS freq,
                       CAST(sum(CASE WHEN event_type = 'purchase'
                                THEN CAST(round(value * 100) AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS cents
                FROM ev GROUP BY user_id),
          m AS (SELECT max(last_s) AS mx FROM u),
          b AS (SELECT user_id, last_s - mx AS neg_rec, freq, cents
                FROM u, m),
          n AS (SELECT CAST(count(1) AS BIGINT) AS nn FROM b),
          c AS (SELECT freq, cents,
                       CAST((row_number() OVER (ORDER BY neg_rec, user_id)
                             - 1) * 5 // nn AS INT) + 1 AS r_code,
                       CAST((row_number() OVER (ORDER BY freq, user_id)
                             - 1) * 5 // nn AS INT) + 1 AS f_code,
                       CAST((row_number() OVER (ORDER BY cents, user_id)
                             - 1) * 5 // nn AS INT) + 1 AS m_code
                FROM b, n)
          SELECT r_code, f_code, m_code,
                 CAST(count(1) AS BIGINT) AS n_users,
                 round(avg(cents) / 100.0 + ${Det.E4}, 4) AS avg_purchase,
                 max(freq) AS max_freq
          FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    // q221: cumulative cross-multiply in HUGEINT (int128 — DuckDB's
    // exact twin of the Spark side's decimal(38,0)); only the final
    // output casts down.
    "q221_ks_drift" ->
      s"""WITH o AS (SELECT o_totalprice AS p,
                            (o_orderdate < TIMESTAMP '1998-01-01')
                              AS isref
                     FROM orders),
          g AS (SELECT p,
                       CAST(sum(CASE WHEN isref THEN 1 ELSE 0 END)
                            AS BIGINT) AS rc,
                       CAST(sum(CASE WHEN NOT isref THEN 1 ELSE 0 END)
                            AS BIGINT) AS cc
                FROM o GROUP BY p),
          cum AS (SELECT p,
                         sum(rc) OVER w AS cr, sum(cc) OVER w AS ccu
                  FROM g WINDOW w AS (ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          tot AS (SELECT CAST(sum(CASE WHEN isref THEN 1 ELSE 0 END)
                              AS BIGINT) AS nr,
                         CAST(sum(CASE WHEN NOT isref THEN 1 ELSE 0 END)
                              AS BIGINT) AS nc
                  FROM o),
          gap AS (SELECT p, nr, nc,
                         abs(CAST(cr AS HUGEINT) * nc
                             - CAST(ccu AS HUGEINT) * nr) AS gnum
                  FROM cum, tot),
          mx AS (SELECT max(gnum) AS mxnum FROM gap)
          SELECT max(g.nr) AS n_ref, max(g.nc) AS n_cur,
                 CAST(max(g.gnum) AS BIGINT) AS ks_num,
                 round(CAST(max(g.gnum) AS DOUBLE) /
                       (CAST(max(g.nr) AS DOUBLE)
                        * CAST(max(g.nc) AS DOUBLE)) + ${Det.E6}, 6)
                   AS ks_d,
                 min(g.p) AS ks_at
          FROM gap g JOIN mx m ON g.gnum = m.mxnum""",
    // q222: digit via the LONG's decimal string — integer formatting
    // is engine-identical where float formatting and log10 are not.
    "q222_benford" ->
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
                              AS BIGINT) AS VARCHAR), 1, 1) AS INT)
                              AS digit
                     FROM orders
                     WHERE CAST(floor(o_totalprice) AS BIGINT) >= 1),
          c AS (SELECT digit, CAST(count(1) AS BIGINT) AS n
                FROM d GROUP BY digit),
          sp AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit),
          t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
          SELECT sp.digit, coalesce(c.n, 0) AS n,
                 round(CAST(coalesce(c.n, 0) AS DOUBLE) / t.total
                       + ${Det.E6}, 6) AS share,
                 round(log10(1.0 + 1.0 / sp.digit) + ${Det.E6}, 6)
                   AS benford_p,
                 round(CAST(coalesce(c.n, 0) AS DOUBLE) / t.total
                       - log10(1.0 + 1.0 / sp.digit) + ${Det.E6}, 6)
                   AS deviation
          FROM sp LEFT JOIN c USING (digit), t
          ORDER BY sp.digit""",
    // q220: the same 2·cum >= total integer rule on the (lang, value)
    // grain — weighted quantiles stay oracle-exact because weights are
    // integer token counts.
    "q220_weighted_median" ->
      s"""WITH base AS (SELECT lang, n_chars,
                               CAST(len($TS) AS BIGINT) AS nt
                        FROM documents),
          g AS (SELECT lang, n_chars, CAST(count(1) AS BIGINT) AS c,
                       CAST(sum(nt) AS BIGINT) AS w
                FROM base GROUP BY lang, n_chars),
          cum AS (SELECT lang, n_chars,
                         sum(c) OVER (PARTITION BY lang ORDER BY n_chars
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cn,
                         sum(w) OVER (PARTITION BY lang ORDER BY n_chars
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cw
                  FROM g),
          tot AS (SELECT lang, CAST(count(1) AS BIGINT) AS n_docs,
                         CAST(sum(nt) AS BIGINT) AS tot_tokens
                  FROM base GROUP BY lang)
          SELECT c.lang, max(t.n_docs) AS n_docs,
                 max(t.tot_tokens) AS tot_tokens,
                 min(CASE WHEN 2 * c.cn >= t.n_docs
                          THEN c.n_chars END) AS med_chars,
                 min(CASE WHEN 2 * c.cw >= t.tot_tokens
                          THEN c.n_chars END) AS wmed_chars
          FROM cum c JOIN tot t USING (lang)
          GROUP BY c.lang ORDER BY c.lang""",
    // q217: the join is never run — Σ n² off the key-grain aggregate.
    // Emitted BIGINT by the oracle portability contract; validity
    // bound documented at the query (max n(k) ≤ 3.03e9).
    "q217_join_size_profile" ->
      s"""WITH c AS (SELECT l_partkey, CAST(count(1) AS BIGINT) AS cnt
                     FROM lineitem GROUP BY l_partkey),
          t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                       CAST(count(1) AS BIGINT) AS n_keys,
                       CAST(sum(cnt * cnt) AS BIGINT) AS tot_pairs
                FROM c)
          SELECT l_partkey, cnt, cnt * cnt AS pairs,
                 round(CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE)
                       / CAST(tot_pairs AS DOUBLE)
                       + ${Det.E6}, 6) AS pair_share,
                 n_rows, n_keys, tot_pairs
          FROM c, t
          ORDER BY cnt DESC, l_partkey ASC LIMIT 10""",
    // q218: dup membership is just the pair endpoints (no recursion);
    // dominance entirely in BIGINT cross-multiplication.
    "q218_pareto_cells" ->
      s"""WITH $SIG_CTES,
          dup AS (SELECT DISTINCT id FROM (
                    SELECT a_id AS id FROM pr
                    UNION ALL SELECT b_id FROM pr)),
          cells AS (SELECT d.lang, d.source,
                           CAST(count(1) AS BIGINT) AS n_docs,
                           CAST(sum(len($TS)) AS BIGINT) AS tokens,
                           CAST(sum(CASE WHEN dup.id IS NULL
                                         THEN 1 ELSE 0 END) AS BIGINT)
                             AS uniq
                    FROM documents d LEFT JOIN dup ON dup.id = d.doc_id
                    GROUP BY d.lang, d.source)
          SELECT lang, source, n_docs, tokens, uniq,
                 round(CAST(tokens AS DOUBLE) / n_docs + ${Det.E4}, 4)
                   AS avg_tokens,
                 round(CAST(uniq AS DOUBLE) / n_docs + ${Det.E4}, 4)
                   AS uniq_share
          FROM cells c
          WHERE NOT EXISTS (
            SELECT 1 FROM cells o
            WHERE CAST(o.tokens AS DECIMAL(38,0)) * c.n_docs
                    >= CAST(c.tokens AS DECIMAL(38,0)) * o.n_docs
              AND CAST(o.uniq AS DECIMAL(38,0)) * c.n_docs
                    >= CAST(c.uniq AS DECIMAL(38,0)) * o.n_docs
              AND (CAST(o.tokens AS DECIMAL(38,0)) * c.n_docs
                     > CAST(c.tokens AS DECIMAL(38,0)) * o.n_docs
                   OR CAST(o.uniq AS DECIMAL(38,0)) * c.n_docs
                        > CAST(c.uniq AS DECIMAL(38,0)) * o.n_docs))
          ORDER BY lang, source""",
    // q214: identical moment formula per pair off ONE 1-row aggregate
    // (never DuckDB's corr() — its accumulation is engine-private).
    "q214_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val prs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      val sums = cols.flatMap(c => Seq(
        s"sum($c) AS s_$c", s"sum($c * $c) AS ss_$c")) ++
        prs.map { case (a, b) => s"sum($a * $b) AS sp_${a}_$b" }
      val arms = prs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
                   CAST(n AS BIGINT) AS n_rows,
                   round((n * sp_${a}_$b - s_$a * s_$b) /
                         sqrt((n * ss_$a - s_$a * s_$a) *
                              (n * ss_$b - s_$b * s_$b)) + ${Det.E4}, 4)
                     AS r FROM m""" }.mkString("\n          UNION ALL ")
      s"""WITH m AS (SELECT CAST(count(1) AS DOUBLE) AS n,
                            ${sums.mkString(", ")}
                     FROM lineitem)
          $arms
          ORDER BY 1, 2"""
    },
    "q199_zipf_fit" ->
      s"""WITH v AS (SELECT w, CAST(count(1) AS BIGINT) AS cnt
                     FROM (SELECT unnest($TS) AS w FROM documents) GROUP BY w),
          tot AS (SELECT CAST(count(1) AS BIGINT) AS n_types,
                         CAST(sum(cnt) AS BIGINT) AS n_tokens FROM v),
          top AS (SELECT cnt, row_number() OVER (
                    ORDER BY cnt DESC, w ASC) AS rnk
                  FROM v ORDER BY cnt DESC, w ASC LIMIT 1000),
          fit AS (SELECT round(regr_slope(ln(cnt), ln(rnk)) + ${Det.E4}, 4) AS slope,
                         round(regr_intercept(ln(cnt), ln(rnk)) + ${Det.E4}, 4) AS icept,
                         round(regr_r2(ln(cnt), ln(rnk)) + ${Det.E4}, 4) AS r2
                  FROM top)
          SELECT t.n_types, t.n_tokens, f.slope, f.icept, f.r2
          FROM tot t, fit f""",
    "q208_heaps_law" ->
      s"""WITH pd AS (SELECT doc_id,
                             CAST(len($TS) AS BIGINT) AS m FROM documents),
          fs AS (SELECT g, min(doc_id) AS first_doc
                 FROM (SELECT doc_id,
                              unnest(list_transform(range(len(ts) - 2),
                                i -> ts[i+1] || ' ' || ts[i+2] || ' ' ||
                                     ts[i+3])) AS g
                       FROM (SELECT doc_id, $TS AS ts FROM documents)
                       WHERE len(ts) >= 3)
                 GROUP BY g),
          mm AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM pd),
          chk AS (SELECT t.i, mm.mn + ((mm.mx - mm.mn) * t.i) // 20 AS thr
                  FROM mm, range(1, 21) t(i)),
          tc AS (SELECT c.i, c.thr, CAST(count(1) AS BIGINT) AS docs_n,
                        CAST(sum(p.m) AS BIGINT) AS tokens_cum
                 FROM chk c JOIN pd p ON p.doc_id <= c.thr GROUP BY 1, 2),
          vc AS (SELECT c.i, CAST(count(1) AS BIGINT) AS vocab_cum
                 FROM chk c JOIN fs f ON f.first_doc <= c.thr GROUP BY 1),
          pts AS (SELECT tc.i, tc.thr, tc.docs_n, tc.tokens_cum,
                         vc.vocab_cum
                  FROM tc JOIN vc USING (i)),
          fit AS (SELECT round(regr_slope(ln(vocab_cum), ln(tokens_cum))
                           + ${Det.E4}, 4) AS beta,
                         round(regr_intercept(ln(vocab_cum), ln(tokens_cum))
                           + ${Det.E4}, 4) AS logk,
                         round(regr_r2(ln(vocab_cum), ln(tokens_cum))
                           + ${Det.E4}, 4) AS r2
                  FROM pts WHERE vocab_cum > 0 AND tokens_cum > 0)
          SELECT p.i, p.thr, p.docs_n, p.tokens_cum, p.vocab_cum,
                 f.beta, f.logk, f.r2
          FROM pts p, fit f ORDER BY p.i""",
    "q198_simhash_calibration" ->
      s"""WITH tk AS (SELECT doc_id, unnest($TS) AS w FROM documents),
          h AS (SELECT doc_id,
                       CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv
                FROM tk),
          bits AS (SELECT doc_id, b,
                          CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END AS vote
                   FROM h, (SELECT unnest(range(60)) AS b)),
          sv AS (SELECT doc_id, b, sum(vote) AS sv FROM bits GROUP BY doc_id, b),
          shh AS (SELECT doc_id,
                   CAST(sum(CASE WHEN sv > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                                 ELSE 0 END) AS BIGINT) AS simhash
                  FROM sv GROUP BY doc_id),
          pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                        CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hd
                 FROM shh a JOIN shh b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.simhash, b.simhash)) <= 5),
          tf AS (SELECT doc_id, w, CAST(count(1) AS BIGINT) AS c
                 FROM tk GROUP BY doc_id, w),
          nr AS (SELECT doc_id, sqrt(CAST(sum(c*c) AS DOUBLE)) AS nrm
                 FROM tf GROUP BY doc_id),
          dt AS (SELECT p.a_id, p.b_id, CAST(sum(ta.c * tb.c) AS BIGINT) AS dot
                 FROM pr p JOIN tf ta ON ta.doc_id = p.a_id
                           JOIN tf tb ON tb.doc_id = p.b_id AND tb.w = ta.w
                 GROUP BY p.a_id, p.b_id)
          SELECT p.a_id, p.b_id, p.hd,
                 round(cos(pi() * p.hd / 60.0) + ${Det.E4}, 4) AS est_cos,
                 round(coalesce(dot, 0) / (na.nrm * nb.nrm) + ${Det.E4}, 4) AS exact_cos,
                 round(abs(cos(pi() * p.hd / 60.0) -
                           coalesce(dot, 0) / (na.nrm * nb.nrm)) + ${Det.E4}, 4) AS abs_err
          FROM pr p
          LEFT JOIN dt ON dt.a_id = p.a_id AND dt.b_id = p.b_id
          JOIN nr na ON na.doc_id = p.a_id
          JOIN nr nb ON nb.doc_id = p.b_id
          ORDER BY p.a_id, p.b_id""",
    "q194_expectations_report" ->
      """WITH onr AS (
           SELECT CAST(count(1) AS BIGINT) AS n,
             CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v0,
             coalesce(min(CASE WHEN NOT (o_totalprice > 0) THEN o_orderkey END), -1) AS k0,
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             coalesce(min(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN o_orderkey END), -1) AS k1,
             CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             coalesce(min(CASE WHEN o_orderdate IS NULL THEN o_orderkey END), -1) AS k2
           FROM orders),
         lnr AS (
           SELECT CAST(count(1) AS BIGINT) AS n,
             CAST(sum(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 45) THEN 1 ELSE 0 END) AS BIGINT) AS v0,
             coalesce(min(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 45) THEN l_orderkey END), -1) AS k0,
             CAST(sum(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 0.08) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             coalesce(min(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 0.08) THEN l_orderkey END), -1) AS k1,
             CAST(sum(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             coalesce(min(CASE WHEN NOT (l_extendedprice > 0) THEN l_orderkey END), -1) AS k2
           FROM lineitem),
         fk1 AS (SELECT CAST(count(1) AS BIGINT) AS v,
                        coalesce(min(o_custkey), -1) AS k
                 FROM orders o WHERE NOT EXISTS (
                   SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
         fk2 AS (SELECT CAST(count(1) AS BIGINT) AS v,
                        coalesce(min(l_orderkey), -1) AS k
                 FROM lineitem l WHERE NOT EXISTS (
                   SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
         shp AS (SELECT CAST(count(1) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS v,
                   coalesce(min(CASE WHEN l.l_shipdate < o.o_orderdate THEN l.l_orderkey END), -1) AS k
                 FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
         rws AS (
           SELECT 'r01_price_positive' AS rule_id, 'orders' AS tbl,
                  n AS n_checked, v0 AS n_viol, k0 AS sample_key FROM onr
           UNION ALL SELECT 'r02_status_domain', 'orders', n, v1, k1 FROM onr
           UNION ALL SELECT 'r03_date_present', 'orders', n, v2, k2 FROM onr
           UNION ALL SELECT 'r04_qty_range', 'lineitem', n, v0, k0 FROM lnr
           UNION ALL SELECT 'r05_disc_range', 'lineitem', n, v1, k1 FROM lnr
           UNION ALL SELECT 'r06_extprice_positive', 'lineitem', n, v2, k2 FROM lnr
           UNION ALL SELECT 'r07_fk_order_customer', 'orders',
                  (SELECT n FROM onr), v, k FROM fk1
           UNION ALL SELECT 'r08_fk_lineitem_order', 'lineitem',
                  (SELECT n FROM lnr), v, k FROM fk2
           UNION ALL SELECT 'r09_ship_after_order', 'lineitem_orders',
                  n, v, k FROM shp)
         SELECT rule_id, tbl, n_checked, n_viol,
                CAST(n_viol AS DOUBLE) / n_checked AS viol_rate, sample_key
         FROM rws ORDER BY rule_id""",
    "q192_dsir_weights" ->
      s"""WITH tk AS (SELECT doc_id, lang, unnest($TS) AS w FROM documents),
          tb AS (SELECT doc_id, lang,
                        CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 64 AS b
                 FROM tk),
          ct AS (SELECT b, CAST(count(1) AS BIGINT) AS ct
                 FROM tb WHERE lang = 'en' GROUP BY b),
          cr AS (SELECT b, CAST(count(1) AS BIGINT) AS cr
                 FROM tb WHERE lang <> 'en' GROUP BY b),
          tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM ct) AS nt,
                         (SELECT CAST(sum(cr) AS BIGINT) FROM cr) AS nr),
          lam AS (SELECT r.b,
                         ln((coalesce(ct, 0) + 1) / (nt + 64.0)) -
                         ln((coalesce(cr, 0) + 1) / (nr + 64.0)) AS lam
                  FROM range(0, 64) r(b)
                  LEFT JOIN ct ON ct.b = r.b
                  LEFT JOIN cr ON cr.b = r.b
                  CROSS JOIN tot)
          SELECT tb.doc_id, CAST(count(1) AS BIGINT) AS n_toks,
                 round(sum(lam) + ${Det.E4}, 4) AS logw
          FROM tb JOIN lam USING (b)
          WHERE tb.lang <> 'en'
          GROUP BY tb.doc_id
          ORDER BY logw DESC, doc_id ASC LIMIT 25""",
    "q190_bpe_train" -> q190Oracle,
    "q195_token_fertility" -> q195Oracle,
    "q182_dup_weights" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $TS AS ts FROM documents),
          shg AS (SELECT doc_id,
                        unnest(list_transform(range(len(ts) - 2),
                          i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS s
                 FROM t WHERE len(ts) >= 3),
          hsh AS (SELECT doc_id,
                        CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 1000000007 AS h
                 FROM shg),
          x AS (SELECT doc_id, k, ((2*k + 1) * h + 7 + 13*k) % 1000000007 AS v
                FROM hsh, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) seeds(k)),
          sig AS (SELECT doc_id, k, min(v) AS sig FROM x GROUP BY doc_id, k),
          pr AS (SELECT DISTINCT s1.doc_id AS a_id, s2.doc_id AS b_id
                 FROM sig s1 JOIN sig s2
                   ON s1.k = s2.k AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id),
          e AS (SELECT a_id AS src, b_id AS dst FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
          reach(id, lbl) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM e)
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id),
          comp AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
          sz AS (SELECT cluster, CAST(count(1) AS BIGINT) AS csize
                 FROM comp GROUP BY cluster)
          SELECT d.doc_id,
                 COALESCE(comp.cluster, d.doc_id) AS cluster,
                 COALESCE(sz.csize, 1) AS csize,
                 round(1.0 / COALESCE(sz.csize, 1) + ${Det.E4}, 4) AS w
          FROM documents d
          LEFT JOIN comp ON comp.id = d.doc_id
          LEFT JOIN sz ON sz.cluster = comp.cluster
          ORDER BY d.doc_id""",
    "q180_dedup_ensemble" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $TS AS ts FROM documents),
          shg AS (SELECT doc_id,
                        unnest(list_transform(range(len(ts) - 2),
                          i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS s
                 FROM t WHERE len(ts) >= 3),
          hsh AS (SELECT doc_id,
                        CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 1000000007 AS h
                 FROM shg),
          x AS (SELECT doc_id, k, ((2*k + 1) * h + 7 + 13*k) % 1000000007 AS v
                FROM hsh, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) seeds(k)),
          sig AS (SELECT doc_id, k, min(v) AS sig FROM x GROUP BY doc_id, k),
          mh AS (SELECT DISTINCT s1.doc_id AS a_id, s2.doc_id AS b_id
                 FROM sig s1 JOIN sig s2
                   ON s1.k = s2.k AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id),
          tk2 AS (SELECT doc_id, unnest(ts) AS w FROM t),
          hw AS (SELECT doc_id,
                        CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv
                 FROM tk2),
          bits AS (SELECT doc_id, b,
                          CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END AS vote
                   FROM hw, (SELECT unnest(range(60)) AS b)),
          sv AS (SELECT doc_id, b, sum(vote) AS sv FROM bits GROUP BY doc_id, b),
          smh AS (SELECT doc_id,
                  CAST(sum(CASE WHEN sv > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                                ELSE 0 END) AS BIGINT) AS simhash
                  FROM sv GROUP BY doc_id),
          sp AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM smh a JOIN smh b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
          emb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
          pp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                        unnest(list_transform(a.embedding, x -> CAST(x AS DOUBLE))) AS x,
                        unnest(list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS y
                 FROM emb a JOIN emb b ON a.vec_id < b.vec_id),
          pm AS (SELECT a_id, b_id, sum(x*y) AS dot,
                        sqrt(sum(x*x)) AS na, sqrt(sum(y*y)) AS nb
                 FROM pp GROUP BY a_id, b_id),
          cp AS (SELECT a_id, b_id FROM pm
                 WHERE round(dot/(na*nb) + ${Det.E4}, 4) > 0.35),
          pr AS (SELECT a_id, b_id FROM mh
                 UNION SELECT a_id, b_id FROM sp
                 UNION SELECT a_id, b_id FROM cp),
          e AS (SELECT a_id AS src, b_id AS dst FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
          reach(id, lbl) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM e)
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id)
          SELECT id, min(lbl) AS cluster
          FROM reach GROUP BY id ORDER BY id""",
    "q179_bpe_apply" -> bpeOracle,
    "q176_temperature_mix" ->
      """WITH c AS (SELECT lang, count(1) AS cnt FROM documents GROUP BY lang),
          m AS (SELECT min(cnt) AS min_cnt FROM c),
          cuts AS (SELECT lang,
                          CAST(floor(sqrt(CAST(min_cnt AS DOUBLE) / cnt) * 10000)
                               AS BIGINT) AS cut
                   FROM c, m)
          SELECT d.doc_id, d.lang,
                 CAST('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                      AS BIGINT) % 10000 AS draw,
                 cuts.cut AS cut
          FROM documents d JOIN cuts ON d.lang = cuts.lang
          WHERE CAST('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 10000 < cuts.cut
          ORDER BY d.doc_id""",
    "q177_cms_freq" ->
      s"""WITH tk AS (SELECT unnest($TS) AS w FROM documents),
          rows_ AS (SELECT * FROM (VALUES (0),(1),(2),(3)) r(i)),
          cells AS (SELECT i,
                           CAST('0x' || substr(md5('cms' || CAST(i AS VARCHAR)
                                || ':' || w), 1, 15) AS BIGINT) % 256 AS b,
                           CAST(count(1) AS BIGINT) AS c
                    FROM tk, rows_ GROUP BY 1, 2),
          probes AS (SELECT w, CAST(count(1) AS BIGINT) AS exact
                     FROM tk GROUP BY w
                     ORDER BY exact DESC, w LIMIT 20),
          est AS (SELECT p.w, max(p.exact) AS exact, min(cl.c) AS est
                  FROM probes p, rows_ r
                  JOIN cells cl
                    ON cl.i = r.i
                   AND cl.b = CAST('0x' || substr(md5('cms' || CAST(r.i AS VARCHAR)
                         || ':' || p.w), 1, 15) AS BIGINT) % 256
                  GROUP BY p.w)
          SELECT w, exact, est, est - exact AS over
          FROM est ORDER BY w""",
    "q119_stratified_sample" ->
      """WITH h AS (SELECT lang, doc_id,
                           md5('smp:' || CAST(doc_id AS VARCHAR)) AS hk
                    FROM documents),
         r AS (SELECT lang, doc_id,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY hk ASC, doc_id ASC) AS rn
               FROM h)
         SELECT lang, CAST(rn AS INT) AS rn, doc_id
         FROM r WHERE rn <= 20 ORDER BY lang, rn""",
    "q120_heavy_hitters" ->
      s"""WITH tk AS (SELECT unnest($TS) AS w FROM documents),
          c AS (SELECT w, CAST(count(1) AS BIGINT) AS cnt FROM tk GROUP BY w),
          t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM c)
          SELECT w, cnt, round(cnt / tot + 0.0000000123, 6) AS share
          FROM c, t WHERE cnt > tot / 1000 ORDER BY w""",
    "q121_bpe_pairs" ->
      s"""WITH t AS (SELECT $TS AS ts FROM documents),
          bg AS (SELECT unnest(list_transform(range(len(ts) - 1),
                          i -> ts[i+1] || ' ' || ts[i+2])) AS pair
                 FROM t WHERE len(ts) >= 2)
          SELECT pair, CAST(count(1) AS BIGINT) AS cnt
          FROM bg GROUP BY pair
          ORDER BY cnt DESC, pair ASC LIMIT 20""",
    "q122_minhash_est" ->
      s"""WITH $SIG_CTES
          SELECT p.a_id, p.b_id,
                 round(sum(CASE WHEN sa.sig = sb.sig THEN 1.0 ELSE 0.0 END)
                         / 8.0 + 0.00000123, 4) AS est_jaccard
          FROM pr p
          JOIN sig sa ON sa.doc_id = p.a_id
          JOIN sig sb ON sb.doc_id = p.b_id AND sb.k = sa.k
          GROUP BY p.a_id, p.b_id ORDER BY p.a_id, p.b_id""",
    "q124_edit_neardup" ->
      s"""WITH tk AS (SELECT doc_id, unnest($TS) AS w FROM documents),
          h AS (SELECT doc_id,
                       CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv
                FROM tk),
          bits AS (SELECT doc_id, b,
                          CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END AS vote
                   FROM h, (SELECT unnest(range(60)) AS b)),
          sv AS (SELECT doc_id, b, sum(vote) AS sv FROM bits GROUP BY doc_id, b),
          sh AS (SELECT doc_id,
                 CAST(sum(CASE WHEN sv > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                               ELSE 0 END) AS BIGINT) AS simhash
                 FROM sv GROUP BY doc_id)
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          JOIN documents da ON da.doc_id = a.doc_id
          JOIN documents db ON db.doc_id = b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            AND levenshtein(da.text, db.text) <= 10
          ORDER BY a_id, b_id""",
    "q127_repeated_ngrams" ->
      s"""WITH t AS (SELECT doc_id, $TS AS ts FROM documents),
          d AS (SELECT doc_id, ts FROM t WHERE len(ts) >= 8),
          g AS (SELECT doc_id,
                       unnest(list_transform(range(len(ts) - 7),
                         i -> md5(array_to_string(list_slice(ts, i + 1, i + 8), ' ')))) AS gh
                FROM d),
          c AS (SELECT gh, count(1) AS n FROM g GROUP BY gh),
          dp AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS dup_pos
                 FROM g JOIN c USING (gh) WHERE c.n >= 2 GROUP BY doc_id)
          SELECT d.doc_id, CAST(len(d.ts) - 7 AS BIGINT) AS n_pos,
                 CAST(coalesce(dp.dup_pos, 0) AS BIGINT) AS dup_pos,
                 round(coalesce(dp.dup_pos, 0) / CAST(len(d.ts) - 7 AS DOUBLE)
                       + ${Det.E4}, 4) AS dup_frac
          FROM d LEFT JOIN dp USING (doc_id) ORDER BY doc_id""",
    "q128_pmi_collocations" ->
      s"""WITH t AS (SELECT $TS AS ts FROM documents),
          cu AS (SELECT w, CAST(count(1) AS BIGINT) AS cw
                 FROM (SELECT unnest(ts) AS w FROM t) GROUP BY w),
          bg AS (SELECT unnest(list_transform(range(len(ts) - 1),
                          i -> [ts[i+1], ts[i+2]])) AS p
                 FROM t WHERE len(ts) >= 2),
          b2 AS (SELECT p[1] AS a, p[2] AS b, CAST(count(1) AS BIGINT) AS cab
                 FROM bg GROUP BY 1, 2 HAVING count(1) >= 5),
          nu AS (SELECT CAST(sum(cw) AS DOUBLE) AS nu FROM cu),
          nb AS (SELECT CAST(sum(greatest(len(ts) - 1, 0)) AS DOUBLE) AS nb FROM t)
          SELECT b2.a, b2.b, b2.cab,
                 round(ln((b2.cab / nb.nb) /
                          ((ca.cw / nu.nu) * (cb.cw / nu.nu))) + ${Det.E4}, 4) AS pmi
          FROM b2 JOIN cu ca ON ca.w = b2.a
                  JOIN cu cb ON cb.w = b2.b, nu, nb
          ORDER BY pmi DESC, a ASC, b ASC LIMIT 20""",
    "q130_inverted_index" ->
      s"""WITH p AS (SELECT DISTINCT w, doc_id
                     FROM (SELECT unnest($TS) AS w, doc_id FROM documents)),
          rare AS (SELECT w, CAST(count(1) AS BIGINT) AS df FROM p GROUP BY w
                   ORDER BY df ASC, w ASC LIMIT 5),
          pl AS (SELECT p.w, rare.df,
                        list(p.doc_id ORDER BY p.doc_id) AS ids
                 FROM p JOIN rare ON rare.w = p.w GROUP BY p.w, rare.df)
          SELECT w, df,
                 array_to_string(ids[1:10], ',') AS head10,
                 md5(array_to_string(ids, ',')) AS digest
          FROM pl ORDER BY w""",
    "q131_outlier_zscore" ->
      s"""WITH o AS (SELECT c.c_mktsegment AS segment, o_orderkey, o_totalprice
                     FROM orders JOIN customer c ON o_custkey = c.c_custkey),
          st AS (SELECT segment, avg(o_totalprice) AS mu,
                        stddev_samp(o_totalprice) AS sd
                 FROM o GROUP BY segment)
          SELECT o.o_orderkey, o.segment, o.o_totalprice,
                 round((o.o_totalprice - st.mu) / st.sd + ${Det.E4}, 4) AS z
          FROM o JOIN st USING (segment)
          ORDER BY abs(round((o.o_totalprice - st.mu) / st.sd + ${Det.E4}, 4)) DESC,
                   o.o_orderkey ASC
          LIMIT 20""",
    "q143_minhash_calibration" ->
      s"""WITH $SIG_CTES,
          est AS (SELECT p.a_id, p.b_id,
                         sum(CASE WHEN sa.sig = sb.sig THEN 1.0 ELSE 0.0 END)
                           / 8.0 AS est
                  FROM pr p JOIN sig sa ON sa.doc_id = p.a_id
                            JOIN sig sb ON sb.doc_id = p.b_id AND sb.k = sa.k
                  GROUP BY p.a_id, p.b_id),
          da AS (SELECT DISTINCT doc_id, h FROM hs),
          sz AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS sz
                 FROM da GROUP BY doc_id),
          itr AS (SELECT p.a_id, p.b_id, CAST(count(1) AS BIGINT) AS inter
                  FROM pr p JOIN da x ON x.doc_id = p.a_id
                            JOIN da y ON y.doc_id = p.b_id AND y.h = x.h
                  GROUP BY p.a_id, p.b_id),
          ex AS (SELECT e.a_id, e.b_id, e.est,
                        COALESCE(i.inter, 0)
                          / CAST(za.sz + zb.sz - COALESCE(i.inter, 0) AS DOUBLE)
                          AS exact
                 FROM est e
                 LEFT JOIN itr i ON i.a_id = e.a_id AND i.b_id = e.b_id
                 JOIN sz za ON za.doc_id = e.a_id
                 JOIN sz zb ON zb.doc_id = e.b_id)
          SELECT a_id, b_id,
                 round(est + ${Det.E4}, 4) AS est_j,
                 round(exact + ${Det.E4}, 4) AS exact_j,
                 round(abs(est - exact) + ${Det.E4}, 4) AS abs_err
          FROM ex ORDER BY a_id, b_id""",
    "q209_lsh_planner" ->
      s"""WITH $SIG_CTES,
          da AS (SELECT DISTINCT doc_id, h FROM hs),
          sz AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS sz
                 FROM da GROUP BY doc_id),
          itr AS (SELECT p.a_id, p.b_id, CAST(count(1) AS BIGINT) AS inter
                  FROM pr p JOIN da x ON x.doc_id = p.a_id
                            JOIN da y ON y.doc_id = p.b_id AND y.h = x.h
                  GROUP BY p.a_id, p.b_id),
          ex AS (SELECT round(COALESCE(i.inter, 0)
                          / CAST(za.sz + zb.sz - COALESCE(i.inter, 0)
                                 AS DOUBLE) + ${Det.E4}, 4) AS exact_j
                 FROM pr p
                 LEFT JOIN itr i ON i.a_id = p.a_id AND i.b_id = p.b_id
                 JOIN sz za ON za.doc_id = p.a_id
                 JOIN sz zb ON zb.doc_id = p.b_id),
          hist AS (SELECT CAST(floor(exact_j * 10) AS INTEGER) AS bkt,
                          CAST(count(1) AS BIGINT) AS n_pairs
                   FROM ex GROUP BY 1),
          cfg AS (SELECT * FROM (VALUES (8, 1), (4, 2), (2, 4), (1, 8))
                  t(b, r)),
          j AS (SELECT c.b, c.r, h.bkt, h.n_pairs,
                       (h.bkt + 0.5) / 10.0 AS s_mid,
                       1.0 - power(1.0 - power((h.bkt + 0.5) / 10.0, c.r),
                                   c.b) AS p,
                       power(1.0 - power(0.5, 1.0 / c.b), 1.0 / c.r) AS s50
                FROM hist h, cfg c)
          SELECT b, r, bkt, n_pairs,
                 round(s_mid + ${Det.E4}, 4) AS s_mid,
                 round(p + ${Det.E4}, 4) AS p_collide,
                 round(n_pairs * p + ${Det.E4}, 4) AS exp_caught,
                 round(s50 + ${Det.E4}, 4) AS s50
          FROM j ORDER BY b, r, bkt""",
    "q158_sequence_packing" ->
      s"""WITH RECURSIVE d AS (
            SELECT doc_id,
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 8 AS INT) AS stream,
                   CAST(len($TS) AS BIGINT) AS len
            FROM documents),
          r AS (
            SELECT doc_id, stream, len,
                   row_number() OVER (PARTITION BY stream ORDER BY doc_id) AS rn
            FROM d),
          walk AS (
            SELECT stream, rn, doc_id, CAST(1 AS BIGINT) AS bin,
                   greatest(0, 256 - len) AS rem
            FROM r WHERE rn = 1
            UNION ALL
            SELECT r.stream, r.rn, r.doc_id,
                   CASE WHEN r.len <= w.rem THEN w.bin ELSE w.bin + 1 END,
                   CASE WHEN r.len <= w.rem THEN w.rem - r.len
                        ELSE greatest(0, 256 - r.len) END
            FROM walk w JOIN r ON r.stream = w.stream AND r.rn = w.rn + 1)
          SELECT doc_id, stream, bin FROM walk ORDER BY doc_id""",
    "q159_mixture_sample" ->
      """WITH c AS (SELECT lang, count(1) AS cnt FROM documents GROUP BY lang),
          m AS (SELECT min(cnt) AS min_cnt FROM c),
          cuts AS (SELECT lang, min_cnt * 10000 // cnt AS cut FROM c, m)
          SELECT d.doc_id, d.lang,
                 CAST('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                      AS BIGINT) % 10000 AS draw,
                 cuts.cut AS cut
          FROM documents d JOIN cuts ON d.lang = cuts.lang
          WHERE CAST('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 10000 < cuts.cut
          ORDER BY d.doc_id""",
    "q160_winsorized_stats" ->
      s"""WITH cnts AS (SELECT lang, n_chars, count(1) AS c
                        FROM documents GROUP BY lang, n_chars),
          cum AS (SELECT lang, n_chars, c,
                         sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum
                  FROM cnts),
          tot AS (SELECT lang, count(1) AS n FROM documents GROUP BY lang),
          th AS (SELECT cum.lang,
                        min(CASE WHEN cum >= (5 * n + 99) // 100
                                 THEN n_chars END) AS lo,
                        min(CASE WHEN cum >= (95 * n + 99) // 100
                                 THEN n_chars END) AS hi,
                        max(n) AS n
                 FROM cum JOIN tot ON cum.lang = tot.lang
                 GROUP BY cum.lang)
          SELECT d.lang, max(th.n) AS n_docs,
                 max(th.lo) AS p05, max(th.hi) AS p95,
                 round(avg(greatest(th.lo, least(th.hi, d.n_chars))) + ${Det.E4}, 4)
                   AS wins_mean,
                 CAST(sum(CASE WHEN d.n_chars < th.lo THEN 1 ELSE 0 END)
                      AS BIGINT) AS clipped_lo,
                 CAST(sum(CASE WHEN d.n_chars > th.hi THEN 1 ELSE 0 END)
                      AS BIGINT) AS clipped_hi
          FROM documents d JOIN th ON d.lang = th.lang
          GROUP BY d.lang ORDER BY d.lang""",
    "q157_histogram_quantiles" ->
      s"""WITH daily AS (
            SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                   CAST(least(499, greatest(0,
                     floor((o_totalprice - 0.0) / 1000.0))) AS INT) AS bin,
                   count(*) AS cnt
            FROM orders GROUP BY 1, 2),
          monthly AS (
            SELECT CAST(CAST(date_trunc('month', day) AS DATE) AS VARCHAR) AS month,
                   bin, SUM(cnt) AS cnt
            FROM daily GROUP BY 1, 2),
          cum AS (
            SELECT month, bin, cnt,
                   SUM(cnt) OVER (PARTITION BY month ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(cnt) OVER (PARTITION BY month) AS n
            FROM monthly)
          SELECT month, CAST(max(n) AS BIGINT) AS n_orders,
                 round(min(CASE WHEN cum >= 0.25 * n AND cum - cnt < 0.25 * n THEN 0.0 + 1000.0 *
                   (bin + (0.25 * n - (cum - cnt)) / cnt) END) + ${Det.E4}, 4)
                   AS est_p25,
                 round(min(CASE WHEN cum >= 0.5 * n AND cum - cnt < 0.5 * n THEN 0.0 + 1000.0 *
                   (bin + (0.5 * n - (cum - cnt)) / cnt) END) + ${Det.E4}, 4)
                   AS est_p50,
                 round(min(CASE WHEN cum >= 0.95 * n AND cum - cnt < 0.95 * n THEN 0.0 + 1000.0 *
                   (bin + (0.95 * n - (cum - cnt)) / cnt) END) + ${Det.E4}, 4)
                   AS est_p95
          FROM cum GROUP BY month ORDER BY month""",
    "q142_source_reputation" ->
      s"""WITH t AS (SELECT doc_id, $TS AS ts FROM documents),
          d AS (SELECT doc_id, ts FROM t WHERE len(ts) >= 8),
          g AS (SELECT doc_id,
                       unnest(list_transform(range(len(ts) - 7),
                         i -> md5(array_to_string(list_slice(ts, i + 1, i + 8), ' ')))) AS gh
                FROM d),
          c AS (SELECT gh, count(1) AS n FROM g GROUP BY gh),
          fr AS (SELECT g.doc_id,
                        sum(CASE WHEN c.n >= 2 THEN 1.0 ELSE 0.0 END)
                          / count(1) AS dup_frac
                 FROM g JOIN c USING (gh) GROUP BY g.doc_id)
          SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                 round(avg(n_chars) + ${Det.E4}, 4) AS avg_chars,
                 CAST(sum(CASE WHEN fr.dup_frac > 0.2 THEN 1 ELSE 0 END)
                      AS BIGINT) AS dup_docs,
                 round(sum(CASE WHEN fr.dup_frac > 0.2 THEN 1 ELSE 0 END)
                       / CAST(count(1) AS DOUBLE) + ${Det.E4}, 4) AS dup_share
          FROM documents LEFT JOIN fr USING (doc_id)
          GROUP BY source ORDER BY source""",
    "q138_column_profile" -> Seq("l_quantity", "l_extendedprice", "l_discount")
      .map(c =>
        s"""SELECT '$c' AS col_name, CAST(count(1) AS BIGINT) AS n_rows,
                   CAST(count($c) AS BIGINT) AS n_nonnull,
                   CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
                   CAST(min($c) AS DOUBLE) AS min_v,
                   CAST(max($c) AS DOUBLE) AS max_v
            FROM lineitem""")
      .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name"),
    "q135_token_entropy" ->
      s"""WITH wc AS (SELECT doc_id, w, CAST(count(1) AS BIGINT) AS c
                      FROM (SELECT doc_id, unnest($TS) AS w FROM documents)
                      GROUP BY doc_id, w)
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(count(1) AS BIGINT) AS n_unique,
                 round(ln(sum(c)) - sum(c * ln(c)) / sum(c) + ${Det.E4}, 4)
                   AS entropy
          FROM wc GROUP BY doc_id ORDER BY doc_id""",
    "q133_decile_stats" ->
      s"""WITH r AS (SELECT o_totalprice,
                            row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
                            count(*) OVER () AS n
                     FROM orders)
          SELECT CAST(((rn - 1) * 10) // n AS INT) AS decile,
                 CAST(count(1) AS BIGINT) AS n_orders,
                 min(o_totalprice) AS min_p, max(o_totalprice) AS max_p,
                 round(avg(o_totalprice) + ${Det.E4}, 4) AS avg_p
          FROM r GROUP BY 1 ORDER BY 1""",
    "q134_weighted_sample" ->
      s"""WITH k AS (SELECT o_orderkey, o_totalprice,
                 (CAST(CAST('0x' || substr(md5('ws:' || CAST(o_orderkey AS VARCHAR)), 1, 13)
                            AS BIGINT) AS DOUBLE) + 1.0) / 4503599627370497.0 AS u
                     FROM orders)
          SELECT o_orderkey, o_totalprice,
                 round(-ln(u) / o_totalprice * 100000 + ${Det.E6}, 6) AS wkey
          FROM k ORDER BY wkey ASC, o_orderkey ASC LIMIT 20""",
    "q123_dup_components" ->
      s"""WITH RECURSIVE $SIG_CTES,
          e AS (SELECT a_id AS src, b_id AS dst FROM pr
                UNION ALL SELECT b_id, a_id FROM pr),
          reach(id, lbl) AS (
            SELECT src, src FROM (SELECT DISTINCT src FROM e)
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id)
          SELECT id, min(lbl) AS cluster
          FROM reach GROUP BY id ORDER BY id""",
    // q172: same 48-bit salted-md5 position key, shard = key mod 16,
    // rank by (key, id) within shard — the window form of the
    // two-phase rank the engine runs.
    "q172_epoch_shuffle" ->
      """WITH h AS (SELECT doc_id,
                           CAST('0x' || substr(md5('ep7:' || CAST(doc_id AS VARCHAR)), 1, 12)
                                AS BIGINT) AS h64
                    FROM documents),
          s AS (SELECT doc_id, h64, CAST(h64 % 16 AS INT) AS shard FROM h)
          SELECT doc_id, shard,
                 CAST(row_number() OVER (PARTITION BY shard
                        ORDER BY h64, doc_id) AS BIGINT) AS rn
          FROM s ORDER BY shard, rn""")
}
