package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable corpus-deduplication operators (charter extensions,
  * SURVEY.md §2.10), parameterized over id/text columns so they apply
  * to any document table — the q8x keys are these operators bound to
  * the fixture schema.
  *
  * All hashing is md5-based (the one hash every engine computes
  * identically) and every operator is a map-side array fold or a
  * bucket-keyed shuffle — no pairwise O(n²) over the corpus, the
  * linear-ish discipline that survives 100 TB.
  */
object TextDedup {

  /** Whitespace tokens with empties dropped. */
  def tokensExpr(textCol: String): Column =
    expr(s"filter(split($textCol, ' '), w -> w <> '')")

  /** Adds `toks` (token array) and `shs` (3-word shingles); drops
    * docs too short to shingle. Tokens materialize ONCE per row —
    * inlining the split into each shingle lambda re-tokenizes the
    * document per element.
    * Input goes through [[graft.Tables.spread]] first (round 16): the
    * tokenize→shingle cascade (and the md5 fan-outs built on it) is
    * the expensive MAP side of every dedup pipeline, and its
    * parallelism is otherwise bounded by the scan's split count — a
    * small single-row-group parquet file runs the whole cascade on ONE
    * core until the first shuffle (measured: the LSH build of every
    * dupClusters consumer serialized on one task). At 100 TB the scan
    * arrives as thousands of splits and spread is a no-op. */
  def withShingles(df: DataFrame, textCol: String): DataFrame =
    graft.Tables.spread(df.sparkSession, df)
      .withColumn("toks", tokensExpr(textCol))
      .where(expr("size(toks) >= 3"))
      .withColumn("shs", expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))

  /** Adds `hs` — the 60-bit md5-derived base hash per shingle, mod
    * p = 1e9+7: the ONE expensive pass (tokenize → shingle → md5)
    * that both MinHash signatures and exact shingle-hash Jaccard
    * consume. Queries needing both (q143/q209 calibration) pin THIS
    * frame once and derive each side map-side — one corpus scan and
    * one md5 cascade instead of two (guide §6). */
  def withShingleHashes(df: DataFrame, textCol: String): DataFrame =
    withShingles(df, textCol)
      .withColumn("hs", expr(
        s"transform(shs, sh -> cast(conv(substring(md5(sh), 1, 15), 16, 10) AS bigint) % 1000000007)"))

  /** MinHash slots from an `hs` base-hash array (map-side fold):
    * slot k = min over (2k+1)·h + 7 + 13k mod p; one row per
    * (id, seed). `carry` columns pass through untouched. */
  def minhashFromHashes(df: DataFrame, idCol: String,
      numHashes: Int = 8, carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol) +: carry.map(col) :+ posexplode(expr(
      s"""transform(sequence(0, ${numHashes - 1}),
           k -> array_min(transform(hs, h -> ((2*k + 1) * h + 7 + 13*k) % 1000000007)))"""))
      .as(Seq("seed", "sig")): _*)

  /** MinHash signatures via universal-hash permutations: one 60-bit
    * md5-derived base hash per shingle mod p = 1e9+7, then slot k is
    * min over (2k+1)·h + 7 + 13k mod p. One md5 per shingle total;
    * entirely map-side (constant numHashes-slot state per doc);
    * output one row per (id, seed). `carry` columns pass through
    * untouched (e.g. an event-time column a streaming consumer's
    * watermark rides on). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, carry: Seq[String] = Nil): DataFrame =
    minhashFromHashes(withShingleHashes(df, textCol), idCol, numHashes, carry)

  /** LSH candidate pairs from single-row bands (b = numHashes, r = 1):
    * ids sharing a signature in any band. One groupBy on the
    * (seed, sig) bucket key; pairs enumerate from each bucket's sorted
    * id list — cost scales with bucket sizes, never corpus². */
  def lshCandidatePairs(signatures: DataFrame, idCol: String): DataFrame =
    signatures
      .groupBy("seed", "sig")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids,
             (a, i) -> transform(slice(ids, i + 2, size(ids)),
                                 b -> named_struct('a_id', a, 'b_id', b))))"""))
        .as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .distinct()

  /** Multi-row-band LSH candidates — the general (bands × rowsPerBand)
    * layout q209's planner scores: a band collides only when ALL of
    * its `rowsPerBand` slots agree, so candidate PRECISION rises with
    * r (the S-curve p(s) = 1 − (1 − s^r)^b sharpens) at the price of
    * recall below the threshold — exactly the dial the planner turns.
    * rowsPerBand = 1 degenerates to `lshCandidatePairs` (OperatorSpec
    * pins the set equality). The band key is the ':'-joined slot
    * values in seed order — a deterministic, engine-neutral string,
    * so the DuckDB oracle replays it with string_agg. Scale: one
    * (id, band) fold to the band keys (map-side combinable), one
    * (band, key) bucket aggregate; pairs enumerate per bucket ∝
    * occupancy, never corpus². */
  def lshCandidatePairsBanded(signatures: DataFrame, idCol: String,
      rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1,
      s"lshCandidatePairsBanded: rowsPerBand must be >= 1, got $rowsPerBand")
    signatures
      .withColumn("band", expr(s"seed div $rowsPerBand"))
      .groupBy(col(idCol), col("band"))
      .agg(sort_array(collect_list(struct(col("seed"), col("sig"))))
        .as("sl"))
      .select(col(idCol), col("band"),
        expr("concat_ws(':', transform(sl, x -> cast(x.sig as string)))")
          .as("bkey"))
      .groupBy("band", "bkey")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids,
             (a, i) -> transform(slice(ids, i + 2, size(ids)),
                                 b -> named_struct('a_id', a, 'b_id', b))))"""))
        .as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .distinct()
  }

  /** EXACT Jaccard similarity self-join via prefix filtering (the
    * AllPairs/PPJoin candidate rule) — the scale path for exact
    * near-dup thresholds, complementing MinHash/LSH (probabilistic,
    * can miss) and the naive token join (explodes on hot tokens: every
    * pair sharing ANY token becomes a candidate — q89 bounds itself to
    * a 50-doc slice for exactly this reason).
    *
    * Rule: order each doc's distinct n-gram set by GLOBAL rarity
    * (document frequency asc, gram asc — one total order shared by all
    * docs); a doc of set size s keeps only its first
    * s − ⌈t·s⌉ + 1 grams as its PREFIX. Two docs with J ≥ t must share
    * at least one prefix gram (if neither prefix intersects, the
    * other's suffix-only overlap is < ⌈t·s⌉ elements on both sides,
    * forcing J < t) — so joining on prefix grams alone finds every
    * qualifying pair, and candidates fan out on the RAREST grams
    * instead of the hottest. The ⌈·⌉ is computed as
    * `ceil(t·s − 1e-9)` on every side (engine and oracle): t·s in
    * IEEE double can land one ulp ABOVE an exact integer (0.6·55 =
    * 33.000…004), and an unguarded ceil would shorten the prefix and
    * void the completeness guarantee; the epsilon only ever lengthens
    * the prefix, which is always safe.
    *
    * Candidates are verified exactly: intersection via a gram-keyed
    * join restricted to candidate pairs, Jaccard from the per-doc set
    * sizes. Scale shape: the df aggregate and per-doc rank window key
    * on gram / doc id (both high-cardinality); the candidate join keys
    * on prefix grams (rare by construction); verification work is
    * Σ_candidates |grams| — at 100 TB add the standard refinements
    * (length filter |b| ≥ t·|a|, positional filter) as pre-join
    * predicates on the same frames.
    *
    * Returns (a_id, b_id, inter, jaccard) for pairs with J ≥ t,
    * a_id < b_id; docs with fewer than `n` tokens have no grams and
    * never pair. */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.6): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val grams = graft.Tables.spread(df.sparkSession, df)
      .withColumn("__toks", tokensExpr(textCol))
      .where(expr(s"size(__toks) >= $n"))
      .select(col(idCol).as("__id"), explode(expr(
        s"""transform(sequence(0, size(__toks) - $n),
              i -> concat_ws(' ', slice(__toks, i + 1, $n)))""")).as("__g"))
      .distinct()
    val dfreq = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__df").asc, col("__g").asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("__id")
    val ranked = grams.join(dfreq, "__g")
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    val pref = ranked.where(
      col("__rn") <= col("__n") - ceil(lit(threshold) * col("__n") - 1e-9) + 1)
    val cand = pref.select(col("__id").as("a_id"), col("__g"))
      .join(pref.select(col("__id").as("b_id"), col("__g")), "__g")
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sizes = grams.groupBy("__id").agg(count(lit(1)).as("__sz"))
    val inter = cand
      .join(grams.select(col("__id").as("a_id"), col("__g")), "a_id")
      .join(grams.select(col("__id").as("b_id"), col("__g")), Seq("b_id", "__g"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("__id").as("a_id"), col("__sz").as("__sa")), "a_id")
      .join(sizes.select(col("__id").as("b_id"), col("__sz").as("__sb")), "b_id")
      .withColumn("jaccard",
        col("inter") / (col("__sa") + col("__sb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("jaccard"))
  }

  /** EXACT shingle CONTAINMENT self-join (Broder's asymmetric
    * C(A,B) = |A∩B| / |A|): every DIRECTED pair where at least
    * `threshold` of A's n-gram shingles also occur in B — the
    * near-subset detector Jaccard can't express (a 50-gram quote
    * inside a 5000-gram doc has J ≈ 0.01 but C = 1.0): sub-document
    * duplication, quotation mining, and the eval-question-inside-
    * train-doc decontamination case. Candidate generation is the
    * one-sided prefix filter: if C(A,B) ≥ t then at most
    * |A| − ⌈t·|A|⌉ of A's grams miss B, so A's
    * |A| − ⌈t·|A|⌉ + 1 RAREST grams (global-df order — the q148
    * rule, same ceil guard) must intersect B's full gram set;
    * joining A-prefix grams against ALL grams finds every qualifying
    * directed pair, and the oracle IS the naive all-grams join, so
    * completeness is hash-proven per run. Shapes: gram explode +
    * distinct is (doc, gram)-keyed; the df rank is the q148 window;
    * the candidate join is a gram equi-join ∝ prefix-gram df
    * occupancy (never docs²); verification joins candidates only.
    * Containment is an exact-integer division. */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.8): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val grams = graft.Tables.spread(df.sparkSession, df)
      .withColumn("__toks", tokensExpr(textCol))
      .where(expr(s"size(__toks) >= $n"))
      .select(col(idCol).as("__id"), explode(expr(
        s"""transform(sequence(0, size(__toks) - $n),
              i -> concat_ws(' ', slice(__toks, i + 1, $n)))""")).as("__g"))
      .distinct()
    val dfreq = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__df").asc, col("__g").asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("__id")
    val ranked = grams.join(dfreq, "__g")
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    val pref = ranked.where(
      col("__rn") <= col("__n") - ceil(lit(threshold) * col("__n") - 1e-9) + 1)
    val cand = pref.select(col("__id").as("a_id"), col("__g"))
      .join(grams.select(col("__id").as("b_id"), col("__g")), "__g")
      .where(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    val sizes = grams.groupBy("__id").agg(count(lit(1)).as("__sz"))
    val inter = cand
      .join(grams.select(col("__id").as("a_id"), col("__g")), "a_id")
      .join(grams.select(col("__id").as("b_id"), col("__g")), Seq("b_id", "__g"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("__id").as("a_id"), col("__sz").as("sa")), "a_id")
      .withColumn("containment", col("inter") / col("sa"))
      .where(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("sa"),
        col("containment"))
  }

  /** Exact dedup groups by full-content hash; keeps the min id as the
    * canonical representative. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** 60-bit SimHash per document via the native codegen'd expression
    * graft.functions.SimHash64 — single map-side pass, no fan-out. */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.SimHash64.register(df.sparkSession)
    // spread: the per-doc tokenize+hash expression is the heavy map
    // side and otherwise runs on as few cores as the scan has splits
    graft.Tables.spread(df.sparkSession, df)
      .select(col(idCol), expr(s"simhash64($textCol)").as("simhash"))
  }

  /** Both directions of every (idA, idB) pair as (src, dst), in ONE
    * pass over the pair pipeline — a two-arm union runs whatever
    * produced the pairs once per arm. The edge build of [[dupClusters]],
    * [[kCore]], [[PageRank.undirected]] and q186's recursive reach. */
  def undirectedEdges(pairs: DataFrame, idA: String = "a_id",
      idB: String = "b_id"): DataFrame =
    pairs.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Round one's labels: each id its own cluster, all to be sent. */
  def dupClustersSeed(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).withColumn("__chg", lit(true))

  /** One min-label propagation round of [[dupClusters]] over `edges`
    * (src, dst) and `labels` (id, cluster, __chg):
    * `union(own labels, edges ⋈ labels)` grouped by id, so the round's
    * one shuffle is that aggregate's. Only the labels the previous
    * round changed (`__chg`) are sent along edges — an unchanged label
    * already reached every neighbour — so the join side shrinks as
    * components settle (broadcast while it fits). The probe counts the
    * ids whose label dropped. `graft.Explain dupclusters iter` dumps it. */
  def dupClustersRound(edges: DataFrame)(labels: DataFrame): (DataFrame, Column) = {
    val sent = edges.join(labels.where(col("__chg"))
        .select(col("id").as("src"), col("cluster")), "src")
      .select(col("dst").as("id"), col("cluster"), lit(false).as("__self"))
    val next = labels.select(col("id"), col("cluster"), lit(true).as("__self"))
      .unionByName(sent)
      .groupBy("id")
      .agg(min("cluster").as("cluster"),
        min(when(col("__self"), col("cluster"))).as("__was"))
      .select(col("id"), col("cluster"), (col("cluster") < col("__was")).as("__chg"))
    (next, count_if(col("__chg")))
  }

  /** Connected components over candidate pairs — duplicate CLUSTERS:
    * (id, cluster) with cluster = the min id of the component.
    * Dropping each pair's higher id (the naive rule) can keep two
    * transitively-linked docs: pairs (7,9) and (5,9) never list 7 as a
    * b_id, so 5 and 7 both survive although 9 links them.
    * [[dupClustersRound]] runs on the [[Fixpoint]] loop for O(diameter)
    * rounds (dup clusters are shallow). The edge set is truncated once,
    * since every round reads it, and released on return. Truncation is
    * [[Checkpoints.truncate]]: localCheckpoint by default (an executor
    * loss on a real cluster fails the job), reliable when the session
    * sets `spark.graft.checkpoint.dir`. A component needing more than
    * `maxIter` rounds throws instead of breaking the min-id contract;
    * `onRound` receives (round, wall ms). */
  def dupClusters(pairs: DataFrame, idA: String = "a_id",
      idB: String = "b_id", maxIter: Int = 20,
      onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    val edges = Checkpoints.truncate(undirectedEdges(pairs, idA, idB))
    try Fixpoint.run(dupClustersSeed(edges), "dupClusters", maxIter, onRound)(
        dupClustersRound(edges))
      .select("id", "cluster")
    finally Checkpoints.release(edges)
  }

  /** Round one's edges: [[undirectedEdges]], none flagged. */
  def kCoreSeed(pairs: DataFrame): DataFrame =
    undirectedEdges(pairs).withColumn("__drop", lit(false))

  /** One peel round of [[kCore]] over `edges` (src, dst, __drop), both
    * directions of every edge: drop the rows the previous round flagged,
    * then flag each row with an end of degree < k — the degree
    * aggregate's low nodes joined back on src and on dst (broadcast
    * while they fit), so both directions of an edge go together. The
    * probe counts the flagged rows. `graft.Explain kcore iter` dumps it. */
  def kCoreRound(k: Int)(edges: DataFrame): (DataFrame, Column) = {
    val live = edges.where(!col("__drop")).select("src", "dst")
    val low = live.groupBy(col("src").as("__low"))
      .agg(count(lit(1)).as("__deg")).where(col("__deg") < k)
    val next = live
      .join(low.as("a"), col("src") === col("a.__low"), "left")
      .join(low.as("b"), col("dst") === col("b.__low"), "left")
      .select(col("src"), col("dst"),
        (col("a.__low").isNotNull || col("b.__low").isNotNull).as("__drop"))
    (next, count_if(col("__drop")))
  }

  /** K-CORE of the pair graph: the largest subgraph in which every node
    * keeps at least `k` neighbours — on a near-dup graph, the
    * high-confidence duplication nucleus. [[kCoreRound]] peels on the
    * [[Fixpoint]] loop until a round flags no edge. Pairs (a_id, b_id)
    * must be distinct undirected edges, as `lshCandidatePairs` emits.
    * Returns (id, deg) per core node, deg its in-core degree; empty
    * when the core is. More than `maxIter` rounds throws. The result
    * reads the last round's checkpoint: GC frees it, `clearCache` not. */
  def kCore(pairs: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    Fixpoint.run(kCoreSeed(pairs), "kCore", maxIter, (_, _) => ())(kCoreRound(k))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
  }

  /** Per-doc contamination scores against a benchmark corpus — the
    * screen a training pipeline runs against its eval sets BEFORE
    * training: for each doc, the fraction of its DISTINCT word-trigrams
    * (map-side `array_distinct` — per-doc dedup needs no shuffle) that
    * appear anywhere in `benchmark`'s text. The distinct benchmark
    * trigram set is eval-corpus-sized, so it broadcasts into the probe
    * join; one pass over the corpus, shuffles keyed on doc id.
    * Returns (idCol, n_tri, n_hit, contam). Docs too short to shingle
    * (< 3 tokens) are absent from the output. */
  def contaminationScores(df: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame): DataFrame = {
    def tris(d: DataFrame) = withShingles(d, textCol)
      .withColumn("__tris", array_distinct(col("shs")))
    val bench = tris(benchmark)
      .select(explode(col("__tris")).as("__tri")).distinct()
      .withColumn("__hit", lit(1))
    tris(df)
      .select(col(idCol), size(col("__tris")).cast("long").as("__nt"),
        explode(col("__tris")).as("__tri"))
      .join(broadcast(bench), Seq("__tri"), "left")
      .groupBy(idCol)
      .agg(max("__nt").as("n_tri"),
        sum(coalesce(col("__hit"), lit(0))).as("n_hit"))
      .withColumn("contam", col("n_hit") / col("n_tri"))
  }

  /** Repeated-n-gram span statistics — per doc (≥ n tokens): total
    * n-gram positions, positions whose n-gram occurs ≥ 2 times
    * ANYWHERE in the corpus (within-doc repeats count), and the
    * duplicated fraction. The span-level signal behind exact-substring
    * training-data dedup (Lee et al. 2022): high `dup_frac` docs are
    * trimmed or cut before training. Grams travel as md5 hashes (16
    * bytes, never the text); the occurrence count is a gram-keyed hash
    * aggregate (map-side combine) joined back on the SAME gram key —
    * a co-located high-cardinality shuffle join (never a broadcast:
    * the corpus's gram set is corpus-sized). n_pos comes from the gram
    * table itself, so the corpus is scanned once.
    * Returns (idCol, n_pos, dup_pos, dup_frac — unrounded). */
  def repeatedNgramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, s"repeatedNgramStats: n must be >= 2, got $n")
    // pinned (round 16): grams feeds the occurrence count AND the join
    // back, and the two consumers' exchange subtrees differ (partial
    // agg below one, raw rows below the other), so ReuseExchange
    // cannot dedupe them — unpinned, the tokenize+md5 cascade ran
    // twice per call (consumers q127/q142).
    val grams = graft.Tables.spread(df.sparkSession, df)
      .withColumn("__toks", tokensExpr(textCol))
      .where(expr(s"size(__toks) >= $n"))
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(__toks) - $n), " +
          s"i -> md5(concat_ws(' ', slice(__toks, i + 1, $n))))")).as("__gh"))
    if (grams.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      grams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = grams.groupBy("__gh").agg(count(lit(1)).as("__n"))
    grams.join(counts, "__gh")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("dup_pos"))
      .withColumn("dup_frac", col("dup_pos") / col("n_pos"))
  }

  /** Uniform integer draw in [0, 10000) from a salted md5 of the id —
    * the replayable substitute for `rand()` in sampling decisions:
    * deterministic across engines, retries and runs. */
  def hashDraw(idCol: String, salt: String = "smp"): Column =
    expr(s"cast(conv(substring(md5(concat('$salt:', cast($idCol as string))), " +
      "1, 15), 16, 10) as bigint) % 10000")

  /** Deterministic stratified hash-sampling — per-stratum keep rates
    * (domain mixing weights) applied as a pure map-side integer
    * compare on `hashDraw`: no shuffle, no rand(), reproducible at any
    * scale and under task retries. */
  def hashSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      salt: String = "smp"): DataFrame = {
    val cut = rates.foldLeft(when(lit(false), lit(0))) {
      case (w, (k, r)) => w.when(col(strataCol) === k, lit((r * 10000).toInt))
    }.otherwise(lit((defaultRate * 10000).toInt))
    df.where(hashDraw(idCol, salt) < cut)
  }

  /** CONTENT-DEFINED chunking (q184) — the FastCDC/rsync idea at token
    * grain: a chunk boundary falls wherever the md5 of the `window`
    * tokens ENDING at a position is ≡ 0 (mod `mod`), so boundaries are
    * a function of LOCAL content only. A fixed-width chunker (q108)
    * loses every chunk after an insertion (all offsets shift); CDC
    * boundaries re-synchronize within one window, so sub-document
    * dedup survives edits (OperatorSpec pins exactly this contrast).
    * Expected chunk length ≈ `mod` tokens. All map-side per doc:
    * boundary positions via one indexed transform, chunk strings via
    * a zip over boundary-delimited ranges — no shuffle, no UDF.
    * Returns (idCol, ci, chunk) — ci the in-doc chunk index. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 4, mod: Int = 64): DataFrame = {
    require(window >= 1 && mod >= 2, s"bad cdc config: $window/$mod")
    graft.Tables.spread(df.sparkSession, df)
      .withColumn("__toks", tokensExpr(textCol))
      .where(expr("size(__toks) >= 1"))
      .withColumn("__bpos", expr(
        s"""filter(transform(sequence(0, size(__toks) - 1),
              i -> IF(i >= ${window - 1} AND
                      cast(conv(substring(md5(concat_ws(' ',
                        slice(__toks, i - ${window - 2}, $window))), 1, 15),
                        16, 10) as bigint) % $mod = 0, i, -1)),
            p -> p >= 0)"""))
      .select(col(idCol), posexplode(expr(
        s"""filter(zip_with(
              transform(concat(array(-1), __bpos), p -> p + 1),
              concat(__bpos, array(size(__toks) - 1)),
              (st, en) -> IF(en >= st,
                concat_ws(' ', slice(__toks, st + 1, en - st + 1)),
                NULL)),
            c -> c IS NOT NULL)""")).as(Seq("ci", "chunk")))
  }

  /** EXACT sub-document dedup at CDC-chunk grain (Lee et al.'s
    * remove-duplicate-substrings in spirit, q185): every chunk keeps
    * its corpus-wide FIRST occurrence (min (doc, position)), later
    * occurrences — across docs AND within one — are removed, and the
    * survivors rejoin in position order. cdcChunks' boundary locality
    * is what makes this robust to edits: a copied-then-lightly-edited
    * paragraph still shares most chunks with its source. Docs whose
    * every chunk is a repeat drop out entirely (nothing left to
    * keep). Shuffles: one chunk-hash aggregate for keepers + one
    * doc-keyed regroup; never corpus². The keeper key is the FULL
    * 128-bit md5 (not a truncation): at corpus scale a 60-bit key
    * sees birthday collisions that silently delete distinct content,
    * and no verification against the same truncated key could catch
    * it. Returns (idCol, textCol). */
  def dedupCdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 4, mod: Int = 64): DataFrame = {
    val ch = cdcChunks(df, idCol, textCol, window, mod)
      .withColumn("__h", md5(col("chunk")))
    val keep = ch.groupBy("__h")
      .agg(min(struct(col(idCol), col("ci"))).as("__first"))
      .select(col("__h"), col(s"__first.$idCol").as("__kid"),
        col("__first.ci").as("__kci"))
    ch.join(keep, Seq("__h"))
      .where(col(idCol) === col("__kid") && col("ci") === col("__kci"))
      .groupBy(idCol)
      .agg(expr(
        "concat_ws(' ', transform(array_sort(collect_list(struct(ci, chunk))), s -> s.chunk))")
        .as(textCol))
  }

  /** TEMPERATURE-scaled mixture sampling (q176; CleanCorpus' derived
    * alternative to explicit `hashSample` rates): per-stratum
    * keep-rate (min_cnt/cnt)^(1−α) on the shared 10000-grid draw —
    * α = 0 is q159's full balance, α = 1 keeps the natural mix,
    * in-between damps over-represented strata toward the smallest.
    * Cuts DERIVE from the input's own counts (one bounded aggregate
    * broadcasts back; the keep decision stays map-side) so the same
    * call re-balances any corpus without hand-tuned rates. */
  def temperatureSample(df: DataFrame, idCol: String, strataCol: String,
      alpha: Double, salt: String = "temp"): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    val cnts = df.groupBy(strataCol).agg(count(lit(1)).as("__cnt"))
    val minc = cnts.agg(min("__cnt").as("__min_cnt"))
    val cuts = cnts.crossJoin(broadcast(minc))
      .withColumn("__cut",
        floor(pow(col("__min_cnt").cast("double") / col("__cnt"),
          1.0 - alpha) * 10000).cast("long"))
      .select(col(strataCol), col("__cut"))
    df.join(broadcast(cuts), Seq(strataCol))
      .where(hashDraw(idCol, salt) < col("__cut"))
      .drop("__cut")
  }

  /** Deterministic N-way split (train/val/test) — fractions map to
    * DISJOINT, EXHAUSTIVE bands of the same 10000-grid hash draw
    * hashSample uses: pure map-side, no rand(), identical assignment
    * on any engine, any retry, any partitioning. Band layout is
    * prefix-stable: earlier splits keep their band when LATER
    * fractions are subdivided (e.g. splitting a 20% holdout into
    * val/test moves no train row) — the property an
    * eval-contamination audit depends on. Fractions must sum to 1;
    * the rounding remainder lands in the last split. Appends
    * `split`. */
  def hashSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], salt: String = "spl"): DataFrame = {
    require(splits.nonEmpty, "hashSplit: splits must be non-empty")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"hashSplit: fractions must sum to 1, got ${splits.map(_._2).sum}")
    require(!df.columns.contains("split"),
      "hashSplit: input already has a 'split' column")
    val cuts = splits.scanLeft(0L) {
      case (acc, (_, f)) => acc + (f * 10000).round }.tail
    val draw = hashDraw(idCol, salt)
    val assigned = splits.zip(cuts).foldLeft(
      when(lit(false), lit("")): Column) {
      case (w, ((name, _), cut)) => w.when(draw < cut, lit(name))
    }.otherwise(lit(splits.last._1))
    df.withColumn("split", assigned)
  }

  /** SimHash near-dup pairs, EXACT for hamming distance ≤ `maxHamming`
    * — pigeonhole banding: split the 60 simhash bits into
    * maxHamming + 1 bands; ≤ maxHamming differing bits cannot corrupt
    * every band, so every qualifying pair shares at least one band
    * verbatim. Candidates join on (band index, band value) — a
    * high-cardinality bucket key, never corpus² — then the exact
    * `bit_count(xor)` filter drops false candidates. The whole
    * pipeline is one map-side simhash pass + one bucket-keyed join. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    val bandWidth = 60 / bands
    val mask = (1L << bandWidth) - 1
    // pinned (round 16): both sides of the band self-join consume this
    // frame, and when the join goes broadcast there is no exchange for
    // ReuseExchange to dedupe — unpinned, the map-side simhash pass
    // ran once per side (consumers q103/q124/q180/q198).
    val banded = simhashes(df, idCol, textCol)
      .select(col(idCol), col("simhash"),
        explode(expr(
          s"""transform(sequence(0, ${bands - 1}),
               i -> named_struct('bi', i,
                 'bv', shiftright(simhash, i * $bandWidth) & $mask))"""))
          .as("b"))
      .select(col(idCol), col("simhash"), col("b.bi").as("bi"), col("b.bv").as("bv"))
    if (banded.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      banded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = banded.select(col(idCol).as("a_id"), col("simhash").as("a_sh"),
      col("bi"), col("bv"))
    val b = banded.select(col(idCol).as("b_id"), col("simhash").as("b_sh"),
      col("bi").as("bi2"), col("bv").as("bv2"))
    a.join(b, col("bi") === col("bi2") && col("bv") === col("bv2") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("bit_count(a_sh ^ b_sh)").cast("int").as("hd"))
      // filter BEFORE the dedup shuffle (guide §2.3): hamming is a
      // per-row map-side compare, and a pair failing it fails in every
      // band — the distinct's exchange then carries only qualifying
      // pairs instead of every band collision. Same result set
      // (filter and distinct commute on identical rows).
      .where(col("hd") <= maxHamming)
      .distinct()
  }
}
