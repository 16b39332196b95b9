package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.TextDedup

/** End-to-end training-data cleaning pipeline — the library's
  * operators composed the way a 100 TB corpus run would chain them
  * (charter: BASELINE.json:6 "operations a large-scale training-data
  * pipeline would need"):
  *
  *   1. exact dedup         — md5 content groups, keep min id
  *   2. near-dup removal    — MinHash/LSH candidate pairs, drop all
  *                            but each cluster's min id (transitive)
  *   2c. semantic dedup     — optional SemDeDup pass over doc
  *                            embeddings: within each embedding
  *                            cluster, drop members dominated by a
  *                            near-duplicate closer to the centroid
  *                            (q175's verdicts; skipped without
  *                            embeddings or at minCos = 1.0)
  *   3. contamination screen— drop docs whose distinct-trigram overlap
  *                            with the eval `benchmark` exceeds
  *                            `maxContam` (skipped when no benchmark)
  *   3b. span-dedup cap     — drop docs whose repeated-8-gram fraction
  *                            exceeds `maxNgramDupFrac` (Lee et al.
  *                            exact-substring signal; skipped at the
  *                            default 1.0)
  *   4. repetition filter   — Gopher-style duplicate-word fraction cap
  *                            (q99's shape: two counters per doc)
  *   5. quality filter      — length/stopword composite ≥ threshold
  *   6. annotation          — whitespace + BPE-ish token counts
  *   7. mixing weights      — deterministic stratified hash-sample per
  *                            `lang` (`sampleRates`/`defaultRate`;
  *                            rate 1.0 keeps everything), or the
  *                            DERIVED temperature diet
  *                            (`temperatureAlpha` — q176's
  *                            √-damping, cuts from the clean corpus'
  *                            own counts)
  *
  * Every stage is a shuffle on a content/bucket key or a map-side
  * expression — nothing quadratic, nothing driver-side. Stage order
  * matters at scale: exact dedup first (cheapest, biggest shrink),
  * LSH on the survivors only, the trigram screen and per-word
  * aggregation after both, sampling last (weights apply to the CLEAN
  * corpus).
  *
  * Invariants (pinned by CleanCorpusSpec): output ids are unique, no
  * two retained docs share a content hash, no retained pair is an LSH
  * candidate, every retained doc passes the repetition cap and the
  * quality floor, no retained doc exceeds the contamination cap or
  * the repeated-8-gram span cap, and the sample is a deterministic
  * subset honoring a zero rate.
  */
object CleanCorpus {

  def run(docs: DataFrame, minQuality: Double = 0.3,
      maxDupRatio: Double = 0.7,
      benchmark: Option[DataFrame] = None, maxContam: Double = 0.5,
      maxNgramDupFrac: Double = 1.0,
      sampleRates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      embeddings: Option[DataFrame] = None, semanticMinCos: Double = 1.0,
      temperatureAlpha: Option[Double] = None): DataFrame = {
    // 1. exact dedup — semi join against the canonical ids
    val keep = TextDedup.exactDupGroups(docs, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val exactDeduped = docs.join(keep, "doc_id")

    // 2. near-dup removal — connected components over the LSH
    // candidate pairs, keep each cluster's min id. Transitive: pairs
    // (7,9) + (5,9) put 5/7/9 in ONE cluster, so 7 is dropped even
    // though no pair lists it second (the naive drop-the-b rule would
    // keep both 5 and 7).
    val pairs = TextDedup.lshCandidatePairs(
      TextDedup.minhashSignatures(exactDeduped, "doc_id", "text"), "doc_id")
    val dropIds = TextDedup.dupClusters(pairs)
      .where(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"))
    val nearDeduped0 = exactDeduped.join(dropIds, Seq("doc_id"), "left_anti")

    // 2c. semantic dedup (optional) — SemDeDup verdicts over the doc
    // embeddings (vec_id ≡ doc_id, `label` = the pre-assigned
    // cluster): drop members DOMINATED by a near-duplicate closer to
    // their cluster centroid (Similarity.semanticDedupVerdicts; the
    // retained set never contains a within-cluster pair at or above
    // the threshold). Runs after the text dedups on purpose — the
    // cosine pass only pays for docs that survived the cheaper
    // content-based stages.
    val nearDeduped = embeddings match {
      case Some(em) if semanticMinCos < 1.0 =>
        val sem = graft.operators.Similarity.semanticDedupVerdicts(
            em.join(nearDeduped0.select(col("doc_id").as("vec_id")), "vec_id"),
            "vec_id", "embedding", "label", semanticMinCos)
          .where(!col("keep"))
          .select(col("vec_id").as("doc_id"))
        nearDeduped0.join(sem, Seq("doc_id"), "left_anti")
      case _ => nearDeduped0
    }

    // 3. contamination screen — anti-join against the over-cap ids
    // (docs too short to shingle have no score and pass: nothing to
    // leak in < 3 tokens)
    val decontaminated = benchmark.fold(nearDeduped) { b =>
      val hot = TextDedup
        .contaminationScores(nearDeduped, "doc_id", "text", b)
        .where(col("contam") > maxContam)
        .select("doc_id")
      nearDeduped.join(hot, Seq("doc_id"), "left_anti")
    }

    // 3b. span-dedup cap — repeated-8-gram fraction over the SURVIVING
    // corpus (docs shorter than 8 tokens have no spans and pass).
    // Computed after the dedup stages on purpose: removed duplicates
    // must not keep inflating the survivors' gram counts.
    val spanCapped =
      if (maxNgramDupFrac >= 1.0) decontaminated
      else {
        val hot = TextDedup
          .repeatedNgramStats(decontaminated, "doc_id", "text")
          .where(col("dup_frac") > maxNgramDupFrac)
          .select("doc_id")
        decontaminated.join(hot, Seq("doc_id"), "left_anti")
      }

    // 4. repetition cap — duplicate-word fraction per doc (two hash
    // aggregates keyed (doc, word) → doc; two counters of state)
    val dupRatio = spanCapped
      .select(col("doc_id"), explode(TextDedup.tokensExpr("text")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((lit(1.0) - count(lit(1)) / sum("c")).as("dup_word_ratio"))
    val unrepetitive = spanCapped.join(dupRatio, "doc_id")
      .where(col("dup_word_ratio") <= maxDupRatio)

    // 5+6. quality + annotation, one map-side pass
    val toks = TextDedup.tokensExpr("text")
    val stop = "array('the','a','of','to','and','in')"
    val annotated = unrepetitive
      .withColumn("nw", size(toks))
      .withColumn("ns", expr(s"size(filter(split(text, ' '), w -> array_contains($stop, w)))"))
      .withColumn("quality",
        least(lit(1.0), col("nw") / 60.0) * (lit(1.0) - col("ns") / col("nw")))
      .where(col("quality") >= minQuality)
      .withColumn("bpe_tokens", size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))))
      .select("doc_id", "text", "lang", "nw", "bpe_tokens", "quality",
        "dup_word_ratio")

    // 7. mixing weights — deterministic, map-side, replay-safe.
    // temperatureAlpha derives the per-lang cuts from the CLEAN
    // corpus' own counts (TextDedup.temperatureSample — q176's diet);
    // explicit sampleRates are the hand-tuned alternative.
    temperatureAlpha match {
      case Some(a) =>
        TextDedup.temperatureSample(annotated, "doc_id", "lang", a)
      case None =>
        if (sampleRates.isEmpty && defaultRate >= 1.0) annotated
        else TextDedup.hashSample(annotated, "doc_id", "lang",
          sampleRates, defaultRate)
    }
  }

  /** `run` → `Packing.packGreedy`: the MATERIALIZATION step that
    * closes the pipeline — the cleaned, annotated corpus packed into
    * ≤ `capacity`-token context windows (by the BPE-ish token count
    * the annotation stage already computed), ready to batch. Returns
    * the cleaned rows with their (stream, bin) packing key; readers
    * group by (stream, bin) to assemble sequences. Same scale shape
    * as the stages before it: one shuffle on the hashed stream key,
    * sorted O(1)-state partition scans (see operators.Packing). */
  def runPacked(docs: DataFrame, capacity: Long = 2048, streams: Int = 64,
      minQuality: Double = 0.3, maxDupRatio: Double = 0.7,
      benchmark: Option[DataFrame] = None, maxContam: Double = 0.5,
      maxNgramDupFrac: Double = 1.0,
      sampleRates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0, pin: Boolean = true): DataFrame = {
    // the cleaned frame feeds BOTH the join's left side and the
    // packing walk — pinned (default) or the whole cleaning cascade
    // (dedup, LSH, contamination screen, quality pass) executes
    // twice. The pinned intermediate lives until the session ends or
    // `spark.catalog.clearCache()`; long-lived sessions cycling many
    // corpora should pass `pin = false` (accepting the recompute) or
    // clear the cache between corpora — same trade buildIvfIndex
    // documents for its serving index.
    val cleaned = run(docs, minQuality, maxDupRatio, benchmark, maxContam,
      maxNgramDupFrac, sampleRates, defaultRate)
    val clean = if (pin) graft.queries.Det.pin(cleaned) else cleaned
    clean.join(
      graft.operators.Packing.packGreedy(
        clean, "doc_id", "bpe_tokens", capacity, streams),
      "doc_id")
  }

  /** Demo main: clean the fixture corpus, print the funnel. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session()
    val in = Tables.spread(spark, Tables.documents(spark, sfDir))
    val out = CleanCorpus.run(in)
    println(s"input=${in.count()} clean=${out.count()}")
    spark.stop()
  }
}
