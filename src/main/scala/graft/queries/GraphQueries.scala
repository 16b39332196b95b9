package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.TextDedup

/** Graph analytics over the relational fixture (charter extension —
  * the link-analysis family a data-curation stack reaches for when
  * ranking sources/domains, e.g. quality-weighting a crawl by site
  * authority). The operator itself is `operators.PageRank`: a
  * fixed-iteration Pregel-shaped join–aggregate, one node-keyed
  * shuffle per iteration.
  */
object GraphQueries {

  /** q115: 3-iteration PageRank (d = 0.85) over the undirected
    * customer–supplier bipartite graph induced by orders⋈lineitem
    * (edge = "this customer bought from this supplier"). Both edge
    * directions are materialized so no node dangles. The two key
    * domains stay disjoint via a NUMERIC encoding (custkey·2 /
    * suppkey·2+1) rather than string prefixes: every iteration
    * shuffles on the node key, and hashing/comparing longs beats
    * strings at any scale — the 'c'/'s'-prefixed labels the oracle
    * sees are decoded map-side at emit only. The DuckDB oracle
    * unrolls the same three iterations as CTEs. */
  private def q115(s: SparkSession, d: String): DataFrame = {
    // spread the fact side: the scan→join→explode→partial-dedup map
    // stage otherwise runs on the scan's few splits (3 at sf0.1) while
    // the rest of the machine idles; no-op at scale (Tables.spread)
    val dir = orders(s, d)
      .join(spread(s, lineitem(s, d)), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("src"),
        (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
    // both directions in ONE pass (round 16): the unionAll form ran
    // the orders⋈lineitem join once per arm
    val edges = TextDedup.undirectedEdges(dir, "src", "dst").distinct()
    graft.operators.PageRank.run(edges, iters = 3, damping = 0.85)
      .select(
        when(col("node") % 2 === 0,
          concat(lit("c"), shiftright(col("node"), 1).cast("string")))
          .otherwise(
            concat(lit("s"), shiftright(col("node"), 1).cast("string")))
          .as("node"),
        Det.r6e(col("rank")).as("rank"))
      .transform(Det.emitWide(_, "node"))
  }

  /** q147: triangle cores of the supplier ASSOCIATION graph — each
    * supplier keeps its 5 strongest co-suppliers (pairs sharing an
    * order, ranked by co-occurrence count), and the triangle count per
    * node over that kNN graph surfaces the tightly-clustered cores.
    * The top-k-by-strength edge rule is what keeps the key meaningful
    * at EVERY scale: the raw co-occurrence graph of this fixture (and
    * of any small-alphabet real corpus) is near-complete, where an
    * absolute multiplicity threshold is vacuous at one SF and
    * explosive at another (the q130 degeneracy lesson) — a bounded-
    * degree kNN graph has bounded triangles by construction.
    * Scale shape: the pair aggregate shuffles on the order key with
    * per-order C(items, 2) fan-out; the top-5 filter plans through
    * WindowGroupLimit (map-side pre-trim before the per-node window);
    * `Triangles.perNode` bounds wedges by E^1.5 via degree-ordered
    * orientation. Oracle replicates edge selection and counts the
    * same triangles id-oriented (the triangle SET is orientation-
    * independent). */
  private def q147(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_suppkey").cast("long").as("sk"))
    val pairs = li.join(li.select(col("o"), col("sk").as("sk2")), "o")
      .where(col("sk") < col("sk2"))
      .groupBy("sk", "sk2").agg(count(lit(1)).as("c"))
    val assoc = pairs.select(col("sk").as("s"), col("sk2").as("t"), col("c"))
      .unionAll(pairs.select(col("sk2").as("s"), col("sk").as("t"), col("c")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("s").orderBy(col("c").desc, col("t").asc)
    val knn = assoc.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
    graft.operators.Triangles.perNode(knn, "s", "t")
      .orderBy(col("triangles").desc, col("node").asc)
      .limit(20)
  }

  /** q186: hop-bounded graph expansion as a RECURSIVE-CTE SQL
    * surface (Spark 4.x `WITH RECURSIVE`, the T-SQL-dialect feature
    * the round-9 verdict flagged as the missing SQL face of the
    * engine's library closures): from a SEED set of docs (every
    * 100th id — the bounded "query matches" of a serving call), the
    * docs reachable within ≤ 3 hops over the MinHash-LSH near-dup
    * pair graph, with the minimum hop count — the "expand related
    * documents" query a retrieval pipeline runs around a match.
    * Candidate edges come from the same bucketed LSH machinery q123
    * oracle-validates; only the closure is SQL.
    *
    * Termination & scale shape — three deliberate bounds:
    *  1. `hop` strictly increases to a cap of 3, so the UNION ALL
    *     recursion (Spark has no UNION-distinct working table) is
    *     finite regardless of cycles;
    *  2. each level applies DISTINCT — the frontier carries
    *     (root, node) PAIRS, not walks. Without it the recursion
    *     enumerates Σ deg³ walks (measured 167M at sf0.1 — over the
    *     1M cteRecursionRowLimit); with it a level is ≤ seeds×nodes;
    *  3. the ROOT set is seed-bounded, because the 3-hop closure of
    *     a near-dup graph from EVERY node is component-dense
    *     (measured 21M pairs at sf0.1 even deduped) — all-roots
    *     closures (components) stay on the library fixpoint path
    *     (TextDedup.dupClusters, q123: lineage-truncated min-label
    *     propagation), which is the shape that survives 100 TB.
    * Each recursion level plans as one equi-join shuffle of the
    * frontier on its node key + a distinct aggregate (level-
    * synchronous BFS); the final GROUP BY collapses levels to
    * min-hop pairs. */
  private def q186(s: SparkSession, d: String): DataFrame = {
    val sigs = TextDedup.minhashSignatures(documents(s, d), "doc_id", "text")
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
    // pin the edge table: the recursion references it once per level
    // (anchor + 2 frontier joins) and the LSH build must not re-run
    // per reference
    Det.pin(TextDedup.undirectedEdges(pairs))
      .createOrReplaceTempView("q186_edges")
    s.sql("""
      WITH RECURSIVE reach(root, node, hop) AS (
        SELECT DISTINCT src, dst, 1 FROM q186_edges WHERE src % 100 = 0
        UNION ALL
        SELECT DISTINCT r.root, e.dst, r.hop + 1
        FROM reach r JOIN q186_edges e ON e.src = r.node
        WHERE r.hop < 3)
      SELECT root AS doc_id, node AS related_id,
             CAST(min(hop) AS INT) AS min_hops
      FROM reach WHERE root <> node
      GROUP BY root, node""")
      .transform(Det.emitWide(_, "doc_id", "related_id"))
  }

  /** q225: K-CORE (k = 2) of the MinHash-LSH near-dup pair graph
    * (round 18 — the graph-robustness cut between q202's component
    * SIZE spectrum and q123's membership: a component can be large
    * yet chained — one weak link and it splits; its 2-core is the
    * part where every doc has ≥ 2 near-dup partners, the
    * high-confidence duplication NUCLEUS a curation pass deletes
    * first, and the standard peel diagnostic for dup-graph quality).
    * `TextDedup.kCore` peels to a fixpoint, each round dropping the
    * edges that touch a node of degree < k, with no per-round pin or
    * count job; peel rounds on a near-dup graph are few (its components
    * are near-cliques). Emits each 2-core
    * member with its in-core degree. The oracle unrolls 8 peel rounds
    * over the same SIG_CTES pair graph; the hash-match itself proves
    * the fixture converges within the unroll (the q190/BpeTrain
    * contract). */
  private def q225(s: SparkSession, d: String): DataFrame = {
    val sigs = TextDedup.minhashSignatures(documents(s, d), "doc_id", "text")
    val pairs = TextDedup.lshCandidatePairs(sigs, "doc_id")
    TextDedup.kCore(pairs, k = 2)
      .select(col("id").as("doc_id"), col("deg").as("core_deg"))
      .transform(Det.emitWide(_, "doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q115_pagerank" -> q115,
    "q147_knn_triangles" -> q147,
    "q225_kcore" -> q225,
    "q186_recursive_reach" -> q186)

  // q186's oracle replays the identical hop-bounded UNION ALL
  // recursion in DuckDB over the same SQL-expressed LSH pair graph
  // the q123 oracle validates (same SIG_CTES shingle/minhash/band
  // pipeline); both engines use working-table recursion semantics,
  // so the walk sets — and hence the min-hop pairs — are identical.
  private val q186Oracle =
    s"""WITH RECURSIVE ${MiningQueries.SIG_CTES},
        e AS (SELECT a_id AS src, b_id AS dst FROM pr
              UNION ALL SELECT b_id, a_id FROM pr),
        reach(root, node, hop) AS (
          SELECT DISTINCT src, dst, 1 FROM e WHERE src % 100 = 0
          UNION ALL
          SELECT DISTINCT r.root, e.dst, r.hop + 1
          FROM reach r JOIN e ON e.src = r.node
          WHERE r.hop < 3)
        SELECT root AS doc_id, node AS related_id,
               CAST(min(hop) AS INT) AS min_hops
        FROM reach WHERE root <> node
        GROUP BY root, node ORDER BY doc_id, related_id"""

  // q225: 8 unrolled peel rounds over the shared LSH pair graph; the
  // hash-match proves the fixture fixpoint lands inside the unroll.
  // Every round CTE is MATERIALIZED: each e<r> references e<r-1>
  // three times (via d<r> twice), so an inlined chain expands 3^8
  // references of the whole SIG pipeline — DuckDB runs out of file
  // handles before it runs out of CPU.
  private val q225Oracle: String = {
    val rounds = (1 to 8).map { r =>
      s"""d$r AS MATERIALIZED (
            SELECT src, count(1) AS dg FROM e${r - 1} GROUP BY src),
          e$r AS MATERIALIZED (
            SELECT e.src, e.dst FROM e${r - 1} e
            JOIN d$r a ON a.src = e.src AND a.dg >= 2
            JOIN d$r b ON b.src = e.dst AND b.dg >= 2)"""
    }.mkString(",\n")
    s"""WITH ${MiningQueries.SIG_CTES},
        e0 AS MATERIALIZED (
          SELECT a_id AS src, b_id AS dst FROM pr
          UNION ALL SELECT b_id, a_id FROM pr),
        $rounds
        SELECT src AS doc_id, CAST(count(1) AS BIGINT) AS core_deg
        FROM e8 GROUP BY src ORDER BY doc_id"""
  }

  val oracles: Map[String, String] = Map(
    "q186_recursive_reach" -> q186Oracle,
    "q225_kcore" -> q225Oracle,
    "q115_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT 'c' || CAST(c AS VARCHAR) AS src,
                      's' || CAST(s AS VARCHAR) AS dst FROM e0
               UNION ALL
               SELECT 's' || CAST(s AS VARCHAR), 'c' || CAST(c AS VARCHAR) FROM e0),
         deg AS (SELECT src, CAST(count(1) AS BIGINT) AS deg FROM e GROUP BY src),
         nodes AS (SELECT src AS node FROM deg),
         nn AS (SELECT CAST(count(1) AS DOUBLE) AS n FROM nodes),
         r0 AS (SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN nn),
         c1 AS (SELECT e.dst, sum(r0.r / deg.deg) AS contrib
                FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
                GROUP BY e.dst),
         r1 AS (SELECT node, (1.0 - 0.85) / n + 0.85 * COALESCE(contrib, 0.0) AS r
                FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.dst = nodes.node),
         c2 AS (SELECT e.dst, sum(r1.r / deg.deg) AS contrib
                FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
                GROUP BY e.dst),
         r2 AS (SELECT node, (1.0 - 0.85) / n + 0.85 * COALESCE(contrib, 0.0) AS r
                FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.dst = nodes.node),
         c3 AS (SELECT e.dst, sum(r2.r / deg.deg) AS contrib
                FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src
                GROUP BY e.dst),
         r3 AS (SELECT node, (1.0 - 0.85) / n + 0.85 * COALESCE(contrib, 0.0) AS r
                FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.dst = nodes.node)
         SELECT node, round(r + 0.0000000123, 6) AS rank
         FROM r3 ORDER BY node""",
    "q147_knn_triangles" ->
      """WITH p AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
                           CAST(count(*) AS BIGINT) AS c
                    FROM lineitem a JOIN lineitem b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_suppkey < b.l_suppkey
                    GROUP BY 1, 2),
         d AS (SELECT s1 AS s, s2 AS t, c FROM p
               UNION ALL SELECT s2, s1, c FROM p),
         knn AS (SELECT s, t FROM
                   (SELECT s, t, row_number() OVER
                      (PARTITION BY s ORDER BY c DESC, t ASC) AS rn FROM d)
                 WHERE rn <= 5),
         e AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM knn),
         tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c2
                 FROM e e1 JOIN e e2 ON e2.u = e1.v
                           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         n AS (SELECT a AS node FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c2 FROM tri)
         SELECT CAST(node AS BIGINT) AS node,
                CAST(count(*) AS BIGINT) AS triangles
         FROM n GROUP BY node
         ORDER BY triangles DESC, node ASC LIMIT 20""")
}
