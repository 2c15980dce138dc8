package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative link-graph computation in DataFrame form.
  *
  * Curation pipelines weight sources by graph centrality (the classic
  * web-corpus signal: a page's rank in the link graph feeds its quality
  * prior). This is the Pregel-shaped member of the operator family —
  * a fixed-point loop where each step is one declarative Spark job —
  * expressed without RDDs: per-iteration lineage is truncated with
  * `localCheckpoint()` (the documented pattern for iterative DataFrame
  * algorithms; data stays distributed on executors).
  *
  * Scale shape: `edges` is deduplicated, hash-partitioned by `src` and
  * cached ONCE — every iteration reuses that layout, so the per-round
  * cost is one |V|-sized shuffle of the rank vector to the edge
  * partitioning plus one |E|→|V| aggregation shuffle; nothing
  * re-reads the fact tables after edge derivation. Iterations are a
  * fixed constant, so total cost is O(iters · (|V| + |E|)) with no
  * driver-side data movement.
  */
object Graph {

  /** Integer-exact PageRank: ranks are BIGINTs scaled by `scale`
    * (initial rank = `scale`, i.e. 1.0); one step is
    *
    *   r'(v) = (15·scale) div 100  +  (85 · Σ_{u→v} (r(u) div deg(u))) div 100
    *
    * — floor divisions of nonnegative BIGINTs only, so every engine
    * computes bit-identical ranks (the same trick as the BM25
    * integer-rational scores). The damping mass lost to flooring is
    * ≤ 1 ulp per term — irrelevant for ordering, essential for
    * engine-exact gating.
    *
    * Dangling nodes contribute nothing (the published "weak" PageRank
    * variant); callers wanting the strongly-connected behavior
    * symmetrize the edge set first (as the l96 query does).
    *
    * `scale` is the precision-vs-overflow dial: Σ r ≤ |V|·scale and the
    * hot intermediate is 85·Σ — keep |V|·scale ≲ 10^17. The 1e9 default
    * holds to ~10^8 nodes; drop to 1e6 for a 10^11-node web graph.
    *
    * Reference framing: better-cdc has no graph operator — this is one
    * of the training-data-pipeline additions (source-quality priors
    * from link centrality).
    */
  def pageRank(edges0: DataFrame, iters: Int = 6,
      scale: Long = 1000000000L): DataFrame =
    withEdges(edges0) { (edgeDeg, nodes) =>
      val base = (15L * scale) / 100L
      var r = nodes.withColumn("r", lit(scale))
      for (i <- 1 to iters) {
        // LAZY checkpoints truncate lineage without running a job each —
        // with AQE off (withEdges) nothing executes until the FINAL
        // round's eager checkpoint, which materializes the whole loop as
        // ONE multi-stage job instead of one driver round-trip per round
        // (the eager form also rebuilt a broadcast per round). The final
        // round is eager ON PURPOSE: it must run while the loop's width
        // scope is still in force, not at the caller's session width.
        r = nodes.join(inflowOf(edgeDeg, r), Seq("node"), "left")
          .select(col("node"),
            (lit(base) +
              expr("(85 * coalesce(inflow, 0L)) div 100")).as("r"))
          .localCheckpoint(i == iters)
      }
      r
    }

  /** Personalized (seed-teleport) PageRank, integer-exact like
    * [[pageRank]] but with BOTH the initial mass and the per-step
    * teleport term restricted to `seeds0` (one `node` column — e.g. a
    * trusted-source allowlist):
    *
    *   r'(v) = [v ∈ S]·((15·scale) div 100)
    *            + (85 · Σ_{u→v} (r(u) div deg(u))) div 100
    *
    * The fixed-point is proximity to the seed set through the link
    * graph — the web-curation recipe for propagating quality from a
    * hand-audited allowlist to the whole corpus (a page linked by
    * trusted pages inherits trust; one hop dilutes it by the damping
    * factor). Nodes unreachable from any seed in `iters` hops hold
    * rank 0 exactly, so the result is naturally sparse — callers
    * filter `r > 0`.
    *
    * Scale shape: identical per-iteration cost to [[pageRank]]; the
    * seed set is tiny by nature and BROADCASTS into the node frame
    * once — the iteration never touches it again.
    */
  def personalizedPageRank(edges0: DataFrame, seeds0: DataFrame,
      iters: Int = 6, scale: Long = 1000000000L): DataFrame =
    withEdges(edges0) { (edgeDeg, nodes0) =>
      val seeds = broadcast(seeds0
        .select(col("node").cast("long").as("node")).distinct()
        .withColumn("is_seed", lit(true)))
      val nodes = nodes0.join(seeds, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("is_seed"), lit(false)).as("is_seed"))
        .persist()
      val base = (15L * scale) / 100L
      var r = nodes.select(col("node"),
        when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("r"))
      for (i <- 1 to iters) {
        // lazy rounds + eager final — see pageRank
        r = nodes.join(inflowOf(edgeDeg, r), Seq("node"), "left")
          .select(col("node"),
            (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
              expr("(85 * coalesce(inflow, 0L)) div 100")).as("r"))
          .localCheckpoint(i == iters)
      }
      nodes.unpersist()
      r
    }

  /** Shared iteration scope: deduped edges MATERIALIZED and counted once
    * (the derivation — fact-table joins + distinct — runs at session
    * width with AQE on), then `body` runs under
    * [[SessionConf.narrowed]] at ~250k edges (~4 MB of long pairs) per
    * partition. An iteration stage is a CPU-bound join+aggregation over
    * every edge, not a pure shuffle, so it wants far smaller partitions
    * than the 100 MB-1 GB shuffle guidance — the previous 2M-row sizing
    * ran a 700k-edge graph's whole 6-round loop in ONE task (measured:
    * loop job 3.3 s serialized vs ~1.3 s at width 4). Below the session
    * width AQE is off for the loop: a fixed-round loop of small joins
    * gains nothing from per-exchange replanning. `body` gets the (edge,
    * out-degree) pair frame over edges hash-partitioned by src at the
    * scope's width (deg joins shuffle-free on the edge side), and the
    * node set — all persisted, and unpersisted once `body` has
    * materialized its result inside the scope.
    */
  private def withEdges[T](edges0: DataFrame)(
      body: (DataFrame, DataFrame) => T): T = {
    val sp = edges0.sparkSession
    val dedup = edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
    SessionConf.narrowed(sp, dedup.count(), 250000L) {
      val width = sp.conf.get("spark.sql.shuffle.partitions").toInt
      val edges = dedup.repartition(width, col("src")).persist()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val edgeDeg = edges.join(deg, "src").persist()
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct()
        .persist()
      val out = body(edgeDeg, nodes)
      edges.unpersist(); edgeDeg.unpersist(); nodes.unpersist()
      out
    }
  }

  /** One rank-propagation step: each node's Σ over in-edges of the
    * source's rank floor-divided by its out-degree.
    */
  private def inflowOf(edgeDeg: DataFrame, r: DataFrame): DataFrame =
    edgeDeg
      .join(r.select(col("node").as("src"), col("r")), "src")
      .select(col("dst").as("node"), expr("r div deg").as("c"))
      .groupBy("node").agg(sum("c").as("inflow"))

  /** Per-node triangle participation counts over an undirected graph,
    * via degree orientation (the published fix for "the curse of the
    * last reducer"): direct every edge from its (degree, id)-smaller
    * endpoint to the larger, so each triangle materializes exactly once
    * and — the scale property — every node's oriented out-degree is
    * O(√|E|) regardless of its real degree. The wedge join's fan-out is
    * Σ outdeg² ≤ |E|^1.5 instead of the Σ deg² blow-up a hub node causes
    * in the naive plan; a power-law hub (every co-occurrence graph has
    * them) stops being one task's n² block.
    *
    * Input: (src, dst) in any order/duplication; self-loops dropped.
    * Output: (node, triangles) for every node on ≥ 1 triangle. Three
    * hash joins + one explode/agg — no windows, no driver round-trips;
    * the oriented edge list is cached once and streamed into all three.
    */
  def triangleCounts(edges0: DataFrame): DataFrame = {
    val e = edges0.select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("c"))
      .select(col("u").as("n"), col("c"))
    val oriented = und
      .join(deg.select(col("n").as("u"), col("c").as("cu")), "u")
      .join(deg.select(col("n").as("v"), col("c").as("cv")), "v")
      .filter(col("cu") < col("cv") ||
        (col("cu") === col("cv") && col("u") < col("v")))
      .select(col("u").as("s"), col("v").as("t"))
      .persist()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.t") === col("e2.s"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    val tri = wedges.join(oriented,
      col("a") === col("s") && col("c") === col("t"))
    // oriented stays cached for the result's lifetime — it feeds three
    // joins lazily, so an eager unpersist here would force recomputes.
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }
}
