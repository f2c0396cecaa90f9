package graft.operators

import graft.Tables
import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Distributed graph analytics over relational edge lists. Companion to
  * the connected-components operator in Dedup (label propagation): this
  * file covers the counting side.
  *
  * Triangle counting uses the degree-ordered orientation (the classic
  * MapReduce formulation, cf. Suri & Vassilvitskii WWW'11 via PAPERS.md
  * themes): orient every undirected edge from its (degree, id)-smaller
  * endpoint, build wedges only from co-oriented out-edge pairs, and close
  * them with ONE equi-join. Orientation bounds every out-degree by
  * O(√m), so the wedge volume is Σ out-deg² = O(m^1.5) regardless of how
  * skewed the raw degree distribution is — the whale-vertex hazard (a
  * part in every basket) becomes a bounded cost instead of a d² blow-up.
  */
object Graph {

  /** Wedge-close triangle count over any undirected edge list (u < v,
    * distinct). Returns one row: vertices, edges, triangles.
    */
  def triangleStats(edges0: DataFrame): DataFrame = {
    // materialize the edge list and the oriented form: oriented feeds
    // three consumers (both wedge sides + the closing join) and would
    // otherwise re-run the whole upstream per consumer (the simhash
    // materialize-before-self-join lesson)
    val edges = edges0.localCheckpoint(true)
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orient by (degree, id); carry the head's degree so downstream
    // comparisons reuse the same total order without re-joining deg
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst"), col("dv").as("dd")))
          .otherwise(
            struct(col("v").as("src"), col("u").as("dst"), col("du").as("dd")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
      .localCheckpoint(true)
    // wedges from out-edge pairs, smaller (deg, id) endpoint first — the
    // closing edge, if present, is then oriented exactly x→y
    val wedges = oriented.as("a")
      .join(oriented.as("b"), col("a.src") === col("b.src") &&
        (col("a.dd") < col("b.dd") ||
          (col("a.dd") === col("b.dd") && col("a.dst") < col("b.dst"))))
      .select(col("a.dst").as("src"), col("b.dst").as("dst"))
    val tri = wedges.join(oriented.select("src", "dst"), Seq("src", "dst"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_vertices"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri)
  }

  /** graph_triangles — triangle census of the co-purchase graph (parts
    * linked when some order contains both), scoped to a quarter of the
    * part space: the full testdata graph is unusually dense (avg degree
    * ~120 at sf0.1 → ~10⁸ wedges), which stresses nothing the orientation
    * bound doesn't already govern — the scoped census keeps the same
    * plan shape at demo cost.
    * Memoized per (process, dir, params) in [[graft.FixtureMemo]]: the
    * tables under `dir` must not change within the process.
    */
  def copurchaseTriangles(s: SparkSession, dir: String): DataFrame =
    triangleStats(scopedEdges(s, dir))

  /** The gate-scoped co-purchase edge list (partkey ≡ 0 mod 4),
    * memoized as a parquet PATH per (process, dir): graph_triangles,
    * graph_pagerank and graph_negative_sample each rebuilt this
    * identical deterministic basket self-join (r18 — the shared-fixture
    * pattern; the edge DEFINITION and every consumer are unchanged).
    */
  private def scopedEdges(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, graft.FixtureMemo.of("copurchase_edges_mod4", dir) {
      val out = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-copurchase-edges").toString)
      basketEdges(t(s, dir, "lineitem")
        .filter(pmod(col("l_partkey"), lit(4)) === 0)
        .select(col("l_orderkey"), col("l_partkey")))
        .write.mode("overwrite").parquet(out)
      out
    })

  /** Fixed-iteration PageRank over an undirected edge list (u < v). Each
    * iteration is exactly one hash-partitioned equi-join (edges ⋈ ranks
    * on the source vertex) plus one keyed aggregation of contributions —
    * the classic power-iteration as a relational plan, nothing keyed by
    * anything but the 8-byte vertex id, no driver-side state, iteration
    * count fixed up front (the production form runs to an epsilon; a
    * bounded count keeps the plan static and the oracle expressible).
    *
    * Cross-engine exactness: each per-edge contribution rank/degree is
    * rounded to 9 dp and summed as DECIMAL(20,10) — the shuffle-order-
    * independent aggregation recipe (see emb_label_centroids) — so every
    * iteration's ranks are bit-reproducible against any engine doing the
    * same quantized arithmetic, and the top-k cut cannot flip on float
    * noise. Ranks round to 6 dp BEFORE the final ordering for the same
    * reason.
    */
  def pageRank(edges0: DataFrame, iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val und = edges0.select(col("u"), col("v"))
    // symmetrize: undirected PageRank = directed over both orientations
    val edges = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    val deg = edges.groupBy(col("u").as("n")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    // the iterations stay ONE linear DAG — no per-iteration checkpoint:
    // each rank table is consumed exactly once by the next iteration, so
    // materializing it would only serialize 3 extra jobs. Only edges and
    // deg fan out (3 resp. 4 consumers) and are checkpointed above. The
    // rank side of each edge join is vertex-sized; AQE broadcasts it at
    // dimension scale and falls back to the vertex-keyed shuffle join
    // when the vertex set is itself fact-sized.
    var ranks = deg.select(col("n"), col("d"), lit(1.0).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks.select(col("n").as("u"),
          round(col("r") / col("d"), 9).cast(DecimalType(20, 10)).as("c")), "u")
        .groupBy(col("v").as("n")).agg(sum(col("c")).as("s"))
      ranks = deg.join(contrib, Seq("n"), "left")
        .select(col("n"), col("d"),
          round(lit(1.0 - damping) +
            lit(damping) * coalesce(col("s").cast(DoubleType), lit(0.0)), 9)
            .as("r"))
    }
    ranks.select(col("n"), col("r"))
  }

  /** graph_pagerank — 3-iteration PageRank of the scoped co-purchase
    * graph (same quarter-of-parts scope as the triangle census), top-20
    * most central parts.
    * Memoized per (process, dir, params) in [[graft.FixtureMemo]]: the
    * tables under `dir` must not change within the process.
    */
  def copurchasePageRank(s: SparkSession, dir: String): DataFrame =
    pageRank(scopedEdges(s, dir))
      .select(col("n").as("part_id"), round(col("r"), 6).as("pagerank"))
      .orderBy(col("pagerank").desc, col("part_id"))
      .limit(20)

  /** (basket, item) rows → undirected co-occurrence edge list (u < v,
    * distinct) — shared by the PageRank and BFS gate queries so both
    * derive the same edge shape.
    */
  def basketEdges(items0: DataFrame): DataFrame = {
    val items = items0.distinct()
    items.select(col("l_orderkey"), col("l_partkey").as("u"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("v")),
        "l_orderkey")
      .filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
  }

  /** graph_negative_sample gate: k=3 hash-ring negatives per node of
    * the copurchase graph (same edge definition as PageRank/triangles).
    * Memoized per (process, dir, params) in [[graft.FixtureMemo]]: the
    * tables under `dir` must not change within the process.
    */
  def negativeSample(s: SparkSession, dir: String): DataFrame =
    negativeSampleOf(scopedEdges(s, dir), k = 3, shardBits = 4)

  /** Deterministic negative-edge sampling for link-prediction /
    * contrastive training: for each node u and draw i < k, the
    * candidate negative is the node at the next hash-ring position
    * after md5(u:i) — consistent hashing as a SAMPLER. Uniform (node
    * positions are md5-uniform), deterministic across runs/engines (no
    * RNG state). Real edges (either orientation) and self-hits are then
    * removed by one left-anti join, the standard rejection step — so a
    * node yields UP TO k negatives.
    *
    * The ring lookup is the AS-OF MERGE, not a join: nodes and probes
    * shard by their top hash bits, interleave in ONE per-shard
    * (position, kind, id) sort, and each probe reads its successor with
    * a running last-non-null window over the DESC order (O(n) after the
    * sort; the whole-partition frame supplying the wrap-around node is
    * evaluated once per shard). The first cut of this operator joined
    * probes to their shard's node list and took a min-of-struct — the
    * 8× probe showed the |shard_nodes|·|shard_probes| intermediate
    * (37M rows at 8×, ratio 18.7) with the aggregation paying for every
    * row; the merge form never materializes a candidate product.
    *
    * Scale: shardBits grows with the node count (shards ≪ nodes keeps
    * empty shards improbable; an empty shard would drop its probes —
    * documented, not silent: the spec pins behavior). Nothing here is
    * ever node×node: candidates are k per node and the anti-join is
    * candidate-proportional.
    */
  def negativeSampleOf(edges: DataFrame, k: Int, shardBits: Int): DataFrame = {
    val nodes = edges.select(col("u").as("nd"))
      .union(edges.select(col("v").as("nd"))).distinct()
    val cand = HashRing.successors(nodes, k, shardBits)
      .filter(col("v") =!= col("u"))
    cand.join(
        edges.select(col("u"), col("v"))
          .union(edges.select(col("v").as("u"), col("u").as("v"))),
        Seq("u", "v"), "left_anti")
      .select(col("u"), col("i"), col("v").as("neg_v"))
      .orderBy(col("u"), col("i"))
  }

  /** Bounded-depth multi-source BFS (minimum hop distance) — the
    * frontier-expansion idiom every iterative graph traversal on Spark
    * reduces to (Pregel's superstep with min-combine, connected
    * components' neighborhood step): per level, ONE edge join keyed by
    * the frontier's vertex id plus ONE left-anti join against the
    * visited set, both vertex-keyed shuffles — never edge×edge, never
    * a driver-side adjacency structure. `distinct()` inside the level
    * collapses the multi-parent fan-in BEFORE the anti join, so the
    * per-level working set is bounded by the vertex count, not the path
    * count (the recursive-CTE oracle pays exactly that path explosion —
    * the UNION dedup is DuckDB's version of this collapse).
    *
    * Both accumulators localCheckpoint per level: `visited` fans out to
    * every later level's anti join and the final union, and lineage
    * would otherwise double per level (the k-means/refineToTarget
    * truncation rule). The early exit on an empty frontier is a
    * count() on a FRONTIER-sized table — parameter-scale, and it stops
    * dead levels from queueing jobs at all.
    *
    * 100 TB posture: levels are bounded by `maxDepth` up front (the
    * plan and the oracle stay finitely expressible); each level's cost
    * is one shuffle of frontier-incident edges; the visited set is the
    * reachable-vertex set — vertex-scale state, the floor any BFS must
    * hold. Seeds arrive as a DataFrame so callers can push an arbitrary
    * predicate down to the scan.
    */
  def bfsOf(edges0: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    val und = edges0.select(col("u"), col("v"))
    val edges = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    var visited = seeds.select(col("n")).distinct()
      .select(col("n"), lit(0L).as("dist")).localCheckpoint(true)
    var frontier = visited.select(col("n"))
    var depth = 0
    while (depth < maxDepth && frontier.count() > 0) {
      depth += 1
      val next = frontier.join(edges, frontier("n") === edges("u"))
        .select(col("v").as("n")).distinct()
        .join(visited.select(col("n")), Seq("n"), "left_anti")
        .select(col("n"), lit(depth.toLong).as("dist"))
        .localCheckpoint(true)
      visited = visited.unionAll(next).localCheckpoint(true)
      frontier = next.select(col("n"))
    }
    visited
  }

  /** graph_bfs gate: hop distance ≤ 4 from the seed parts (part id ≡ 0
    * mod 400) over a SPARSER co-purchase graph than the PageRank scope —
    * baskets truncated to their first two lines keep the diameter > 4
    * at sf0.01 (the full-basket graph saturates at 2 hops), so the
    * depth bound genuinely binds and unreached vertices genuinely
    * exist. Oracle: DuckDB `WITH RECURSIVE` over the same edge set —
    * UNION-deduped frontier, MIN(d) per vertex.
    */
  def copurchaseBfs(s: SparkSession, dir: String): DataFrame = {
    val edges = basketEdges(t(s, dir, "lineitem")
      .filter(pmod(col("l_partkey"), lit(4)) === 0 &&
        col("l_linenumber") <= 2)
      .select(col("l_orderkey"), col("l_partkey")))
    val nodes = edges.select(col("u").as("n"))
      .union(edges.select(col("v").as("n"))).distinct()
    bfsOf(edges, nodes.filter(pmod(col("n"), lit(400)) === 0), maxDepth = 4)
      .select(col("n").as("part_id"), col("dist"))
      .orderBy(col("dist"), col("part_id"))
  }
}
