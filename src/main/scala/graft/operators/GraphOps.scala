package graft.operators

import graft.core.GraftCheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl curation. The canonical use is a
  * domain-level quality prior (CommonCrawl-style harmonic/PageRank
  * weighting feeding the quality classifier): vertices are domains —
  * orders of magnitude fewer than pages — so the iteration runs on an
  * AGGREGATED edge table, never the raw crawl.
  */
object GraphOps {

  /** Iterated-loop width from the MEASURED row count (~2M rows per
    * partition, capped at the session's configured parallelism), shared by
    * every iterative op here and [[Dedup.connectedComponents]]: per-round
    * cost on a small aggregated graph is otherwise pure task-scheduling
    * overhead across conf-many mostly-empty partitions, while a
    * crawl-scale table lands back on the session's width. The width lives
    * on the loop's cached input (`repartition(loopParts, key)`), whose
    * partitioning the per-round joins keep — the session conf is never
    * written; an operator that needs other conf uses its own
    * `newSession()`. */
  private[operators] def loopPartitions(
      spark: org.apache.spark.sql.SparkSession, rowCount: Long): Int = {
    val confParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(confParts.toLong,
      (rowCount + 2000000L - 1) / 2000000L)).toInt
  }

  /** Weighted PageRank with fixed iteration count and uniform
    * teleportation. `edges` is (src, dst) with multiplicity (parallel
    * edges add weight). Returns (node, rank).
    *
    * Scale shape: one aggregation collapses the raw edge list to
    * (src, dst, weight) — at crawl scale this is the domain-adjacency
    * table, |domains|² worst case but power-law sparse in practice. The
    * weighted edge table and per-src out-weights are computed once,
    * cached, and pre-partitioned on `src` at the loop width
    * ([[loopPartitions]]) — each of the `iters` rounds then shuffles
    * only the |V|-row rank table to the same partitioning (the |E| side
    * never re-shuffles, the [[Dedup.connectedComponents]] loop lesson),
    * aggregates contributions by dst, and left-joins back
    * to the vertex set so sinks (no in-edges) keep their teleport mass.
    * `localCheckpoint` truncates lineage each round. Dangling vertices
    * (no OUT-edges) are supported: their mass is redistributed uniformly,
    * computed as 1 − Σ(mass entering edges) rather than a second join.
    *
    * Determinism: per-node rank is a sum of double contributions — stable
    * to ~1 ulp under re-ordering, so catalog results round to 4 dp
    * (established round-before-rank contract). */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame =
    prLoop(edges, iters, damping, None)

  /** Personalized PageRank: teleport (and dangling) mass returns to the
    * uniform distribution over `sources` instead of all nodes — the
    * seed-set relevance / recommendation variant (random walk with
    * restart). Same loop, same scale shape as [[pageRank]]; nodes
    * unreachable from the seed set get rank exactly 0. `sources` is one
    * column of node ids; ids absent from the graph are ignored. */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
                           iters: Int = 10, damping: Double = 0.85): DataFrame =
    prLoop(edges, iters, damping,
      Some(sources.toDF("node").select(col("node")).distinct()))

  private def prLoop(edges: DataFrame, iters: Int, damping: Double,
                     sources: Option[DataFrame]): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1, s"iters=$iters damping=$damping")
    val spark = edges.sparkSession
    val e = edges.toDF("src", "dst")
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).cast("double").as("w"))
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    // (src, dst, share): fraction of src's rank that flows along this edge;
    // partitioned on src once, reused every round
    // size the loop's shuffles from the MEASURED edge count (the
    // connectedComponents loop lesson): per-round cost on small aggregated
    // graphs is otherwise pure task-scheduling overhead across conf-many
    // mostly-empty partitions; a crawl-scale edge table lands back on the
    // session's configured parallelism (~2M edges per partition)
    val loopParts = loopPartitions(spark, e.cache().count())
    val flow = e.join(deg, "src")
      .select(col("src"), col("dst"), (col("w") / col("outw")).as("share"))
      .repartition(loopParts, col("src"))
      .cache()
    val nodes = flow.select(col("src").as("node"))
      .union(flow.select(col("dst").as("node")))
      .distinct()
      .cache()
    val n = nodes.count().toDouble
    require(n > 0, "pageRank on an empty graph")
    e.unpersist()
    // teleport distribution tp(v): uniform over all nodes, or — in the
    // personalized variant — uniform over the seed set (0 elsewhere);
    // carried as a column of the cached |V|-row node table
    // cached so the seed count and the tp projection share one join pass;
    // released as soon as nodesTp is materialized
    val marked = sources.map(s =>
      nodes.join(s.withColumn("__s", lit(1)), Seq("node"), "left").cache())
    val nodesTp = (marked match {
      case None => nodes.withColumn("tp", lit(1.0 / n))
      case Some(mk) =>
        val m = mk.where(col("__s").isNotNull).count().toDouble
        require(m > 0, "personalizedPageRank: no source is in the graph")
        mk.select(col("node"),
          when(col("__s").isNotNull, lit(1.0 / m)).otherwise(lit(0.0))
            .as("tp"))
    }).cache()
    nodesTp.count()
    marked.foreach(_.unpersist())
    // dangling = vertices with no out-edges; their mass is read each round
    // from the CHECKPOINTED |V|-row rank table (never re-touching |E|),
    // and the read is skipped entirely when the graph has none
    val danglingNodes = nodes
      .join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
      .cache()
    val hasDangling = danglingNodes.count() > 0

    // bit-parity note: the uniform variant keeps `(1−d)/n` and `dMass/n`
    // as single driver-side divisions (not `(1−d)·tp` with tp = 1/n) —
    // the same IEEE ops the unrolled-CTE oracle performs
    val uniform = sources.isEmpty
    try {
      var ranks = (
        if (uniform) nodesTp.select(col("node"), lit(1.0 / n).as("rank"))
        else nodesTp.select(col("node"), col("tp").as("rank"))
      ).graftCheckpoint()
      var it = 0
      while (it < iters) {
        val dMass =
          if (!hasDangling) 0.0
          else danglingNodes.join(ranks, "node")
            .agg(coalesce(sum(col("rank")), lit(0.0))).first().getDouble(0)
        val contrib = flow.join(ranks, col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(col("share") * col("rank")).as("in_mass"))
        val teleTerm =
          if (uniform) lit((1.0 - damping) / n)
          else lit(1.0 - damping) * col("tp")
        val dangTerm =
          if (uniform) lit(dMass / n) else lit(dMass) * col("tp")
        ranks = nodesTp.join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (teleTerm + lit(damping) *
              (coalesce(col("in_mass"), lit(0.0)) + dangTerm)).as("rank"))
          .graftCheckpoint()
        it += 1
      }
      ranks
    } finally {
      flow.unpersist()
      nodes.unpersist()
      nodesTp.unpersist()
      danglingNodes.unpersist()
    }
  }

  /** Single-source unweighted shortest-path levels (BFS) over an
    * undirected simple graph: returns (node, dist) for every node
    * reachable from `src` (src itself at dist 0; unreachable nodes are
    * absent — callers outer-join if they want ∞ rows). Deterministic:
    * hop distance is unique regardless of traversal order.
    *
    * Scale shape — the [[Dedup.connectedComponents]] loop machinery:
    * the symmetric edge list is cached pre-partitioned on the join key
    * at the loop width sized from the MEASURED edge count
    * ([[loopPartitions]]), so each round shuffles only the frontier
    * (|F| rows, ≤ one BFS level);
    * the frontier count rides the round's `localCheckpoint` action as an
    * observed metric — ONE data job per level plus one cheap block-union
    * job to fold the level into the visited set. Rounds = eccentricity
    * of `src`, the inherent BFS depth; level-synchronous frontier
    * expansion is the textbook distributed BFS (Pregel's traversal
    * shape). */
  def bfsLevels(edges: DataFrame, src: Long, maxDepth: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.toDF("p", "q")
      .where(col("p") =!= col("q"))
      .select(least(col("p"), col("q")).as("a"),
        greatest(col("p"), col("q")).as("b"))
      .distinct()
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b"))).cache()
    val loopParts = loopPartitions(spark, sym.count())
    val edgesP = sym.repartition(loopParts, col("a")).cache()
    edgesP.count()
    sym.unpersist()
    try {
      var visited = Seq((src, 0L)).toDF("node", "dist").graftCheckpoint()
      var frontier = visited
      var depth = 0L
      var done = false
      while (!done && depth < maxDepth) {
        val obs = org.apache.spark.sql.Observation()
        val next = edgesP
          .join(frontier.select(col("node").as("a")), "a")
          .select(col("b").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("dist", lit(depth + 1L))
          .observe(obs, count(lit(1)).as("n"))
          .graftCheckpoint()
        done = Option(obs.get("n")).forall(_.asInstanceOf[Long] == 0L)
        if (!done) {
          visited = visited.unionByName(next).graftCheckpoint()
          frontier = next
          depth += 1
        }
      }
      if (!done) {
        // eccentricity EXACTLY maxDepth is a complete BFS — the loop just
        // never ran the confirming empty round; probe before throwing
        val unreached = edgesP
          .join(frontier.select(col("node").as("a")), "a")
          .select(col("b").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .limit(1).count()
        if (unreached > 0) throw new IllegalStateException(
          s"bfsLevels still expanding at depth $maxDepth — raise maxDepth " +
          "for graphs with eccentricity beyond it")
      }
      visited
    } finally {
      edgesP.unpersist()
    }
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected simple graph. `edges` is (a, b) in any orientation with
    * possible duplicates/self-loops — canonicalized here. Returns
    * (node, degree, triangles, clustering) for EVERY node of the
    * canonical graph (zero rows included — isolated-from-triangles
    * nodes are data, not absence), clustering rounded to 4 dp (the
    * round-before-rank contract: 2·t/(d·(d−1)) divides two exact longs,
    * deterministic at 4 dp).
    *
    * Scale shape — the degree-ordered orientation (the MapReduce
    * node-iterator++ of Suri & Vassilvitskii, WWW'11): orient every edge
    * from its (degree, id)-smaller endpoint to the larger, making
    * out-degree O(√|E|) for ANY graph — a celebrity node with 100M
    * followers emits no wedge unless BOTH endpoints are high-degree, so
    * the wedge table is bounded by Σ outdeg² ≤ |E|^{3/2} rather than the
    * Σ deg² of the naive node-iterator (which a power-law graph turns
    * into a single-key explosion). Three shuffles total: degree agg,
    * wedge self-join on the center, closing-edge equi-join on the
    * oriented pair. Wedge pairs are emitted already ordered by the SAME
    * (degree, id) total order used for orientation, so the closing edge
    * is probed in its stored orientation — no second canonicalization
    * pass. Each triangle is found exactly once (at its smallest-order
    * apex) and attributed to its three vertices by an explode that is
    * 3 rows per triangle, not a re-join. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // canonical simple graph: no self-loops, one row per unordered pair
    val e = edges.toDF("p", "q")
      .where(col("p") =!= col("q"))
      .select(least(col("p"), col("q")).as("a"),
        greatest(col("p"), col("q")).as("b"))
      .distinct()
      .cache()
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .cache()
    // orientation by the (deg, id) total order; each oriented edge
    // carries its head's order key so wedges can be order-compared
    // without re-joining degrees
    val oriented = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.dv").as("dv"))
      .cache()
    oriented.count() // materialize before the self-join reuses it twice
    // wedges at apex u: out-neighbor pairs ordered by (deg, id); the
    // closing edge, if present, is stored oriented exactly (x -> y)
    val wedges = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("dv").as("dy")), "u")
      .where(col("dx") < col("dy") ||
             (col("dx") === col("dy") && col("x") < col("y")))
    val tris = wedges
      .join(oriented.select(col("v").as("y"), col("u").as("x")),
        Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    val perNode = tris.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    val out = deg
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        (floor(when(col("deg") > 1,
            col("t") * lit(2.0) / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)) * 1e4 + lit(0.5)) / 1e4).as("clustering"))
      .select(col("node"), col("degree"), col("triangles"),
        coalesce(col("clustering"), lit(0.0)).as("clustering"))
      // |V|-row result; checkpoint it so the working caches can be
      // released before the caller's action (the pageRank/CC pattern)
      .graftCheckpoint()
    e.unpersist(); deg.unpersist(); oriented.unpersist()
    out
  }

  /** HITS hubs-and-authorities (Kleinberg) over the DISTINCT directed
    * edge set: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v),
    * iterated `iters` times from hub ≡ 1, L1-normalized ONCE at the end
    * (scaling commutes through the linear updates, so per-round
    * normalization is mathematically redundant — skipping it saves
    * 2·iters driver scalars and keeps the float-op sequence short enough
    * for cross-engine 4dp parity; magnitudes stay finite for any graph
    * whose (max degree)^(2·iters) fits a double, which a handful of
    * iterations guarantees).
    *
    * Returns (node, auth, hub) raw doubles — callers round. Scale shape
    * — the [[pageRank]] loop machinery: the distinct edge list is cached,
    * and the |V|-row node table is cached pre-partitioned on `node` at
    * the loop width sized from the MEASURED edge count
    * ([[loopPartitions]]); each half-round shuffles |V| score rows into a
    * per-node sum over in/out-neighbors; the final normalizers join in
    * as broadcast 1-row aggregates (no driver scalar in the result
    * path). */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters=$iters")
    val spark = edges.sparkSession
    val e = edges.toDF("src", "dst").distinct()
    val loopParts = loopPartitions(spark, e.cache().count())
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .repartition(loopParts, col("node"))
      .cache()
    nodes.count()
    try {
      // per-half-round localCheckpoint: the fused one-checkpoint-per-round
      // variant re-executes the auth joins inside the hub materialization
      // and measured SLOWER (3.7 → 4.6 s in-catalog) — join work dominates
      // job-launch overhead even on a metadata-sized graph
      var hub = nodes.select(col("node"), lit(1.0).as("h")).graftCheckpoint()
      var auth = hub.select(col("node"), col("h").as("a"))
      var it = 0
      while (it < iters) {
        auth = nodes
          .join(e.join(hub, col("src") === col("node"))
              .groupBy(col("dst")).agg(sum(col("h")).as("s")),
            col("node") === col("dst"), "left")
          .select(col("node"), coalesce(col("s"), lit(0.0)).as("a"))
          .graftCheckpoint()
        hub = nodes
          .join(e.join(auth, col("dst") === col("node"))
              .groupBy(col("src")).agg(sum(col("a")).as("s")),
            col("node") === col("src"), "left")
          .select(col("node"), coalesce(col("s"), lit(0.0)).as("h"))
          .graftCheckpoint()
        it += 1
      }
      val na = auth.agg(sum(col("a")).as("sa"))
      val nh = hub.agg(sum(col("h")).as("sh"))
      auth.join(hub, "node")
        .crossJoin(broadcast(na)).crossJoin(broadcast(nh))
        .select(col("node"), (col("a") / col("sa")).as("auth"),
          (col("h") / col("sh")).as("hub"))
    } finally {
      e.unpersist()
      nodes.unpersist()
    }
  }
}
