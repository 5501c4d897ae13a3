package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, IntegerType, LongType,
  StructField, StructType}

/** Iterative graph measures over an edge list — the link-analysis side of a
  * corpus pipeline (domain authority for crawl prioritization, citation
  * weight for sampling).
  *
  * PageRank here is the fixed-iteration dataflow formulation: each round is
  * one join (rank → out-edges) and one aggregation (contributions → target),
  * exactly the two shuffles Pregel-style systems pay per superstep. The
  * edge set with out-degrees is computed once and cached; at real scale it
  * would be written bucketed by `src` so every round's join is shuffle-free
  * on the edge side, and ranks would `localCheckpoint` every few rounds to
  * cut the growing lineage.
  */
object Graphs {

  /** Per-round contribution sums go through DECIMAL(18,13): contributions
    * are < 1, so the unscaled sum stays < 10^13 (exact long arithmetic,
    * order-free — a double sum would depend on partitioning), and the
    * cast back to double is one correctly-rounded IEEE division. A double
    * can never be an exact half at scale 13, so the double→decimal rounding
    * is unambiguous across engines (same argument as [[graft.Tables.dsum]]). */
  private val SumType = DecimalType(18, 13)

  /** Fixed-iteration PageRank: `pr₀ = 1/n`; each round every node sends
    * `damping · pr / out_deg` along its out-edges and every node restarts
    * from `(1 − damping)/n` plus what it receives. Dangling mass (nodes
    * with no out-edges) is dropped, the common non-normalized variant —
    * ranks then still converge proportionally. Nodes with no in-edges keep
    * the teleport term via the left join against the full node set.
    *
    * Returns (node, pr) — engine-exact: per-row arithmetic is IEEE double
    * (deterministic), cross-row sums are decimal (order-free). */
  def pageRank(edges: DataFrame, damping: Double, iterations: Int): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct()
    val n = nodes.count()
    require(n > 0, "empty graph")
    // re-read every round: cache once, release via the entry-point registry
    // (the round-2 session-leak discipline — see [[graft.Caches]])
    val withDeg = edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg")), "src")
      .cache()
    graft.Caches.track(withDeg)
    val teleport = (1.0 - damping) / n
    var pr = nodes.withColumn("pr", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val sums = withDeg
        .join(pr, col("src") === col("node"))
        .select(col("dst"),
          (col("pr") / col("out_deg") * damping).cast(SumType).as("w"))
        .groupBy(col("dst"))
        .agg(sum(col("w")).cast("double").as("recv"))
      pr = nodes.join(sums, col("node") === col("dst"), "left")
        .select(col("node"), (lit(teleport) + coalesce(col("recv"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** Per-node triangle participation counts over the UNDIRECTED simple
    * graph induced by `edges` (direction dropped, self-loops and duplicate
    * edges removed). Each triangle {a,b,c} counts once for each member.
    *
    * The enumeration is the oriented wedge join: with edges canonicalized
    * to a < b, a triangle a<b<c appears exactly once as (a,b)⋈(b,c) closed
    * by (a,c) — two equi-joins, no post-hoc dedup by permutation. At scale
    * the standard refinement orients edges by DEGREE instead of id so
    * high-degree hubs never land on the wedge-center side (caps the
    * per-key join fan-out); id orientation keeps the oracle exact here and
    * the join shape is identical. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // read three times (two wedge sides + closure probe): cache once,
    // release via the entry-point registry
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .cache()
    graft.Caches.track(canon)
    val tri = canon
      .join(canon.toDF("b", "c"), "b")
      .join(canon.toDF("a", "c"), Seq("a", "c"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  private case class Small(keys: LocalGraph.Interner, rows: Array[Row],
      src: Array[Int], dst: Array[Int], seeds: Array[Int])

  /** The edge rows (src, dst, …) on the driver with interned endpoints,
    * and the interned seeds — a seed outside the edges' nodes gets an id of
    * its own and still seeds. None when the edges or seeds pass
    * [[LocalGraph.MaxEdges]], or a key type or null endpoint needs the
    * dataflow rounds. */
  private def small(edges: DataFrame, seeds: DataFrame): Option[Small] =
    for {
      keys <- LocalGraph.interner(edges.schema("src").dataType)
      if seeds.schema("node").dataType == edges.schema("src").dataType
      rows <- LocalGraph.collect(edges, LocalGraph.MaxEdges)
      seedRows <- LocalGraph.collect(seeds.select(col("node")), LocalGraph.MaxEdges)
      (xs, ys) <- keys.edges(rows)
      ss <- keys.nodes(seedRows)
    } yield Small(keys, rows, xs, ys, ss)

  /** The (node, d) frame of driver-side result rows, both columns non-null. */
  private def result(edges: DataFrame, rows: Seq[Row], dType: DataType): DataFrame =
    LocalGraph.frame(edges.sparkSession, rows, StructType(Seq(
      StructField("node", edges.schema("src").dataType, nullable = false),
      StructField("d", dType, nullable = false))))

  /** Multi-source BFS hop distance, the reachability/proximity primitive
    * (crawl-frontier distance from seed domains, citation distance from a
    * trusted core). Returns (node, d) for every node within `maxDepth`
    * DIRECTED hops of a seed, d = MINIMUM hop count; unreached nodes are
    * absent.
    *
    * Frontier formulation: each round expands only the nodes discovered in
    * the previous round (never the whole visited set) and anti-joins the
    * visited set, so a round costs one frontier⋈edges join plus one
    * distinct — the Pregel superstep shape. The visited set is re-read
    * every round: cache per round, release via the entry-point registry; at
    * real scale `localCheckpoint` every few rounds cuts the growing
    * anti-join lineage, and edges live bucketed by `src` so every round's
    * join is shuffle-free on the edge side (same note as [[pageRank]]).
    * Small graphs run the same rounds on the driver ([[LocalGraph]]). */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    small(edges.select(col("src"), col("dst")), seeds) match {
      case Some(g) =>
        val (first, next) = LocalGraph.adjacency(g.keys.size, g.src)
        val dist = Array.fill(g.keys.size)(-1)
        var frontier = g.seeds.distinct
        frontier.foreach(s => dist(s) = 0)
        var depth = 0
        while (depth < maxDepth && frontier.nonEmpty) {
          depth += 1
          val found = scala.collection.mutable.ArrayBuffer[Int]()
          frontier.foreach { u =>
            var e = first(u)
            while (e >= 0) {
              val v = g.dst(e)
              if (dist(v) < 0) { dist(v) = depth; found += v }
              e = next(e)
            }
          }
          frontier = found.toArray
        }
        return result(edges, (0 until g.keys.size).filter(dist(_) >= 0)
          .map(i => Row(g.keys.key(i), dist(i))), IntegerType)
      case None => // dataflow rounds below
    }
    var visited = seeds.select(col("node")).distinct()
      .withColumn("d", lit(0)).cache()
    graft.Caches.track(visited)
    var frontier = visited
    for (i <- 1 to maxDepth) {
      val next = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("d", lit(i)).cache()
      graft.Caches.track(next)
      visited = visited.unionByName(next).cache()
      graft.Caches.track(visited)
      frontier = next
    }
    visited
  }

  /** Bounded-hop weighted shortest paths — Bellman–Ford rounds over an
    * edge list (src, dst, w). After `rounds` rounds, d(v) = the minimum
    * total weight over paths of ≤ `rounds` edges from any seed (nodes
    * beyond that horizon are absent) — the weighted generalization of
    * [[bfsHops]] and the standard dataflow SSSP: each round is one
    * dist⋈edges relax join plus one min-aggregation, the two shuffles a
    * Pregel superstep pays. Negative weights are fine (the hop bound
    * replaces the no-negative-cycle requirement); same scale notes as
    * [[pageRank]] — bucketed edges make the relax join shuffle-free,
    * `localCheckpoint` every few rounds cuts lineage. */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val weighted = edges.schema("w").dataType match {
      case LongType | IntegerType => small(
        edges.select(col("src"), col("dst"), col("w")), seeds)
      case _ => None
    }
    weighted.filter(g => !g.rows.exists(_.isNullAt(2))) match {
      case Some(g) =>
        // Bellman–Ford with the SAME snapshot-per-round relaxation as the
        // dataflow form (relax reads the previous round's dist only), so
        // d(v) after k rounds = min weight over ≤ k-edge paths — identical
        // rows, including negative weights under the hop bound
        val ws = g.rows.map(_.getAs[Number](2).longValue)
        val NoDist = Long.MinValue
        var dist = Array.fill(g.keys.size)(NoDist)
        g.seeds.foreach(s => dist(s) = 0L)
        var r = 0
        while (r < rounds) {
          val relaxed = dist.clone()
          var e = 0
          while (e < ws.length) {
            val ds = dist(g.src(e))
            if (ds != NoDist) {
              val cand = ds + ws(e)
              val v = g.dst(e)
              if (relaxed(v) == NoDist || cand < relaxed(v)) relaxed(v) = cand
            }
            e += 1
          }
          dist = relaxed
          r += 1
        }
        return result(edges, (0 until g.keys.size).filter(dist(_) != NoDist)
          .map(i => Row(g.keys.key(i), dist(i))), LongType)
      case None => // dataflow rounds below
    }
    var dist = seeds.select(col("node")).distinct()
      .withColumn("d", lit(0L)).cache()
    graft.Caches.track(dist)
    for (_ <- 1 to rounds) {
      val relax = dist.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
      dist = dist.unionByName(relax)
        .groupBy("node").agg(min("d").as("d")).cache()
      graft.Caches.track(dist)
    }
    dist
  }
}
