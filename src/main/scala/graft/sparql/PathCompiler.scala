package graft.sparql

import graft.graph.LocalGraph
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Property-path evaluation (`GraphPattern::Path`, reference handle.rs:4893).
  *
  * Paths evaluate over an edge DataFrame of ENCODED terms — each endpoint is
  * one string `kind\u0001value\u0001lang\u0001datatype` — so closure rounds
  * join on flat string keys (cheap shuffles, simple plans) and only the
  * final variable binding decodes back to term structs.
  *
  *  - link: predicate scan; inverse: swap; sequence: midpoint join;
  *    alternation: union-distinct.
  *  - `p+`: transitive closure — path *doubling* (⌈log₂ d⌉ rounds) while the
  *    accumulated pair set is small, falling back to frontier⋈base rounds
  *    (which shuffle only novel pairs) once it grows; a driver-side fixpoint
  *    producing DataFrames (SURVEY §4, the GraphFrames approach). Rounds are
  *    capped to bound adversarial cycles.
  *  - `p*`/`p?` add reflexive pairs over the path's own node domain (SPARQL's
  *    zero-length path over all graph terms, narrowed to connected nodes).
  */
object PathCompiler {

  val MaxClosureRounds = 64

  /** Above this pair count, stop doubling (acc⋈acc intermediate can blow up
    * cubically on long chains) and extend one hop at a time instead. */
  val DoublingMaxPairs = 100000L

  private val Sep = "\u0001"

  private def enc(kind: Column, value: Column, lang: Column, dt: Column): Column =
    concat_ws(Sep, kind.cast("string"), value, coalesce(lang, lit("")), coalesce(dt, lit("")))

  private def encTerm(t: Term): String =
    Seq(t.kind.toString, t.value, t.lang, t.datatype).mkString(Sep)

  private def decode(c: Column): Column = {
    val parts = split(c, Sep, 4)
    struct(element_at(parts, 1).cast("int").as("kind"),
      element_at(parts, 2).as("value"),
      element_at(parts, 3).as("lang"),
      element_at(parts, 4).as("datatype"))
  }

  /** Compile a path to an edge DF with encoded string columns (s, o).
    * `dflt` is a pre-deduped default-graph triples table ([[graft.Store]]):
    * when present, default-graph link scans read it directly and skip the
    * per-link set-dedup shuffle. */
  def edges(quads: DataFrame, path: PathExpr,
      graph: Option[TermPattern], dflt: Option[DataFrame] = None): DataFrame = path match {
    case PLink(iri) =>
      val deduped = graph.isEmpty && dflt.isDefined
      var df = (if (deduped) dflt.get else quads).filter(col("predicate") === iri)
      graph match {
        case Some(TConst(c)) => df = df.filter(col("graph_iri") === c.value)
        case _ =>
      }
      val out = df.select(
        enc(col("subject_kind"), col("subject"), lit(""), lit("")).as("s"),
        enc(col("obj_kind"), col("obj_value"), col("obj_lang"), col("obj_datatype")).as("o"))
      if (graph.isEmpty && !deduped) out.dropDuplicates() else out
    case PNps(fwd, inv) =>
      // !(F|^I) ≡ !(F) | ^(!(I)) — each side scans once with a NOT-IN
      // predicate filter (pushed to the parquet scan); multiple surviving
      // predicates can project to the same (s,o), so always set-dedup
      val deduped = graph.isEmpty && dflt.isDefined
      var base = if (deduped) dflt.get else quads
      graph match {
        case Some(TConst(c)) => base = base.filter(col("graph_iri") === c.value)
        case _ =>
      }
      def branch(excl: Seq[String], swap: Boolean): DataFrame = {
        val f = base.filter(!col("predicate").isin(excl: _*))
        val sCol = enc(col("subject_kind"), col("subject"), lit(""), lit(""))
        val oCol = enc(col("obj_kind"), col("obj_value"), col("obj_lang"), col("obj_datatype"))
        if (swap) f.select(oCol.as("s"), sCol.as("o"))
        else f.select(sCol.as("s"), oCol.as("o"))
      }
      val parts =
        (if (fwd.nonEmpty || inv.isEmpty) Seq(branch(fwd, swap = false)) else Nil) ++
          (if (inv.nonEmpty) Seq(branch(inv, swap = true)) else Nil)
      parts.reduce(_ union _).dropDuplicates()
    case PInverse(p) =>
      edges(quads, p, graph, dflt).select(col("o").as("s"), col("s").as("o"))
    case PSeq(l, r) =>
      val a = edges(quads, l, graph, dflt).select(col("s"), col("o").as("m"))
      val b = edges(quads, r, graph, dflt).select(col("s").as("m2"), col("o"))
      a.join(b, a("m") === b("m2")).select(col("s"), col("o")).dropDuplicates()
    case PAlt(l, r) =>
      edges(quads, l, graph, dflt).toDF("s", "o")
        .union(edges(quads, r, graph, dflt).toDF("s", "o")).dropDuplicates()
    case POneOrMore(p) => closure(edges(quads, p, graph, dflt))
    case PZeroOrMore(p) =>
      val base = edges(quads, p, graph, dflt)
      closure(base).toDF("s", "o")
        .union(reflexive(base).toDF("s", "o")).dropDuplicates()
    case PZeroOrOne(p) =>
      val base = edges(quads, p, graph, dflt)
      base.toDF("s", "o").union(reflexive(base).toDF("s", "o")).dropDuplicates()
  }

  /** zero-length pairs over the path's node domain. */
  private def reflexive(base: DataFrame): DataFrame =
    base.select(col("s").as("n"))
      .union(base.select(col("o").as("n")))
      .dropDuplicates()
      .select(col("n").as("s"), col("n").as("o"))

  /** lineage barrier — see [[graft.Caches.barrier]] for why localCheckpoint
    * cannot be used. The caller unpersists superseded rounds. */
  private def barrier(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) =
    graft.Caches.barrier(df)

  /** Edge sets at or below this size close on the driver
    * ([[graft.graph.LocalGraph]]): a 20-edge ring costs ⌈log₂ d⌉
    * distributed rounds (≈15 Spark jobs) against microseconds of BFS. The
    * closure's output is not bounded by its input (all-pairs of a dense
    * chain is |E|²/2 pairs), so it gets a smaller input cap than the other
    * local graph algorithms and [[LocalClosureMaxPairs]] bounds the output
    * as it accumulates — past it the distributed fixpoint takes over. */
  val LocalClosureMaxEdges = 100000L

  /** Hard output bound for the driver-local BFS (pairs, not edges). */
  val LocalClosureMaxPairs = 500000

  /** Frontier sizes at or below this broadcast in the seeded-BFS step join
    * (composite-key strings — ~100 MB worst case, well inside executor
    * memory; larger frontiers fall back to the shuffle join). */
  val BfsBroadcastMaxRows = 1000000L

  /** All-pairs ≥1-step reachability of the collected (s, o) `rows` of
    * `base`, by a BFS from every node on the driver; None on a null
    * endpoint or when the output outgrows [[LocalClosureMaxPairs]] (the
    * caller falls back to the distributed path). */
  private def localClosure(base: DataFrame, rows: Array[Row]): Option[DataFrame] = {
    val dt = base.schema("s").dataType
    val (keys, xs, ys) = (for {
      keys <- LocalGraph.interner(dt)
      (xs, ys) <- keys.edges(rows)
    } yield (keys, xs, ys)) match {
      case Some(g) => g
      case None => return None
    }
    val n = keys.size
    val (first, next) = LocalGraph.adjacency(n, xs)
    val seenFrom = Array.fill(n)(-1) // seenFrom(v) == u: v already paired with u
    val todo = scala.collection.mutable.ArrayBuffer[Int]()
    def push(u: Int): Unit = {
      var e = first(u)
      while (e >= 0) { todo += ys(e); e = next(e) }
    }
    val out = scala.collection.mutable.ArrayBuffer[Row]()
    var u = 0
    while (u < n) {
      push(u)
      while (todo.nonEmpty) {
        val v = todo.remove(todo.length - 1)
        if (seenFrom(v) != u) {
          seenFrom(v) = u
          out += Row(keys.key(u), keys.key(v))
          if (out.length > LocalClosureMaxPairs) return None
          push(v)
        }
      }
      u += 1
    }
    Some(LocalGraph.frame(base.sparkSession, out.toSeq,
      StructType(Seq(StructField("s", dt), StructField("o", dt)))))
  }

  /** transitive closure fixpoint. Doubling phase: after k rounds `acc` holds
    * every path of length ≤ 2^k — ⌈log₂ d⌉ rounds for diameter d, ideal for
    * small/medium pair sets where per-job overhead dominates. Past
    * [[DoublingMaxPairs]] the acc⋈acc intermediate (Σ indeg·outdeg over
    * midpoints) can dwarf the closure itself, so large sets extend one hop
    * per round (frontier⋈base, shuffling only novel pairs). */
  def closure(base0: DataFrame,
      doublingMaxPairs: Long = DoublingMaxPairs,
      localMaxEdges: Long = LocalClosureMaxEdges): DataFrame = {
    var (acc, accRdd) = barrier(base0.dropDuplicates())
    val base = acc
    val baseRdd = accRdd
    val rows = LocalGraph.collect(base.select(col("s"), col("o")), localMaxEdges)
    rows.flatMap(localClosure(base, _)) match {
      case Some(local) =>
        baseRdd.unpersist(blocking = false)
        return local
      case None => // too big for the driver; run distributed
    }
    // a declined local path already counted the barriered base
    var count = rows.fold(acc.count())(_.length.toLong)
    var frontier = acc
    var frontierRdd: org.apache.spark.rdd.RDD[_] = null
    var rounds = 0
    var done = count == 0
    while (!done && rounds < MaxClosureRounds) {
      val extended =
        if (count <= doublingMaxPairs)
          acc.as("a").join(acc.as("b"), col("a.o") === col("b.s"))
            .select(col("a.s").as("s"), col("b.o").as("o"))
        else
          frontier.as("f").join(base.as("b"), col("f.o") === col("b.s"))
            .select(col("f.s").as("s"), col("b.o").as("o"))
      val (next, nextRdd) = barrier(acc.union(extended).dropDuplicates())
      val nextCount = next.count()
      if (nextCount == count) {
        nextRdd.unpersist(blocking = false)
        done = true
      } else {
        val (novel, novelRdd) = barrier(next.join(acc, Seq("s", "o"), "left_anti"))
        if (frontierRdd != null) frontierRdd.unpersist(blocking = false)
        if (accRdd ne baseRdd) accRdd.unpersist(blocking = false)
        frontier = novel
        frontierRdd = novelRdd
        acc = next
        accRdd = nextRdd
        count = nextCount
        rounds += 1
      }
    }
    if (frontierRdd != null) frontierRdd.unpersist(blocking = false)
    // per-round counts already materialized accRdd, so base is releasable
    // NOW; the returned result's cache must outlive this call (the consumer
    // has not run its action yet) — registered for the next entry drain.
    if (accRdd ne baseRdd) baseRdd.unpersist(blocking = false)
    graft.Caches.track(accRdd)
    acc
  }

  // ---------------------------------------------------------------------
  // seeded evaluation — constant endpoints never compute a global closure
  // ---------------------------------------------------------------------

  /** Structural reverse: reverse(p) matches (o, s) iff p matches (s, o). */
  private def reverse(p: PathExpr): PathExpr = p match {
    case PLink(i) => PInverse(PLink(i))
    case PNps(f, i) => PNps(i, f)
    case PInverse(q) => q
    case PSeq(l, r) => PSeq(reverse(r), reverse(l))
    case PAlt(l, r) => PAlt(reverse(l), reverse(r))
    case POneOrMore(q) => POneOrMore(reverse(q))
    case PZeroOrMore(q) => PZeroOrMore(reverse(q))
    case PZeroOrOne(q) => PZeroOrOne(reverse(q))
  }

  /** node domain of an edge set (for zero-length path membership). */
  private def nodes(base: DataFrame): DataFrame =
    base.select(col("s").as("n")).union(base.select(col("o").as("n"))).dropDuplicates()

  /** One path application over a position set `cur` (seed, n). */
  private def step(cur: DataFrame, base: DataFrame): DataFrame =
    cur.as("c").join(base.as("b"), col("c.n") === col("b.s"))
      .select(col("c.seed").as("seed"), col("b.o").as("n")).dropDuplicates()

  /** Seeded evaluation: positions (seed, n) reachable from `cur` via `path`.
    * Closures run a frontier⋈base fixpoint from the seeds only — the work is
    * O(|reachable|), never the whole-graph transitive closure, which is the
    * difference between one seed's neighborhood and Θ(V·E) at 100 TB. */
  private def evalFrom(quads: DataFrame, path: PathExpr,
      graph: Option[TermPattern], cur: DataFrame,
      dflt: Option[DataFrame]): DataFrame = path match {
    case PSeq(l, r) =>
      evalFrom(quads, r, graph, evalFrom(quads, l, graph, cur, dflt), dflt)
    case PAlt(l, r) =>
      evalFrom(quads, l, graph, cur, dflt).union(evalFrom(quads, r, graph, cur, dflt))
        .dropDuplicates()
    case POneOrMore(p) => seededClosure(edges(quads, p, graph, dflt), cur)
    case PZeroOrMore(p) =>
      val base = edges(quads, p, graph, dflt)
      cur.join(nodes(base), Seq("n"), "left_semi") // zero-length: n in the domain
        .select(col("seed"), col("n")) // using-join put the key first; realign
        .union(seededClosure(base, cur)).dropDuplicates()
    case PZeroOrOne(p) =>
      val base = edges(quads, p, graph, dflt)
      cur.join(nodes(base), Seq("n"), "left_semi")
        .select(col("seed"), col("n"))
        .union(step(cur, base)).dropDuplicates()
    case leaf => step(cur, edges(quads, leaf, graph, dflt))
  }

  /** Seeded transitive reachability: (seed, n) pairs reachable in >= 1 step.
    *
    * Small edge sets (≤ [[DoublingMaxPairs]]) take the log-rounds doubling
    * closure and join the seeds afterwards — at that size the global closure
    * is trivially cheap and doubling needs ⌈log₂ d⌉ rounds instead of d.
    * Large edge sets run a frontier⋈base BFS from the seeds only: work is
    * O(|reachable from seeds|) per round, never the whole-graph closure —
    * the property that keeps one-seed queries viable at 100 TB. */
  def seededClosure(base0: DataFrame, seeds: DataFrame,
      doublingMaxPairs: Long = DoublingMaxPairs): DataFrame = {
    val (base, baseRdd) = barrier(base0.dropDuplicates())
    if (base.count() <= doublingMaxPairs) {
      val out = seeds.as("c").join(closure(base).as("b"), col("c.n") === col("b.s"))
        .select(col("c.seed").as("seed"), col("b.o").as("n")).dropDuplicates()
      // closure() materialized (and tracked) its own result; base is only
      // needed again if that cache is evicted, so recompute-from-lineage
      // covers it — release now instead of leaking for the session.
      baseRdd.unpersist(blocking = false)
      return out
    }
    // per-round joins: the frontier is usually orders of magnitude smaller
    // than the edge relation, and both sides are LogicalRDD barriers whose
    // stats Catalyst cannot see — without a hint every round pays a full
    // sort-merge of the edge set. Broadcast the frontier while its exact
    // count (known from the previous round's barrier) stays under the
    // threshold; past it the plain shuffle join is the correct plan.
    def maybeBroadcast(df: DataFrame, exactRows: Long): DataFrame =
      if (exactRows <= BfsBroadcastMaxRows) broadcast(df) else df
    var (visited, visitedRdd) = barrier(step(seeds, base))
    var frontier = visited
    var frontierRdd = visitedRdd
    var frontierCnt = visited.count()
    var rounds = 1
    var growing = frontierCnt > 0
    while (growing && rounds < MaxClosureRounds) {
      val stepped = step(maybeBroadcast(frontier, frontierCnt), base)
      val (novel, novelRdd) = barrier(stepped.join(visited, Seq("seed", "n"), "left_anti"))
      if (frontierRdd ne visitedRdd) frontierRdd.unpersist(blocking = false)
      val novelCnt = novel.count()
      if (novelCnt == 0) {
        novelRdd.unpersist(blocking = false)
        frontierRdd = visitedRdd // nothing separate left to release
        growing = false
      } else {
        val (nv, nvRdd) = barrier(visited.union(novel))
        visitedRdd.unpersist(blocking = false)
        visited = nv; visitedRdd = nvRdd
        frontier = novel; frontierRdd = novelRdd
        frontierCnt = novelCnt
        rounds += 1
      }
    }
    if (frontierRdd ne visitedRdd) frontierRdd.unpersist(blocking = false)
    baseRdd.unpersist(blocking = false)
    graft.Caches.track(visitedRdd)
    visited
  }

  // ---------------------------------------------------------------------
  // GRAPH ?var evaluation — composite (graph, node) keys
  // ---------------------------------------------------------------------

  private val GSep = "\u0002"

  /** `GRAPH ?g { s path o }`: the path evaluates independently inside every
    * named graph. Nodes are prefixed with their graph (`g<U+0002>node`), so
    * every edge operation — sequence joins, closures, zero-length domains —
    * stays inside its graph by key construction, and ONE evaluation covers
    * all graphs (no per-graph loop). Constant endpoints pre-restrict the
    * scan to graphs containing the constant (broadcast semi-join) before
    * any fixpoint, bounding closure work to the graphs that can match. */
  def compileGraphVar(quads: DataFrame, s: TermPattern, path: PathExpr,
      o: TermPattern, gvar: String): DataFrame = {
    val (vs, vo) = (s, o) match {
      case (TVar(a), TVar(b)) => (a, b)
      case (TVar(a), _) => (a, "__path_o")
      case (_, TVar(b)) => ("__path_s", b)
      case _ => ("__path_s", "__path_o")
    }
    if (gvar == vs || gvar == vo)
      throw new SparqlParseException(
        s"graph variable ?$gvar reused as a path endpoint is not supported")
    val constEndpoint = Seq(s, o).collectFirst { case TConst(t) => t }
    val scoped = constEndpoint match {
      case Some(t) =>
        val gs = quads.filter(col("subject") === t.value).select(col("graph_iri"))
          .union(quads.filter(col("obj_value") === t.value &&
            col("obj_kind") === t.kind).select(col("graph_iri")))
          .distinct()
        quads.join(broadcast(gs), Seq("graph_iri"), "left_semi")
      case None => quads
    }
    val composite = scoped
      .withColumn("subject", concat_ws(GSep, col("graph_iri"), col("subject")))
      .withColumn("obj_value", concat_ws(GSep, col("graph_iri"), col("obj_value")))
    val sameVar = vs == vo
    val raw = compile(composite, TVar(vs), path, TVar(vo), None, None)
    def termStruct(t: Term) = struct(lit(t.kind).as("kind"), lit(t.value).as("value"),
      lit(t.lang).as("lang"), lit(t.datatype).as("datatype"))
    def strip(c: Column) = struct(c.getField("kind").as("kind"),
      element_at(split(c.getField("value"), GSep, 2), 2).as("value"),
      c.getField("lang").as("lang"), c.getField("datatype").as("datatype"))
    // the graph prefix is identical on every endpoint (edges never cross
    // graphs) — read it off the first bound column, then de-prefix all
    val first = raw.columns.head
    var out = raw.withColumn(gvar,
      struct(lit(Kind.Iri).as("kind"),
        substring_index(raw(first).getField("value"), GSep, 1).as("value"),
        lit("").as("lang"), lit("").as("datatype")))
    raw.columns.foreach(c => out = out.withColumn(c, strip(out(c))))
    s match {
      case TConst(t) => out = out.filter(out(vs) === termStruct(t)).drop(vs)
      case _ =>
    }
    o match {
      case TConst(t) if !sameVar =>
        out = out.filter(out(vo) === termStruct(t)).drop(vo)
      case _ =>
    }
    if (constEndpoint.isDefined) out.dropDuplicates() else out
  }

  private def seedDf(quads: DataFrame, t: Term): DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    val e = encTerm(t)
    Seq((e, e)).toDF("seed", "n")
  }

  /** Bind a compiled path into a solution DataFrame for (s, path, o).
    * Constant endpoints evaluate seeded (frontier-only closures); the
    * var-var case needs the full path relation. */
  def compile(quads: DataFrame, s: TermPattern, path: PathExpr, o: TermPattern,
      graph: Option[TermPattern], dflt: Option[DataFrame] = None): DataFrame = (s, o) match {
    case (TVar(vs), TVar(vo)) if vs == vo =>
      val e = edges(quads, path, graph, dflt)
      e.filter(col("s") === col("o")).select(decode(col("s")).as(vs))
    case (TVar(vs), TVar(vo)) =>
      val e = edges(quads, path, graph, dflt)
      e.select(decode(col("s")).as(vs), decode(col("o")).as(vo))
    case (TConst(ts), TVar(vo)) =>
      evalFrom(quads, path, graph, seedDf(quads, ts), dflt)
        .select(decode(col("n")).as(vo))
    case (TVar(vs), TConst(to)) =>
      evalFrom(quads, reverse(path), graph, seedDf(quads, to), dflt)
        .select(decode(col("n")).as(vs))
    case (TConst(ts), TConst(to)) =>
      // boolean existence: empty or single-row unit solution
      evalFrom(quads, path, graph, seedDf(quads, ts), dflt)
        .filter(col("n") === encTerm(to))
        .limit(1).select(lit(1).as("__unit"))
  }
}
