package graft.kql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Ast._
import graft.ext.Rounds

/** Graph operators (`make-graph` / `graph-match` / `graph-shortest-paths`
  * / `graph-to-table`) planned as plain relational algebra — the
  * Spark-first reading of the publicly documented KQL graph semantics
  * (the reference implements nothing:
  * `/root/reference/projects/kql-core/src/lib.rs:7-9`):
  *
  *  - a graph is just its edge DataFrame (+ an optional node-property
  *    DataFrame keyed by node id);
  *  - a fixed-length `graph-match` pattern is a chain of equi-joins on
  *    node ids — Catalyst picks broadcast vs shuffle per hop, AQE
  *    re-plans at runtime, and every hop is a plain hash join at 100 TB;
  *  - a variable-length edge `[e*lo..hi]` is the union of its unrolled
  *    lengths (hi is required finite — bounded plan size), each length a
  *    join chain that accumulates the hop's edge rows into an array;
  *  - `graph-shortest-paths` is bounded BFS: per-level frontier =
  *    previous frontier ⨝ edges with a distinct() per level (keeps the
  *    frontier a set of (s, t) pairs, never a path enumeration), then
  *    min(hops) per pair. No driver-side iteration state — the whole
  *    search is one lazy plan.
  *
  * Pattern-variable property access (`a.name`, `e.weight`) is rewritten
  * to flat columns before expression planning: node vars expose `id`
  * plus the node table's columns; fixed edge vars expose the edge
  * columns; var-length edge vars bind to an array of edge structs
  * (so `array_length(e)` is the hop count).
  */
object GraphOps {

  final case class GraphCtx(edges: DataFrame, src: String, dst: String,
                            nodes: Option[(DataFrame, String)])

  private def err(msg: String): Nothing = throw new RuntimeException(msg)

  /** Column prefix for edge occurrence k. */
  private def ePre(k: Int) = s"__ge${k}_"
  /** Bound-node id column for node position k. */
  private def nId(k: Int) = s"__gn$k"

  /** Edge df with all columns prefixed. */
  private def renamed(e: DataFrame, pre: String): DataFrame =
    e.select(e.columns.map(c => col(c).as(pre + c)).toIndexedSeq: _*)

  /** One var-length segment, reachability form — used when the edge
    * variable is UNBOUND, so no downstream expression can observe the
    * path itself. Per-level DISTINCT keeps every frontier a set of
    * (from, to) pairs bounded by |V|², where full path enumeration is
    * exponential on dense graphs (r2/r3 VERDICT scale-killer). Output is
    * one row per (from, to, qualifying length) — set semantics per
    * level, matching graph-shortest-paths' frontier discipline. */
  private def varReach(ctx: GraphCtx, forward: Boolean, lo: Int, hi: Int): DataFrame = {
    val (s, d) = if (forward) (ctx.src, ctx.dst) else (ctx.dst, ctx.src)
    val step = ctx.edges.select(col(s).as("__vs"), col(d).as("__vd")).distinct()
    var level = step.select(col("__vs").as("from"), col("__vd").as("to"))
    var out: DataFrame = null
    (1 to hi).foreach { len =>
      if (len >= lo)
        out = if (out == null) level else out.unionByName(level)
      if (len < hi)
        level = level.join(step, level("to") === step("__vs"))
          .select(col("from"), col("__vd").as("to")).distinct()
    }
    out
  }

  /** One var-length segment: paths of length lo..hi as
    * (from, to, hops, earr: array<struct<edge cols>>).
    *
    * Fan-out bound, documented: this ENUMERATES paths — the per-level
    * row count can grow as fast as (max out-degree)^len, which is why
    * (a) `hi` is capped at 16 at the call site and (b) the planner only
    * takes this form when the edge variable is bound (something
    * downstream reads the path); unbound patterns use varReach's
    * per-level-distinct reachability, which is |V|²-bounded. */
  private def varPaths(ctx: GraphCtx, forward: Boolean, lo: Int, hi: Int): DataFrame = {
    val (s, d) = if (forward) (ctx.src, ctx.dst) else (ctx.dst, ctx.src)
    val eStruct = struct(ctx.edges.columns.map(c => col(c).as(c)).toIndexedSeq: _*)
    val step = ctx.edges.select(col(s).as("__vs"), col(d).as("__vd"),
      eStruct.as("__ve"))
    var level = step.select(col("__vs").as("from"), col("__vd").as("to"),
      array(col("__ve")).as("earr"))
    var out: DataFrame = null
    (1 to hi).foreach { len =>
      if (len >= lo) {
        val cur = level.withColumn("hops", lit(len.toLong))
        out = if (out == null) cur else out.unionByName(cur)
      }
      if (len < hi)
        level = level.join(step, level("to") === step("__vs"))
          .select(col("from"), col("__vd").as("to"),
            concat(col("earr"), array(col("__ve"))).as("earr"))
    }
    out
  }

  /** Plan a fixed/variable pattern into one DataFrame whose columns are
    * the prefixed edge columns + bound node ids + var-length arrays.
    * Returns (df, edgeVar → prefix, nodeVar → id column, varEdgeVar →
    * array column). */
  private def chain(ctx: GraphCtx, pattern: List[PatElem])
      : (DataFrame, Map[String, String], Map[String, String], Map[String, String]) = {
    val nodesP = pattern.collect { case n: PatNode => n }
    val edgesP = pattern.collect { case e: PatEdge => e }
    if (nodesP.length != edgesP.length + 1)
      err("graph pattern must alternate (node)-[edge]->(node)")

    var fixedVars = Map.empty[String, String]
    var varVars = Map.empty[String, String]
    var acc: DataFrame = null

    edgesP.zipWithIndex.foreach { case (pe, k) =>
      val (fromN, toN) = (nId(k), nId(k + 1)) // pattern-order endpoints
      if (pe.minHops == 1 && pe.maxHops == 1) {
        val pre = ePre(k)
        val e = renamed(ctx.edges, pre)
        val (sCol, dCol) =
          if (pe.forward) (pre + ctx.src, pre + ctx.dst)
          else (pre + ctx.dst, pre + ctx.src)
        val withIds = e.withColumn(fromN, col(sCol)).withColumn(toN, col(dCol))
        acc = if (acc == null) withIds
              else acc.join(withIds, acc(fromN) === withIds(fromN))
                .drop(withIds(fromN))
        pe.name.foreach(n => fixedVars += n -> pre)
      } else {
        if (pe.maxHops < pe.minHops || pe.maxHops > 16)
          err("variable-length edge needs 1 <= lo <= hi <= 16")
        val seg = pe.name match {
          case Some(n) =>
            // bound edge var: the path is observable → enumerate it
            val arrCol = s"__gv$k"
            varVars += n -> arrCol
            varPaths(ctx, pe.forward, pe.minHops, pe.maxHops)
              .select(col("from").as(fromN), col("to").as(toN),
                col("earr").as(arrCol))
          case None =>
            // unbound edge var: reachability only, per-level distinct
            varReach(ctx, pe.forward, pe.minHops, pe.maxHops)
              .select(col("from").as(fromN), col("to").as(toN))
        }
        acc = if (acc == null) seg
              else acc.join(seg, acc(fromN) === seg(fromN)).drop(seg(fromN))
      }
    }

    var nodeVars = Map.empty[String, String]
    nodesP.zipWithIndex.foreach { case (pn, k) =>
      pn.name.foreach { n =>
        // the same var naming two positions is a join constraint
        nodeVars.get(n) match {
          case Some(prev) => acc = acc.filter(col(prev) === col(nId(k)))
          case None => nodeVars += n -> nId(k)
        }
      }
    }
    (acc, fixedVars, nodeVars, varVars)
  }

  /** Join node properties for every referenced node var; returns the
    * widened df and nodeVar → propertyColumn-prefix. */
  private def joinNodeProps(df0: DataFrame, ctx: GraphCtx,
                            nodeVars: Map[String, String]): (DataFrame, Map[String, String]) = {
    ctx.nodes match {
      case None => (df0, Map.empty)
      case Some((nd, key)) =>
        var df = df0
        var pres = Map.empty[String, String]
        nodeVars.foreach { case (v, idCol) =>
          val pre = s"__gp${v}_"
          val props = renamed(nd, pre)
          df = df.join(props, df(idCol) === props(pre + key), "left")
          pres += v -> pre
        }
        (df, pres)
    }
  }

  /** Rewrite pattern-var property access into the flat columns of the
    * chained DataFrame. */
  private def rewrite(e: Expr, ctx: GraphCtx,
                      fixedVars: Map[String, String], nodeVars: Map[String, String],
                      varVars: Map[String, String], propPres: Map[String, String]): Expr = {
    def rw(e: Expr): Expr = e match {
      case PathGet(Col(v), Lit(p: String)) if fixedVars.contains(v) =>
        Col(fixedVars(v) + p)
      case PathGet(Col(v), Lit(p: String)) if nodeVars.contains(v) =>
        if (p == "id") Col(nodeVars(v))
        else propPres.get(v) match {
          case Some(pre) => Col(pre + p)
          case None => err(s"node property '$v.$p' needs `make-graph ... with <nodes> on <id>`")
        }
      case Col(v) if varVars.contains(v) => Col(varVars(v))
      case Col(v) if nodeVars.contains(v) => Col(nodeVars(v))
      case other => other.mapChildren(rw)
    }
    rw(e)
  }

  /** Default output column name for `a.id`-style projections. */
  private def defName(e: Expr, i: Int): String = e match {
    case PathGet(Col(v), Lit(p: String)) => s"${v}_$p"
    case Col(n) => n
    case _ => s"Column$i"
  }

  def graphMatch(ctx: GraphCtx, op: GraphMatchOp,
                 toCol: (Expr, DataFrame) => Column): DataFrame = {
    val (df0, fixedVars, nodeVars, varVars) = chain(ctx, op.pattern)
    val (df1, propPres) = joinNodeProps(df0, ctx, nodeVars)
    def rw(e: Expr) = rewrite(e, ctx, fixedVars, nodeVars, varVars, propPres)
    val filtered = op.where.map(w => df1.filter(toCol(rw(w), df1))).getOrElse(df1)
    filtered.select(op.project.zipWithIndex.map { case ((alias, e), i) =>
      toCol(rw(e), filtered).as(alias.getOrElse(defName(e, i)))
    }: _*)
  }

  /** Bounded BFS shortest paths over `(s)-[e*lo..hi]->(t)`: level-wise
    * frontier expansion with per-level distinct (s, t) — the frontier is
    * a pair SET, never an enumeration of paths — then min(hops). The
    * var-edge name binds to the hop count (exposed through
    * `array_length(e)`; the edge list itself is not materialized). */
  def shortestPaths(ctx: GraphCtx, op: GraphShortestPathsOp,
                    toCol: (Expr, DataFrame) => Column): DataFrame = {
    val (sN, eP, tN) = op.pattern match {
      case List(PatNode(s), e: PatEdge, PatNode(t)) if e.maxHops > 1 || e.minHops != e.maxHops =>
        (s, e, t)
      case _ => err("graph-shortest-paths expects (s)-[e*lo..hi]->(t)")
    }
    if (eP.maxHops < eP.minHops || eP.maxHops > 16)
      err("variable-length edge needs 1 <= lo <= hi <= 16")
    val (sc, dc) = if (eP.forward) (ctx.src, ctx.dst) else (ctx.dst, ctx.src)
    val step = ctx.edges.select(col(sc).as("__vs"), col(dc).as("__vd")).distinct()
    var level = step
    var out: DataFrame = null
    (1 to eP.maxHops).foreach { len =>
      if (len >= eP.minHops) {
        val cur = level.select(col("__vs"), col("__vd"), lit(len.toLong).as("__hops"))
        out = if (out == null) cur else out.unionByName(cur)
      }
      if (len < eP.maxHops)
        level = level.as("l").join(step.as("r"), col("l.__vd") === col("r.__vs"))
          .select(col("l.__vs").as("__vs"), col("r.__vd").as("__vd")).distinct()
    }
    val sId = nId(0); val tId = nId(1)
    val paths = out.groupBy(col("__vs").as(sId), col("__vd").as(tId))
      .agg(min(col("__hops")).as("__hops"))
    val nodeVars = List(sN, tN).flatten.map(v => v -> (if (sN.contains(v)) sId else tId)).toMap
    val (df1, propPres) = joinNodeProps(paths, ctx, nodeVars)
    // bind `array_length(e)` / `e` to the hop count
    def bindHops(e: Expr): Expr = e match {
      case App("array_length", List(Col(v))) if eP.name.contains(v) => Col("__hops")
      case Col(v) if eP.name.contains(v) => Col("__hops")
      case other => other.mapChildren(bindHops)
    }
    def rw(e: Expr) = rewrite(bindHops(e), ctx, Map.empty, nodeVars, Map.empty, propPres)
    val filtered = op.where.map(w => df1.filter(toCol(rw(w), df1))).getOrElse(df1)
    filtered.select(op.project.zipWithIndex.map { case ((alias, e), i) =>
      toCol(rw(e), filtered).as(alias.getOrElse(defName(e, i)))
    }: _*)
  }

  /** Distributed PageRank over an edge frame (power iteration,
    * damping 0.85, init 1.0 per node) — the link-centrality signal
    * web-corpus curation pipelines use as a document-quality prior.
    *
    * Engine-portable INTEGER arithmetic: ranks live as micro-units
    * (longs); per-edge contribution is floor(rank/outdeg) and the
    * damped update is 0.15 + floor(85·Σ/100) — every step exact
    * integer ops, so the result is bit-identical on any engine and the
    * DuckDB oracle replays the iterations verbatim (the integer-cents
    * convention applied to an iterative algorithm). Dangling-node mass
    * leaks (the standard simplified variant — no teleport
    * redistribution), documented rather than hidden.
    *
    * Scale shape: a [[graft.ext.Rounds]] loop. The degree-joined edge
    * list is keyed by src, so the per-round contribution join is narrow
    * and the only shuffle per round is the contribution reduceByKey.
    * Edges and the node set are computed once and reused across
    * iterations. */
  def pageRank(edges: DataFrame, iters: Int, srcCol: String, dstCol: String): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val spark = edges.sparkSession
    import spark.implicits._
    val part = Rounds.partitioner(spark.sparkContext, edges.count())
    val ePairs = edges.select(col(srcCol).cast("string"),
        col(dstCol).cast("string"))
      .distinct().as[(String, String)].rdd
    val bySrc = ePairs.partitionBy(part).persist()
    val nodes = bySrc.keys.union(bySrc.values).distinct()
      .map((_, ())).partitionBy(part).persist()
    // (src, (dst, outdeg)): outdeg rides every edge row so the round
    // join needs only ranks
    val eDeg = bySrc.mapValues(_ => 1L).reduceByKey(part, _ + _)
      .join(bySrc)
      .map { case (src, (deg, dst)) => (src, (dst, deg)) }
      .partitionBy(part).persist()
    eDeg.count()
    try {
      Rounds.loop(nodes.mapValues(_ => 1000000L), iters) { ranks =>
        val contrib = eDeg.join(ranks)
          .map { case (_, ((dst, deg), r)) => (dst, r / deg) }
          .reduceByKey(part, _ + _)
        nodes.leftOuterJoin(contrib)
          .mapValues { case (_, o) => 150000L + 85L * o.getOrElse(0L) / 100L }
      }.handOff(_.toDF("id", "rank_micros")
        .select(col("id"), col("rank_micros"),
          (col("rank_micros").cast("double") / 1000000.0d).as("rank")))
    } finally {
      bySrc.unpersist(false); eDeg.unpersist(false); nodes.unpersist(false)
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999, JACM) over a directed
    * edge frame — the link-analysis complement to [[pageRank]]: a good
    * HUB points at good authorities, a good AUTHORITY is pointed at by
    * good hubs. In corpus curation the authority score separates
    * frequently-referenced canonical pages from the link farms that
    * cite them (which score as hubs, not authorities).
    *
    * Engine-portable INTEGER arithmetic (the [[pageRank]] convention):
    * scores live as micro-units; each round computes the raw mutual
    * sums a′(v) = Σ_{u→v} h(u) and h′(u) = Σ_{u→v} a(v) and
    * max-normalizes them back to [0, 1e6] with exact integer division
    * ((raw · 1e6) div max — the standard max-norm HITS variant, chosen
    * over L2 because it stays in integers), so every step is exact and
    * the DuckDB oracle replays the rounds verbatim. Nodes with no
    * in-edges have authority 0; no out-edges ⇒ hub 0. Overflow bound:
    * raw · 1e6 needs Σ-degree ≤ ~9.2e6 micro-saturated neighbors —
    * beyond that drop to millis (documented dial, not auto-switched).
    *
    * Scale shape: a [[graft.ext.Rounds]] loop whose round is the pair
    * (hubs, authorities). The edge list is keyed both ways on the loop's
    * partitioner, so every join is narrow; per round the only shuffles
    * are the two reduceByKey fan-ins, and the two maxima are 1-value
    * folds. */
  def hits(edges: DataFrame, iters: Int, srcCol: String, dstCol: String): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val spark = edges.sparkSession
    import spark.implicits._
    val part = Rounds.partitioner(spark.sparkContext, edges.count())
    val ePairs = edges.select(col(srcCol).cast("string"),
        col(dstCol).cast("string"))
      .distinct().as[(String, String)].rdd
    val bySrc = ePairs.partitionBy(part).persist()
    val byDst = ePairs.map(_.swap).partitionBy(part).persist()
    val nodes = bySrc.keys.union(byDst.keys).distinct()
      .map((_, ())).partitionBy(part).persist()
    try {
      val init = nodes.mapValues(_ => 1000000L)
      Rounds.loop((init, init), iters) { case (h, _) =>
        // authority half-step: a'(v) = Σ_{u→v} h(u), max-normalized
        val aRaw = bySrc.join(h)
          .map { case (_, (dst, hu)) => (dst, hu) }
          .reduceByKey(part, _ + _)
        val am = aRaw.values.fold(0L)(math.max)
        // persisted before the round ends: the hub maximum below reads it
        val aNew = nodes.leftOuterJoin(aRaw)
          .mapValues { case (_, o) => o.getOrElse(0L) * 1000000L / am }
          .persist()
        // hub half-step reads the NEW authorities (Kleinberg's order)
        val hRaw = byDst.join(aNew)
          .map { case (_, (src, av)) => (src, av) }
          .reduceByKey(part, _ + _)
        val hm = hRaw.values.fold(0L)(math.max)
        (nodes.leftOuterJoin(hRaw)
          .mapValues { case (_, o) => o.getOrElse(0L) * 1000000L / hm }, aNew)
      }.handOff { case (h, a) =>
        h.join(a).map { case (id, (hv, av)) => (id, hv, av) }
          .toDF("id", "hub_micros", "auth_micros")
          .select(col("id"), col("hub_micros"), col("auth_micros"),
            (col("hub_micros").cast("double") / 1000000.0d).as("hub"),
            (col("auth_micros").cast("double") / 1000000.0d).as("auth"))
      }
    } finally {
      bySrc.unpersist(false); byDst.unpersist(false); nodes.unpersist(false)
    }
  }

  /** Single-source weighted shortest paths by synchronous Bellman–Ford
    * relaxation — `graph-shortest-paths` counts hops; this is the
    * weighted complement (latency, cost, −log-probability edges).
    * Non-negative INTEGER weights keep every relaxation exact, so the
    * distances are value-exact cross-engine and the DuckDB oracle
    * replays the rounds verbatim (the [[pageRank]] convention). After
    * `iters` rounds the output holds every node whose true distance
    * uses ≤ iters hops (Bellman–Ford's standard bound — iters ≥ V−1 is
    * exact on any graph without negative cycles; fewer rounds = a
    * bounded-hop horizon, often exactly what a radius query wants).
    *
    * Scale shape: a [[graft.ext.Rounds]] loop. The edge list is keyed by
    * src, so the per-round relax join is narrow and the only shuffle per
    * round is the min-fold reduceByKey. */
  def shortestPathsWeighted(edges: DataFrame, sourceId: String, iters: Int,
                            srcCol: String, dstCol: String,
                            wCol: String): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val spark = edges.sparkSession
    import spark.implicits._
    val part = Rounds.partitioner(spark.sparkContext, edges.count())
    val bySrc = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(wCol).cast("long").as("w"))
      .filter(col("w") >= 0) // negative edges break the exactness bound
      .groupBy("src", "dst").agg(min(col("w")).as("w")) // parallel edges: keep cheapest
      .as[(String, String, Long)].rdd
      .map { case (s, d, w) => (s, (d, w)) }
      .partitionBy(part).persist()
    try {
      Rounds.loop(spark.sparkContext.parallelize(Seq((sourceId, 0L))).partitionBy(part),
          iters) { dist =>
        val relaxed = bySrc.join(dist)
          .map { case (_, ((dst, w), d)) => (dst, d + w) }
        dist.union(relaxed).reduceByKey(part, math.min(_: Long, _: Long))
      }.handOff(_.toDF("id", "dist"))
    } finally bySrc.unpersist(false)
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007)
    * over ANY edge frame — finds DENSE communities where connected
    * components only find reachability (on a connected graph CC is one
    * blob; LPA still splits it along sparse cuts). Every node starts
    * labeled with its own id; each round it adopts the most frequent
    * label among its neighbors (undirected, deduplicated edges,
    * self-loops dropped), ties broken by MINIMUM label — so the whole
    * iteration is count-and-string arithmetic and the result is
    * VALUE-EXACT cross-engine (the pagerank unrolled-round oracle
    * convention; classic async LPA is order-dependent, this synchronous
    * min-tie form is deterministic). Isolated nodes keep their own
    * label. Output: (id, community, community_size).
    *
    * Scale shape: a [[graft.ext.Rounds]] loop. The symmetric neighbor
    * list is keyed by the LABEL-side endpoint, so the per-round
    * neighbor-label join is narrow; the vote count AND the argmax fold
    * into a single aggregateByKey per round (per-node label→count maps,
    * bounded by degree, combined map-side), landing already partitioned
    * for the narrow keep-own-label leftOuterJoin — ONE shuffle per round.
    * Synchronous LPA can oscillate on bipartite structures — `iters`
    * bounds it (the caller picks convergence vs cost, as with
    * pagerank). */
  def labelPropagation(edges: DataFrame, iters: Int,
                       srcCol: String, dstCol: String): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val spark = edges.sparkSession
    import spark.implicits._
    val part = Rounds.partitioner(spark.sparkContext, edges.count())
    val raw = edges.select(col(srcCol).cast("string"),
      col(dstCol).cast("string")).as[(String, String)].rdd
    // keyed by the neighbor whose LABEL each vote reads: edge (a,b)
    // contributes (b -> a) and (a -> b); self-loops drop (they vote for
    // the node's own current label symmetrically)
    val sym = raw.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Iterator((b, a), (a, b)) }
      .distinct().partitionBy(part).persist()
    // nodes from the UNFILTERED edges: a self-loop-only node still
    // appears in the output with its own label
    val nodes = raw.flatMap { case (a, b) => Iterator(a, b) }
      .distinct().map((_, ())).partitionBy(part).persist()
    nodes.count()
    try {
      Rounds.loop(nodes.mapPartitions(
          _.map { case (id, _) => (id, id) }, preservesPartitioning = true), iters) { labels =>
        // votes: for node a, count neighbor labels; argmax (count desc,
        // label asc) inside the same shuffle via per-node count maps
        val winner = sym.join(labels)
          .map { case (_, (a, lbl)) => (a, lbl) }
          .aggregateByKey(
            scala.collection.mutable.Map.empty[String, Long], part)(
            (m, l) => { m.updateWith(l) { o => Some(o.getOrElse(0L) + 1L) }; m },
            (m1, m2) => {
              m2.foreach { case (l, c) =>
                m1.updateWith(l) { o => Some(o.getOrElse(0L) + c) } }
              m1
            })
          .mapValues { m =>
            var bestL: String = null; var bestC = 0L
            m.foreach { case (l, c) =>
              if (c > bestC || (c == bestC && (bestL == null || l < bestL))) {
                bestL = l; bestC = c
              }
            }
            bestL
          }
        nodes.leftOuterJoin(winner)
          .mapPartitions(_.map { case (id, (_, o)) =>
            (id, o.getOrElse(id)) }, preservesPartitioning = true)
      }.handOff { labels =>
        val ldf = labels.toDF("id", "lbl")
        val sizes = ldf.groupBy("lbl").agg(count(lit(1)).as("community_size"))
        ldf.join(sizes, "lbl")
          .select(col("id"), col("lbl").as("community"), col("community_size"))
      }
    } finally {
      sym.unpersist(false); nodes.unpersist(false)
    }
  }

  /** Generic connected components over ANY edge frame — the KQL front
    * door to the two-phase large-star/small-star engine behind
    * neardup_groups/cosine_groups ([[graft.ext.LlmOps.connectedComponents]]).
    * Node ids travel as xxhash64 longs through the RDD loop (the fixed
    * 8-byte shuffle keys the CC engine wants; collisions ~1e-9 — the
    * library's hashed-key convention); the canonical representative is
    * re-derived as the MIN ORIGINAL id string per component, so the
    * output is hash-free: (id, group_id, group_size). */
  def components(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("a"),
      col(dstCol).cast("string").as("b"))
    val ids = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id"))).distinct()
    val comp = graft.ext.LlmOps.connectedComponents(
      e.select(xxhash64(col("a")).as("i"), xxhash64(col("b")).as("j"))
        .filter(col("i") =!= col("j")))
    val labeled = ids
      .join(comp.withColumnRenamed("node", "h"),
        xxhash64(col("id")) === col("h"), "left")
      .select(col("id"), coalesce(col("group_id"), xxhash64(col("id"))).as("g"))
    val reps = labeled.groupBy("g")
      .agg(min(col("id")).as("group_id"), count(lit(1)).as("group_size"))
    labeled.join(reps, "g")
      .select(col("id"), col("group_id"), col("group_size"))
  }

  /** ADX `graph-mark-components`: label every node of the pending graph
    * with its connected-component id (the public operator's semantics;
    * the reference implements nothing —
    * `/root/reference/projects/kql-core/src/lib.rs:7-9`). Returns a NEW
    * graph context whose node-property table carries the component
    * column, so the canonical follow-up `graph-to-table nodes` exposes
    * (id, component [, original props]) and a `graph-match` after it can
    * read `a.<comp>` like any node property. Component ids are the
    * hash-free MIN-original-id representatives from [[components]] (the
    * same two-phase star engine — O(log² n) rounds at any scale). The
    * node table key is an internal name so `graph-to-table`'s key drop
    * never collides with the exposed `id` column. */
  def markComponents(ctx: GraphCtx, compCol: String): GraphCtx = {
    val comp = components(ctx.edges, ctx.src, ctx.dst)
      .select(col("id").as("__mcid"), col("group_id").as(compCol))
    val nodes = ctx.nodes match {
      case Some((nd, key)) =>
        comp.join(nd, comp("__mcid") === nd(key), "left").drop(nd(key))
      case None => comp
    }
    GraphCtx(ctx.edges, ctx.src, ctx.dst, Some((nodes, "__mcid")))
  }

  /** Per-node triangle counts over ANY edge frame (the clustering /
    * cohesion primitive — spam-farm detection in link graphs, community
    * density in interaction graphs). Self-loops dropped, multi-edges
    * deduplicated, direction ignored.
    *
    * Degree-ordered orientation (the standard O(m^1.5) bound): each
    * undirected edge points from its LOWER-(degree, id) endpoint to the
    * higher, making the edge set a DAG in which every triangle
    * {x, y, z} materializes exactly once — as the wedge x→y, x→z at its
    * minimum-key apex x, closed by the oriented edge y→z. A hub's
    * wedges are therefore enumerated at its low-degree neighbors, so a
    * skewed graph never explodes quadratically at the hub (orienting by
    * id alone would — a low-id hub would own all its wedges). Pure
    * count/string arithmetic ⇒ VALUE-EXACT cross-engine; the DuckDB
    * oracle replays the same orientation verbatim.
    *
    * Scale shape: two degree joins to orient + one self-equi-join on
    * the apex (bounded per-apex by its oriented out-degree ≤ √(2m)) +
    * one closing equi-join + one explode-by-3 aggregate. No driver
    * state, no collect. Output: (id, triangles) for every node
    * appearing in the input (isolated-by-dedup nodes count 0). */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("string").as("x"),
      col(dstCol).cast("string").as("y"))
    val nodes = e0.select(col("x").as("id"))
      .unionByName(e0.select(col("y").as("id"))).distinct()
    val und = e0.filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct().persist()
    try {
      val deg = und.select(col("a").as("id"))
        .unionByName(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val wd = und
        .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      val fwd = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val o = wd.select(
        when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v"),
        when(fwd, col("db")).otherwise(col("da")).as("dv")).persist()
      // wedges at the apex: two out-edges of u, legs ordered by the
      // orientation key so the closing edge's direction is determined
      val l = o.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
      val r = o.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
      val wedge = l.join(r, Seq("u"))
        .filter(col("d1") < col("d2") ||
          (col("d1") === col("d2") && col("v1") < col("v2")))
      val tri = wedge.join(
        o.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      val perNode = tri
        .select(explode(array(col("u"), col("v1"), col("v2"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("t"))
      Rounds.handOff(nodes.join(perNode, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("t"), lit(0L)).as("triangles")))(o.unpersist(false))
    } finally und.unpersist(false)
  }

  /** k-core peeling over ANY edge frame: `rounds` synchronous rounds of
    * "drop every node with fewer than k surviving neighbors" (degrees
    * over the deduplicated undirected edge set, self-loops dropped) —
    * the density filter that isolates the graph's cohesive kernel
    * (spam-link cores, tightly-coupled doc clusters). Output: the
    * surviving subgraph's nodes with their surviving degree,
    * (id, degree). After convergence (no node removed in a round) this
    * IS the k-core: every survivor has ≥ k neighbors among survivors.
    * `rounds` bounds the cost exactly like pagerank's `iters` — the
    * caller picks convergence vs cost, and the DuckDB oracle replays
    * the same fixed rounds verbatim (pure count arithmetic ⇒
    * VALUE-EXACT cross-engine).
    *
    * Scale shape: a [[graft.ext.Rounds]] loop over the surviving edge
    * set. The degree count and the a-side semi-join are narrow; per
    * round the only shuffles are the degree reduceByKey fan-in and the
    * b-side re-key. Peeling only REMOVES edges, so an unchanged edge
    * count means no node lost degree and every later round is the
    * identity: the loop stops there, which is value-identical to the
    * oracle's fixed-round replay. */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
            srcCol: String, dstCol: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1 && rounds <= 50, "rounds must be in [1, 50]")
    val spark = edges.sparkSession
    import spark.implicits._
    val part = Rounds.partitioner(spark.sparkContext, edges.count())
    val und = edges.select(col(srcCol).cast("string").as("x"),
        col(dstCol).cast("string").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct().as[(String, String)].rdd
      .partitionBy(part)
    Rounds.until(und, rounds)(_.count()) { cur =>
      val keep = cur
        .flatMap { case (a, b) => Iterator((a, 1L), (b, 1L)) }
        .reduceByKey(part, _ + _).filter(_._2 >= k)
      cur.join(keep).mapValues(_._1)                   // a-side, narrow
        .map { case (a, b) => (b, a) }.partitionBy(part)
        .join(keep).map { case (b, (a, _)) => (a, b) } // b-side
        .partitionBy(part)
    }.handOff(_.flatMap { case (a, b) => Iterator((a, 1L), (b, 1L)) }
      .reduceByKey(part, _ + _)
      .toDF("id", "degree"))
  }

  def graphToTable(ctx: GraphCtx, what: String): DataFrame = what match {
    case "edges" => ctx.edges
    case "nodes" =>
      val ids = ctx.edges.select(col(ctx.src).as("id"))
        .unionByName(ctx.edges.select(col(ctx.dst).as("id"))).distinct()
      ctx.nodes match {
        case Some((nd, key)) => ids.join(nd, ids("id") === nd(key), "left").drop(key)
        case None => ids
      }
  }
}
