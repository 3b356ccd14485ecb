package graft.functions

import graft.ops.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph authority scoring — the crawl-side ranking a web-scale
  * corpus pipeline runs to prioritize its frontier (which hosts to fetch
  * next) and to weight sources during curation. The classic algorithm is
  * PageRank; this is a weighted PageRank over a pre-aggregated host-level
  * edge list, in ALL-INTEGER arithmetic so ranks are exact and
  * engine-portable: float PageRank sums are partition-order-dependent and
  * would fall out of the differential oracle (the q61 HLL lesson).
  *
  * Fixed-point update with ranks scaled to `Scale` (1e9) and damping
  * `DampingPct` (85, the classic 0.85):
  * {{{
  *   base      = Scale DIV n_hosts
  *   out_u     = Σ_v w(u,v)
  *   inflow(v) = Σ_u (r_t(u) * w(u,v)) DIV out_u
  *   r_{t+1}(v)= ((100 - DampingPct) * base + DampingPct * inflow(v)) DIV 100
  * }}}
  * Every op is BIGINT mul/div/sum — bit-identical on any engine. The DIV
  * truncation loses < 1 unit per edge per iteration, invisible at scale
  * 1e9 for ranking purposes, and (crucially) loses IDENTICALLY everywhere.
  *
  * Scale shape: the iteration state is one narrow (host, rank) row per
  * host — hosts are ~1e7-1e8 at 100 TB, orders below the corpus — and
  * each iteration is a rank⋈edges join keyed by host plus one groupBy on
  * the destination, both shuffling only (host, long) pairs. The edge list
  * arrives pre-aggregated to (src, dst, weight): document-level fan-in
  * was collapsed by the caller's groupBy, so iteration cost is O(|edges|)
  * narrow rows, never O(|corpus|). The loop invariants are computed once,
  * before the first round: each cut edge row carries its source's
  * out-weight `out_u`, and `n_hosts` is the observed row count of the
  * cut host list, so `base` enters every round as a literal. A round's
  * one group-by also reads a zero contribution per host, which keeps
  * hosts without inflow in the state at `(100 - DampingPct) * base DIV
  * 100` without a join. Iteration count is fixed (default 8 — power
  * iteration converges geometrically at damping 0.85). Each round's
  * state is lineage-CUT by [[graft.ops.Materialize.cut]], the same
  * discipline as [[Dedup.connectedComponentsIterated]]:
  * without the cut, Catalyst re-analyzes a plan that grows by one
  * join+agg per round and iteration time goes quadratic.
  */
object Graph {

  private val DampingPct = 85
  private val Scale = 1000000000L

  /** Weighted integer PageRank. `edges` must be pre-aggregated
    * (src, dst, weight) with src ≠ dst; returns (host, rank) for every
    * host appearing as a source or destination, rank scaled to `Scale`.
    */
  def pageRankInt(edges: DataFrame, src: Column, dst: Column,
                  weight: Column, iterations: Int = 8): DataFrame = {
    require(iterations >= 1)
    // Cut the (usually derived) edge list once, each row carrying its
    // source's out-weight: every round references it, and cutting here
    // caps the per-round plan at one join + one aggregate.
    val e = Materialize.cut(edges.select(src.as("src"), dst.as("dst"),
        weight.cast("long").as("w"))
      .withColumn("ow", sum(col("w")).over(Window.partitionBy(col("src")))))
    val (hosts, nHosts) = Materialize.cutCounted(e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct(), count(lit(1)))
    // The oracle's truncating `CAST(1000000000 / n_hosts AS BIGINT)`.
    val base = if (nHosts == 0) 0L else (Scale.toDouble / nHosts).toLong
    val noInflow = hosts.select(col("host"), lit(0L).as("contrib"))
    var r = hosts.select(col("host"), lit(base).as("rank"))
    for (i <- 1 to iterations) {
      r = r.join(e, r("host") === e("src"))
        .select(col("dst").as("host"), expr("(rank * w) DIV ow").as("contrib"))
        .union(noInflow)
        .groupBy(col("host")).agg(sum(col("contrib")).as("inflow"))
        .select(col("host"),
          expr(s"((100 - $DampingPct) * ${base}L + $DampingPct * inflow) DIV 100").as("rank"))
      // Cut every 2 rounds and after the last: a two-round uncut chain
      // costs Catalyst nothing, and fewer cuts mean less checkpoint I/O —
      // the dominant per-round cost.
      if (i % 2 == 0 || i == iterations) r = Materialize.cut(r)
    }
    r
  }

  /** Exact triangle count + global clustering coefficient over an
    * undirected edge list — the graph-shape diagnostic for the near-dup
    * graph: q60 measures how BIG duplicate clusters are, this measures
    * how DENSE they are (re-crawl chains triangle-free, template farms
    * near-cliques), which is what decides whether transitive cluster
    * merging (q60) over-merges.
    *
    * Algorithm is the degree-ordered orientation: every undirected edge
    * points from its (degree, id)-smaller endpoint to the larger, wedges
    * come from joining oriented edges on their source, and a wedge closes
    * iff its (v, w) endpoints are themselves an oriented edge. Each
    * triangle is counted exactly once, and — the scale property — the
    * per-vertex join fan-out is bounded by the graph's degeneracy (max
    * out-degree under this orientation ≈ √|E| worst case) instead of the
    * raw max degree, which is what makes triangle counting survive a hub
    * vertex. All joins are id-keyed narrow rows.
    *
    * Returns one row: n_vertices, n_edges, n_wedges (open+closed paths of
    * length 2, Σ C(d(v), 2)), n_triangles, clustering_ppm =
    * 3·triangles·1e6 DIV wedges (0 when wedge-free).
    */
  def triangleStats(edges: DataFrame, a: Column, b: Column): DataFrame = {
    val e = edges.select(least(a, b).as("u"), greatest(a, b).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    val oriented = withDeg.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), struct(col("u"), col("v")))
        .otherwise(struct(col("v").as("u"), col("u").as("v"))).as("o"))
      .select(col("o.u").as("s"), col("o.v").as("t"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.t").as("w1"), col("e2.t").as("w2"))
    // close the wedge against the UNDIRECTED edge key: an OR over the two
    // possible orientations cannot hash-join (it plans as a nested loop —
    // O(wedges × edges)); least/greatest canonicalization makes the
    // closure one equality pair, and `oriented` holds each undirected
    // edge exactly once so inner-join multiplicity equals semi-join.
    val edgeKeys = oriented.select(least(col("s"), col("t")).as("ka"),
      greatest(col("s"), col("t")).as("kb"))
    val triangles = wedges
      .select(least(col("w1"), col("w2")).as("ka"),
        greatest(col("w1"), col("w2")).as("kb"))
      .join(edgeKeys, Seq("ka", "kb"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val counts = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_vertices"),
        coalesce(sum(expr("(d * (d - 1)) DIV 2")), lit(0L)).as("n_wedges")))
    counts.crossJoin(triangles)
      .selectExpr("n_vertices", "n_edges", "n_wedges", "n_triangles",
        "CASE WHEN n_wedges = 0 THEN 0L " +
          "ELSE (3L * n_triangles * 1000000L) DIV n_wedges END AS clustering_ppm")
  }

  /** k-core of an undirected edge list by iterative peeling: drop every
    * edge with an endpoint of degree < k, recompute, repeat — the fixpoint
    * is the maximal subgraph where every vertex keeps ≥ k neighbors. On
    * the near-dup graph this is the template-farm detector one level past
    * [[triangleStats]]: a 2-core is any cycle structure (re-crawl chains
    * vanish), a 3-core is densely cross-linked boilerplate.
    *
    * Peels until the edge count stops changing (the true fixpoint), with
    * `maxRounds` as a SAFETY CAP only — a k=2 peel of an n-edge chain
    * needs ~n/2 rounds, so a low fixed round count would return a partial
    * peel on long re-crawl chains (the pre-r13 default of 8 did exactly
    * that; GraphSpec's 40-edge-chain case pins the fix). Hitting the cap
    * while edges are still being peeled throws [[NotConvergedException]]
    * rather than returning that partial peel. Peeling
    * is monotone, so a fixed-round SQL unroll of r ≥ fixpoint rounds
    * replays the result bit-for-bit (extra unrolled rounds are no-ops) —
    * which is what keeps the DuckDB oracle's finite unroll valid as long
    * as the data's fixpoint lands within it. Per round: one degree
    * aggregate + two semi-joins, all on narrow id pairs; lineage cuts per
    * round (the [[pageRankInt]] / connected-components discipline).
    * Returns the surviving undirected edges (a, b).
    */
  def kCore(pairs: DataFrame, a: Column, b: Column, k: Int,
            maxRounds: Int = 64): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    // Every round is a checkpoint cut ([[Materialize.cutCounted]]) whose
    // edge count rides the checkpoint job via observe instead of being its
    // own action. Callers pass a pre-cut pair list (q186 cuts the LSH
    // pipeline once for both peels), so the canonicalized-edge init is
    // cheap lineage too.
    var (edges, prevCount) = Materialize.cutCounted(
      pairs.select(least(a, b).as("a"), greatest(a, b).as("b"))
        .filter(col("a") =!= col("b")).distinct(), count(lit(1)))
    var i = 0
    var peeled = 0L
    var stable = prevCount == 0
    while (i < maxRounds && !stable) {
      val keep = edges.select(col("a").as("id")).unionAll(edges.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("id"))
      val (nextEdges, after) = Materialize.cutCounted(edges
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")), count(lit(1)))
      edges = nextEdges
      stable = after == prevCount
      peeled = prevCount - after
      prevCount = after
      i += 1
    }
    if (!stable) throw new NotConvergedException("kCore", i, peeled)
    edges
  }
}
