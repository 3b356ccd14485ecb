package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph authority scoring — the crawl-side ranking a web-scale
  * corpus pipeline runs to prioritize its frontier (which hosts to fetch
  * next) and to weight sources during curation. The classic algorithm is
  * PageRank; this is a weighted PageRank over a pre-aggregated host-level
  * edge list, in ALL-INTEGER arithmetic so ranks are exact and
  * engine-portable: float PageRank sums are partition-order-dependent and
  * would fall out of the differential oracle (the q61 HLL lesson).
  *
  * Fixed-point update with ranks scaled to `scale` (default 1e9):
  * {{{
  *   base      = scale DIV n_hosts
  *   out_u     = Σ_v w(u,v)
  *   inflow(v) = Σ_u (r_t(u) * w(u,v)) DIV out_u
  *   r_{t+1}(v)= ((100 - dampingPct) * base + dampingPct * inflow(v)) DIV 100
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
  * narrow rows, never O(|corpus|). Iteration count is fixed (default 8 —
  * power iteration converges geometrically at damping 0.85). Each round's
  * state is lineage-CUT (localCheckpoint, or a reliable `checkpoint()`
  * when `checkpointDir` is set — the cluster-mode configuration), the
  * same discipline and seam as [[Dedup.connectedComponentsIterated]]:
  * without the cut, Catalyst re-analyzes a plan that grows by one
  * join+agg per round and iteration time goes quadratic.
  */
object Graph {

  /** Materialize a derived frame and cut its lineage — localCheckpoint in
    * local mode, reliable `checkpoint()` against `checkpointDir` on a
    * cluster (the shared discipline of every iterative operator here).
    * Callers feeding ONE derived pipeline into SEVERAL iterative consumers
    * (q186's two peels over one LSH candidate list) materialize once and
    * pass the cut frame, instead of re-deriving per consumer.
    */
  def materialize(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    // r20: checkpoint-flavored cut — every caller here materializes a
    // NARROW frame (pair lists, projections, per-key aggregates) whose
    // recompute is cheap next to parquet's flat write-job overhead; the
    // interleaved A/B put the checkpoint leg ahead for q186/q193-class
    // callers. Expensive-lineage boundaries (q156's scored base, q196's
    // shingle sets) go through Relational.materialize's parquet
    // round-trip instead.
    graft.ops.Materialize.seam(df.sparkSession, checkpointDir).cut(df, "m")

  /** Weighted integer PageRank. `edges` must be pre-aggregated
    * (src, dst, weight) with src ≠ dst; returns (host, rank) for every
    * host appearing as a source or destination, rank scaled to `scale`.
    */
  def pageRankInt(edges: DataFrame, src: Column, dst: Column,
                  weight: Column, iterations: Int = 8,
                  dampingPct: Int = 85,
                  scale: Long = 1000000000L,
                  checkpointDir: Option[String] = None,
                  cutEvery: Int = 2): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100 && cutEvery >= 1)
    // r20: parquet-round-trip seams ([[graft.ops.Materialize]]) — the
    // reliable checkpoint computed every cut frame twice; the round-trip
    // computes once and retires superseded rank frames as it goes.
    val seam = graft.ops.Materialize.seam(edges.sparkSession, checkpointDir)
    var step = 0
    var lastStep = -1
    // Segment-aware materializer: with the default cadence a cut covers
    // ≤2 rounds of cheap lineage — the eager checkpoint's double-compute
    // costs ~nothing (the measured [[graft.ops.Materialize]] domain). A
    // caller-raised cadence makes each segment MULTI-round lineage, which
    // is exactly the seam doctrine's expensive case: the parquet
    // round-trip computes it once where the checkpoint would run the
    // whole unrolled chain twice.
    val cut: DataFrame => DataFrame = { df =>
      val out = if (cutEvery > 2) seam.mat(df, s"r$step")
                else seam.cut(df, s"r$step")
      if (lastStep >= 0) seam.drop(s"r$lastStep")
      lastStep = step
      step += 1
      out
    }
    // Materialize the (usually derived) edge list once: every round
    // references it, and cutting here also caps the per-round plan at a
    // constant two joins + one aggregate.
    val e = seam.cut(edges.select(src.as("src"), dst.as("dst"),
      weight.cast("long").as("w")), "edges")
    val hosts = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    // base rank as a one-row broadcast so n_hosts stays in-plan (no
    // driver-side count action). The (host, base) frame is loop-invariant
    // — one row per host — and every round's update joins against it, so
    // it seams ONCE (r21): the old lazy frame re-ran the full edge-list
    // distinct (a corpus-scale shuffle of the seamed edges) inside every
    // round's plan. outw stays lazy — it is a partial-aggregated (hence
    // hub-safe) broadcast-sized rollup of the seamed edges, cheap to
    // recompute per round.
    val base = hosts.agg((lit(scale) / count(lit(1))).cast("long").as("base"))
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val withBase = seam.cut(hosts.crossJoin(broadcast(base)), "hosts")
    var r = withBase.withColumn("rank", col("base"))
    for (i <- 1 to iterations) {
      val inflow = r.join(e, r("host") === e("src"))
        .join(outw, "src")
        .select(col("dst").as("host"),
          expr("(rank * w) DIV ow").as("contrib"))
        .groupBy(col("host")).agg(sum(col("contrib")).as("inflow"))
      r = withBase.join(inflow, Seq("host"), "left")
        .withColumn("rank",
          expr(s"((100 - $dampingPct) * base + $dampingPct * coalesce(inflow, 0L)) DIV 100"))
        .select(col("host"), col("base"), col("rank"))
      // Cut every `cutEvery` rounds (default 2): a shallow uncut chain
      // costs Catalyst nothing, and fewer cuts mean less checkpoint I/O —
      // the dominant per-round cost. Callers iterating a TINY graph
      // (q181's alphabet-sized journey chain) raise this to the iteration
      // count: each local job's fixed overhead dwarfs the micro-plan, so
      // one final materialization is strictly cheaper.
      if (i % cutEvery == 0 || i == iterations) r = cut(r)
    }
    r.select(col("host"), col("rank"))
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
            maxRounds: Int = 64,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    // r20: materialization via [[graft.ops.Materialize.Seam]] — parquet
    // round-trips compute each round ONCE (the reliable checkpoint ran
    // every lineage twice), and the per-round edge count rides the write
    // job via observe instead of being its own action. Retired rounds'
    // files are freed as the peel advances.
    val seam = graft.ops.Materialize.seam(pairs.sparkSession, checkpointDir)
    // Callers pass a PRE-MATERIALIZED pair list (q186 materializes the LSH
    // pipeline once for both peels), so the canonicalized-edge init is
    // cheap lineage — checkpoint-cut it (no observe wait).
    var (edges, prevCount) = seam.cutCounted(
      pairs.select(least(a, b).as("a"), greatest(a, b).as("b"))
        .filter(col("a") =!= col("b")).distinct(), count(lit(1)), "edges")
    var i = 0
    var peeled = 0L
    var stable = prevCount == 0
    while (i < maxRounds && !stable) {
      val keep = edges.select(col("a").as("id")).unionAll(edges.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("id"))
      val (nextEdges, after) = seam.cutCounted(edges
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")), count(lit(1)), s"round$i")
      edges = nextEdges
      if (i > 0) seam.drop(s"round${i - 1}")
      stable = after == prevCount
      peeled = prevCount - after
      prevCount = after
      i += 1
    }
    if (!stable) throw new NotConvergedException("kCore", i, peeled)
    edges
  }
}
