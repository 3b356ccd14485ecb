package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf-scale-up generator: replicate an existing testdata directory K×
  * with key-shifted replicas, so the heavy bench queries can be REHEARSED
  * at sf1 (the r12 verdict's top item: convert the lint-proven 100×-scale
  * claims into measured evidence). The driver's testdata is read-only and
  * fixed at sf ≤ 0.1; this main derives a larger set from it without
  * touching it.
  *
  * Scaling model — "K independent copies of the economy", which is how
  * TPC-H itself scales (more customers/orders/parts, same dimension
  * constants, same distributions):
  *  - region/nation stay fixed (dimension constants at every sf);
  *  - every other table gets K replicas with primary AND foreign keys
  *    shifted by replica × stride (stride = max key + 1), so join
  *    fan-outs, key cardinalities and group sizes all scale linearly and
  *    referential integrity is preserved within each replica;
  *  - document TEXT is re-tokenized per replica (`r<i>` prefixed to every
  *    token): replica corpora are shingle-disjoint, so the near-dup RATE
  *    stays that of the source corpus instead of every doc landing in a
  *    K-clique of exact copies — the degenerate dup graph a naive copy
  *    would produce. n_chars is recomputed to match.
  *  - embedding VECTORS get a fixed affine index permutation per replica
  *    (j → (a·j + b) mod dim, gcd(a, dim) = 1): norms and intra-replica
  *    geometry are preserved exactly while replicas land in distinct
  *    layouts — K× the corpus, not K× identical points at distance 0.
  *  - event timestamps are kept: K× the events per day models K× the
  *    traffic on the same calendar, which is what stresses the
  *    shuffle/window paths.
  *
  * Usage: `runMain graft.tools.ScaleGen <srcDir> <destDir> <replicas>`
  * (e.g. `/root/testdata/sf0.1 /tmp/graft_sf1 10`). Deterministic —
  * re-running reproduces the same bytes modulo parquet row-group layout.
  */
object ScaleGen {

  /** Multipliers coprime to dim, ascending — the `a` pool of the affine
    * family below. dim = 1 degenerates to Seq(1) (identity only).
    */
  private[graft] def coprimesTo(dim: Int): IndexedSeq[Int] =
    (1 until math.max(dim, 2))
      .filter(a => BigInt(a).gcd(BigInt(dim)) == BigInt(1)).toIndexedSeq

  /** Affine index-permutation family (r15, replacing r14's
    * rotation+reversal): replica i rewrites `embedding` through the fixed
    * permutation j → (a·j + b) mod dim with b = i % dim and a = the
    * (i / dim)-th multiplier coprime to dim. Any fixed permutation applied
    * uniformly to every vector of a replica preserves all intra-replica
    * dot products and distances EXACTLY; affine maps with distinct (a, b)
    * differ as functions (evaluate at j = 0, 1), so replica layouts are
    * pairwise distinct. Subsumes the old family (rotation = a 1, reversal
    * ≈ a dim−1) and lifts the replica ceiling from 2·dim to
    * dim·φ(dim) members — 2048 at dim 64, enough for sf100 rehearsals.
    */
  private[graft] def affinePermutation(dim: Int, i: Int)
      : org.apache.spark.sql.Column = {
    val cps = coprimesTo(dim)
    val (a, b) = (cps(i / dim), i % dim)
    if (a == 1 && b == 0) col("embedding")
    else expr(s"transform(sequence(0, ${dim - 1}), " +
      s"j -> element_at(embedding, (($a * j + $b) % $dim) + 1))")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleGen <srcDir> <destDir> <replicas> [tables]")
    val (src, dest, k) = (args(0), args(1), args(2).toInt)
    // Optional comma-list of tables to generate (e.g. "lineitem,orders,part"
    // for a single-query probe at a scale where generating all ten would
    // dominate the probe itself); default = the full star schema.
    val want: String => Boolean = args.lift(3) match {
      case Some(list) =>
        val s = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = s -- graft.sources.Tables.starTables.toSet
        require(unknown.isEmpty, s"unknown tables: $unknown")
        s.contains _
      case None => _ => true
    }
    require(k >= 1)
    val spark = graft.SessionProfile.session(graft.SessionProfile.envCpus("32"), "32")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[scalegen] $t: ${spark.read.parquet(s"$dest/$t.parquet").count()} rows")
    }
    // stride per keyed table: max key + 1 (one tiny driver-side aggregate
    // per table — metadata-sized, not a data collect)
    def stride(t: String, key: String): Long =
      read(t).agg(max(col(key))).head().getLong(0) + 1L

    val (cS, sS, pS, oS) = (stride("customer", "c_custkey"),
      stride("supplier", "s_suppkey"), stride("part", "p_partkey"),
      stride("orders", "o_orderkey"))
    val (eS, uS) = (stride("events", "event_id"),
      read("events").agg(max(col("user_id"))).head().getLong(0) + 1L)
    val (dS, vS) = (stride("documents", "doc_id"), stride("embeddings", "vec_id"))
    // Guard the embedding replica family BEFORE any table is written: a
    // require that fires mid-generation would leave dest holding seven
    // new-scale tables and a missing/stale embeddings.parquet — a
    // silently cross-scale-inconsistent rehearsal directory.
    val dim = read("embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    require(k <= dim * coprimesTo(dim).size,
      s"embedding replicas k=$k exceeds dim*phi(dim)=" +
        s"${dim * coprimesTo(dim).size}: the affine permutation family " +
        "is exhausted; widen vectors or extend the family")

    def replicate(t: String)(tf: (DataFrame, Int) => DataFrame): Unit =
      if (want(t))
        write((0 until k).map(i => tf(read(t), i)).reduce(_ unionByName _), t)

    // dimension constants: fixed at every sf, copied once
    if (want("region")) write(read("region"), "region")
    if (want("nation")) write(read("nation"), "nation")

    replicate("customer")((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * cS)))
    replicate("supplier")((d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * sS)))
    replicate("part")((d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * pS)))
    replicate("orders")((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * oS))
      .withColumn("o_custkey", col("o_custkey") + lit(i * cS)))
    replicate("lineitem")((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * oS))
      .withColumn("l_partkey", col("l_partkey") + lit(i * pS))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * sS)))
    replicate("events")((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * eS))
      .withColumn("user_id", col("user_id") + lit(i * uS)))
    replicate("documents")((d, i) => {
      val txt = if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"r$i$$1")
      d.withColumn("doc_id", col("doc_id") + lit(i * dS))
        .withColumn("text", txt)
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    // Replica permutation family: see [[affinePermutation]] (guard above
    // ran before the first write, so a family-exhausted require cannot
    // leave dest cross-scale-inconsistent).
    replicate("embeddings")((d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * vS))
        .withColumn("embedding", affinePermutation(dim, i)))
    spark.stop()
  }
}
