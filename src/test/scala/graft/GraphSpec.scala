package graft

import graft.functions.Graph
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long, Long)], iters: Int = 8) =
    Graph.pageRankInt(edges.toDF("s", "d", "w"), col("s"), col("d"),
        col("w"), iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a symmetric cycle is a fixed point at base rank") {
    // 2-cycle: inflow(v) = rank(u), so every round keeps
    // (15*base + 85*base) DIV 100 = base exactly.
    val out = ranks(Seq((1L, 2L, 5L), (2L, 1L, 5L)))
    assert(out == Map(1L -> 500000000L, 2L -> 500000000L))
  }

  test("link authority orders hub > linker > unlinked, deterministically") {
    // A(0)->B(1), C(2)->B(1), B(1)->A(0): B collects two links, A one,
    // C only teleport mass. The A<->B 2-cycle oscillates with amplitude
    // 0.85^t, so order the CONVERGED ranks (40 rounds, amplitude ~1e-3;
    // converged gap B-A ~0.02 of total mass).
    val e = Seq((0L, 1L, 1L), (2L, 1L, 1L), (1L, 0L, 1L))
    val out = ranks(e, iters = 40)
    assert(out(1L) > out(0L) && out(0L) > out(2L), out.toString)
    assert(ranks(e, iters = 40) == out) // pure integer math: bit-identical re-run
  }

  test("weighted edges split a source's rank proportionally") {
    // A->B w=3, A->C w=1: first round gives B floor(r*3/4) vs C floor(r/4).
    val out = ranks(Seq((0L, 1L, 3L), (0L, 2L, 1L)), iters = 1)
    val base = 1000000000L / 3
    assert(out(1L) == (15 * base + 85 * (base * 3 / 4)) / 100)
    assert(out(2L) == (15 * base + 85 * (base / 4)) / 100)
  }

  private def tri(edges: Seq[(Long, Long)]) =
    Graph.triangleStats(edges.toDF("a", "b"), col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head

  test("triangleStats on known graphs: K4, star, path, duplicate/reversed edges") {
    // K4: 4 vertices, 6 edges, every vertex degree 3 -> 4*C(3,2)=12 wedges,
    // 4 triangles, clustering = 3*4/12 = 1.0
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(tri(k4) == ((4L, 6L, 12L, 4L, 1000000L)))
    // star K1,4: hub degree 4 -> C(4,2)=6 wedges, no triangles
    assert(tri(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))) == ((5L, 4L, 6L, 0L, 0L)))
    // path a-b-c: one wedge, no triangle
    assert(tri(Seq((1L, 2L), (2L, 3L))) == ((3L, 2L, 1L, 0L, 0L)))
    // duplicate and reversed edges collapse before any counting
    assert(tri(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L))) ==
      ((3L, 3L, 3L, 1L, 1000000L)))
  }

  private def core(edges: Seq[(Long, Long)], k: Int): Set[(Long, Long)] =
    Graph.kCore(edges.toDF("a", "b"), col("a"), col("b"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("kCore throws when a chain longer than maxRounds is still peeling") {
    // a k=2 peel drops the two chain ends per round: 40 edges need ~20
    val chain = (1L to 40L).map(i => (i, i + 1))
    val e = intercept[graft.functions.NotConvergedException](
      Graph.kCore(chain.toDF("a", "b"), col("a"), col("b"), k = 2, maxRounds = 5))
    assert(e.operator == "kCore" && e.rounds == 5 && e.changed == 2)
    assert(core(chain, 2).isEmpty)
  }

  test("kCore reliable-checkpoint path (cluster mode) matches local and writes files") {
    SpecIo.withTempDir("graft-kcore-ckpt") { dir =>
      val tailed = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L), (10L, 11L))
      val viaReliable = Graph.kCore(
          TestSpark.sibling("spark.graft.checkpoint.dir" -> dir)
            .createDataFrame(tailed).toDF("a", "b"),
          col("a"), col("b"), k = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaReliable == core(tailed, 2))
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no reliable checkpoint files written")
    }
  }

  test("kCore peels known graphs: paths vanish, cycles survive k=2, cliques survive k=3") {
    // path 1-2-3-4: endpoints peel, then the rest cascades — empty 2-core
    assert(core(Seq((1L, 2L), (2L, 3L), (3L, 4L)), 2).isEmpty)
    // cycle 1-2-3-4-1: every vertex keeps degree 2 — the 2-core is the cycle
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(core(cycle, 2) == cycle.map { case (a, b) =>
      (math.min(a, b), math.max(a, b)) }.toSet)
    // ...but its 3-core is empty
    assert(core(cycle, 3).isEmpty)
    // K4 with a pendant tail: tail peels, K4 survives even at k=3
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(core(k4 :+ ((3L, 9L)), 3) == k4.toSet)
    // triangle + long tail at k=2: the whole tail cascades off in order,
    // which needs MULTIPLE peel rounds — the iteration, not one pass
    val tailed = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    assert(core(tailed, 2) == Set((1L, 2L), (2L, 3L), (1L, 3L)))
    // duplicate/reversed edges collapse first
    assert(core(Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L)), 2).size == 3)
  }

  test("kCore reaches the fixpoint on long chains (the r13 ADVICE fix: " +
    "a 40-edge path needs ~20 peel rounds, past the old 8-round default)") {
    // path 0-1-2-...-40: each k=2 round peels only the two endpoint
    // edges, so the empty fixpoint needs 20 rounds — under the pre-r13
    // rounds=8 default this returned 24 phantom "2-core" edges
    val chain = (0L until 40L).map(i => (i, i + 1))
    assert(core(chain, 2).isEmpty, "long chain must peel away entirely")
    // and a cycle spliced onto the same chain survives while the chain goes
    val cycled = chain ++ Seq((100L, 101L), (101L, 102L), (102L, 100L), (40L, 100L))
    assert(core(cycled, 2) ==
      Set((100L, 101L), (101L, 102L), (100L, 102L)))
  }
}
