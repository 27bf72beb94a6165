package graft

import graft.graph.PageRank
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite with SparkTestBase {

  /** Exact driver-side reference of the fixed-point iteration — same
    * integer arithmetic, same rounding, so equality is bit-for-bit.
    */
  private def ref(n: Int, edges: Seq[(Int, Int)], iters: Int,
      scale: Long): Array[Long] = {
    val outdeg = Array.fill(n)(0L)
    edges.foreach { case (s, _) => outdeg(s) += 1 }
    var rank = Array.fill(n)(scale)
    val base = 3L * scale / 20L
    for (_ <- 1 to iters) {
      val contrib = Array.fill(n)(0L)
      edges.foreach { case (s, d) => contrib(d) += rank(s) / outdeg(s) }
      rank = Array.tabulate(n)(v => base + (17L * contrib(v)) / 20L)
    }
    rank
  }

  private def run(n: Int, edges: Seq[(Int, Int)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    val nodes = (0 until n).map(_.toLong).toDF("node")
    val e = edges.map { case (s, d) => (s.toLong, d.toLong) }.toDF("src", "dst")
    val out = PageRank.pageRank(nodes, e, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Persisted.unpersistAll()
    out
  }

  test("matches the exact integer reference on a star graph") {
    // 1..4 all point at 0; 0 points back at 1 — no dangling nodes
    val edges = Seq(1 -> 0, 2 -> 0, 3 -> 0, 4 -> 0, 0 -> 1)
    val got = run(5, edges, iters = 8)
    val want = ref(5, edges, 8, PageRank.DefaultScale)
    assert(got == want.zipWithIndex.map { case (r, i) => i.toLong -> r }.toMap)
    // the hub dominates the leaf spokes (node 1 oscillates with the hub
    // at even iteration counts — star graphs are periodic, not a bug)
    assert(Seq(2L, 3L, 4L).forall(v => got(0L) > got(v)))
  }

  test("matches the reference on a multigraph with self/dup edges") {
    val edges = Seq(0 -> 1, 0 -> 1, 1 -> 1, 1 -> 2, 2 -> 0, 2 -> 2, 3 -> 0, 3 -> 2)
    val got = run(4, edges, iters = 6)
    val want = ref(4, edges, 6, PageRank.DefaultScale)
    assert(got == want.zipWithIndex.map { case (r, i) => i.toLong -> r }.toMap)
  }

  test("rank mass is conserved up to rounding when no node dangles") {
    // ring + chords: out-degree >= 1 everywhere
    val n = 50
    val edges = (0 until n).flatMap(i => Seq(i -> ((i + 1) % n), i -> ((i * 3 + 7) % n)))
    val got = run(n, edges, iters = 8)
    val total = got.values.map(BigInt(_)).sum
    val exact = BigInt(n) * PageRank.DefaultScale
    // each node loses < 20 units/round to the two floors, each edge < 1
    assert(total <= exact)
    assert(exact - total < BigInt(8 * (20 * n + 2 * n)), s"lost ${exact - total}")
  }

  test("trustrank: seed-teleport matches the exact reference; trust decays with distance") {
    import spark.implicits._
    // chain 0 -> 1 -> 2 -> 3 -> 0 (ring) with seed {0}: rank must
    // strictly decrease with hop distance from the seed
    val n = 4
    val edges = Seq(0 -> 1, 1 -> 2, 2 -> 3, 3 -> 0)
    val nodes = (0 until n).map(_.toLong).toDF("node")
    val e = edges.map { case (s, d) => (s.toLong, d.toLong) }.toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val got = PageRank.pageRank(nodes, e, iters = 6, seeds = Some(seeds))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Persisted.unpersistAll()
    // exact reference with per-node base: seed gets 3*n*scale/(20*|S|)
    val scale = PageRank.DefaultScale
    val seedBase = (BigInt(3) * n * scale / (BigInt(20) * 1)).toLong
    val outdeg = Array.fill(n)(0L)
    edges.foreach { case (s, _) => outdeg(s) += 1 }
    var rank = Array.fill(n)(scale)
    for (_ <- 1 to 6) {
      val contrib = Array.fill(n)(0L)
      edges.foreach { case (s, d) => contrib(d) += rank(s) / outdeg(s) }
      rank = Array.tabulate(n)(v =>
        (if (v == 0) seedBase else 0L) + (17L * contrib(v)) / 20L)
    }
    assert(got == rank.zipWithIndex.map { case (r, i) => i.toLong -> r }.toMap)
    assert(got(0L) > got(1L) && got(1L) > got(2L) && got(2L) > got(3L),
      s"trust must decay along the chain: $got")
  }

  test("dangling nodes leak mass deterministically") {
    // 1 -> 0, and 0 has no out-edges: repeated runs agree exactly
    val edges = Seq(1 -> 0)
    val a = run(2, edges, iters = 4)
    val b = run(2, edges, iters = 4)
    assert(a == b)
    assert(a(0L) > a(1L))
  }

  private def runLp(n: Int, edges: Seq[(Int, Int)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    val nodes = (0 until n).map(_.toLong).toDF("node")
    val e = edges.map { case (s, d) => (s.toLong, d.toLong) }.toDF("src", "dst")
    val out = graft.graph.LabelProp.labelPropagate(nodes, e, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Persisted.unpersistAll()
    out
  }

  test("label propagation: two triangles joined by a bridge settle into " +
      "two communities") {
    // triangles {0,1,2} and {3,4,5}, one bridge 2-3 (edges are
    // symmetrized inside, so direction is irrelevant)
    val edges = Seq(0 -> 1, 1 -> 2, 2 -> 0, 3 -> 4, 4 -> 5, 5 -> 3, 2 -> 3)
    val got = runLp(6, edges, iters = 4)
    // min-label tie-break floods each triangle from its smallest id
    assert(Set(got(0L), got(1L), got(2L)).size == 1, s"left: $got")
    assert(Set(got(3L), got(4L), got(5L)).size == 1, s"right: $got")
    assert(got(0L) != got(4L), s"bridge must not merge the triangles: $got")
  }

  test("triangle count: known graphs (K4 = 4, path = 0, self/dup edges " +
    "ignored) and naive-reference equality on random graphs") {
    import spark.implicits._
    def count(edges: Seq[(Long, Long)]): (Long, Long) = {
      val r = graft.graph.Triangles.triangleCount(edges.toDF("src", "dst"))
        .head()
      Persisted.unpersistAll()
      (r.getAs[Long]("n_triangles"), r.getAs[Long]("max_oriented_outdeg"))
    }
    // K4: C(4,3) = 4 triangles; oriented out-degree can reach 3
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    assert(count(k4)._1 == 4L)
    // a path has no triangles; duplicate + self edges must not create any
    assert(count(Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 2L), (2L, 1L),
      (3L, 3L)))._1 == 0L)
    // random graphs vs the naive driver-side reference (distinct node
    // triples with all three edges present)
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(120)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter { case (a, b) => a != b }
      val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val naive = (for {
        a <- 0L until 20L; b <- a + 1 until 20L; c <- b + 1 until 20L
        if und((a, b)) && und((a, c)) && und((b, c))
      } yield 1).size
      val got = count(edges)._1
      assert(got == naive, s"triangles $got diverge from naive $naive")
    }
  }

  test("label propagation: majority beats smaller label id; isolated " +
      "nodes keep their own label") {
    // node 4's neighbors: {0} once, {5} twice -> label 5 wins by count
    // despite 0 < 5; node 6 has no edges at all
    val edges = Seq(0 -> 4, 5 -> 4, 5 -> 4, 1 -> 0, 2 -> 5, 3 -> 5)
    val got = runLp(7, edges, iters = 1)
    assert(got(4L) == 5L, s"majority must win over smaller id: $got")
    assert(got(6L) == 6L, s"isolated node keeps own label: $got")
    // equal counts fall back to the smaller label: 1 sees {0 once, 2
    // once} after symmetrization? no — give 1 neighbors 0 and 2, one
    // edge each, and the tie goes to 0
    val tie = runLp(3, Seq(0 -> 1, 2 -> 1), iters = 1)
    assert(tie(1L) == 0L, s"tie must break to the smaller label: $tie")
  }
}
