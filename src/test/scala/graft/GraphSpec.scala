package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side replay of the operator's exact integer recurrence —
    * the equality oracle for arbitrary small graphs. */
  private def ref(edges: Set[(Long, Long)], iters: Int,
                  scale: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSeq.sorted
    val n = nodes.size
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    var r = nodes.map(_ -> scale).toMap
    val base = 15L * scale / 100L
    for (_ <- 1 to iters) {
      val shares = r.map { case (u, ru) =>
        u -> out.get(u).map(d => ru / d).getOrElse(0L) }
      // NB: stay on Seq — summing via Set would collapse equal shares
      val dmass = r.toSeq.collect { case (u, ru) if !out.contains(u) => ru }.sum
      r = nodes.map { v =>
        val inflow = edges.toSeq.collect { case (u, d) if d == v => shares(u) }.sum
        v -> (base + 85L * (inflow + dmass / n) / 100L)
      }.toMap
    }
    r
  }

  private def run(edges: Set[(Long, Long)], iters: Int = 5,
                  parts: Int = 1): Map[Long, Long] = {
    val df = edges.toSeq.toDF("src", "dst")
    Graph.pageRank(if (parts > 1) df.repartition(parts) else df, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pageRank equals the driver replay of the integer recurrence") {
    // a mixed graph: cycle, chord, dangling sink, multi-in-degree hub
    val edges = Set[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 3L), (5L, 3L), (3L, 6L))
    assert(run(edges) === ref(edges, 5, 1000000000L))
    assert(run(edges, iters = 1) === ref(edges, 1, 1000000000L))
  }

  test("pageRank: hub out-ranks leaves; repartitioning changes nothing") {
    val star = (1L to 8L).map(i => (i, 0L)).toSet // 0 is a dangling hub
    val got = run(star)
    assert((1L to 8L).forall(i => got(0L) > got(i)),
      "the sink hub must dominate every pointing leaf")
    assert(got === run(star, parts = 7), "integer ranks are partitioning-invariant")
    assert(got === ref(star, 5, 1000000000L))
  }

  test("pageRank conserves mass up to deterministic floor losses") {
    val edges = Set[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L), (5L, 1L))
    val got = run(edges)
    val n = got.size
    val total = n * 1000000000L
    val floorLossBound = 5L * (n.toLong * 2 + 100) // per-iter: n divisions + damping
    assert(got.values.sum <= total)
    assert(got.values.sum >= total - floorLossBound,
      s"sum ${got.values.sum} lost more than floor rounding allows vs $total")
  }

  private def tri(edges: Seq[(Long, Long)], parts: Int = 1): Long = {
    val df = edges.toDF("src", "dst")
    Graph.triangleCount(if (parts > 1) df.repartition(parts) else df)
      .collect().head.getLong(0)
  }

  /** Driver-side brute force: count unordered node triples with all 3
    * canonical edges present — the equality oracle for small graphs. */
  private def triRef(edges: Seq[(Long, Long)]): Long = {
    val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 != p._2).toSet
    val nodes = (e.map(_._1) ++ e.map(_._2)).toSeq.sorted
    nodes.combinations(3).count { case Seq(a, b, c) =>
      e((a, b)) && e((a, c)) && e((b, c))
    }
  }

  test("triangleCount equals brute force on known graphs") {
    // K4: 4 triangles; adding an isolated edge changes nothing
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(tri(k4) === 4L)
    assert(tri(k4 :+ ((9L, 10L))) === 4L)
    // triangle with a pendant, duplicates, reversals, self-loops
    val messy = Seq[(Long, Long)](
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (3L, 4L), (2L, 3L))
    assert(tri(messy) === 1L)
    assert(tri(messy) === triRef(messy))
    // triangle-free bipartite K3,3 -> 0
    val k33 = for (a <- 1L to 3L; b <- 4L to 6L) yield (a, b)
    assert(tri(k33) === 0L)
  }

  test("triangleCount matches brute force on a pseudo-random graph; " +
    "repartitioning changes nothing") {
    // deterministic LCG edge sampler over 24 nodes, ~90 edges; sample the
    // HIGH bits — a power-of-two-modulus LCG's low bits have tiny period
    // (mod 24 they collapse to ~36 distinct edges and zero triangles)
    var s = 12345L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); s }
    val edges = (1 to 90).map { _ =>
      (math.floorMod(next() >> 33, 24L), math.floorMod(next() >> 33, 24L))
    }.filter(p => p._1 != p._2)
    val want = triRef(edges)
    assert(want > 0L, "sampler should produce at least one triangle")
    assert(tri(edges) === want)
    assert(tri(edges, parts = 7) === want,
      "exact integer count is partitioning-invariant")
  }

  test("pageRank argument contracts") {
    val df = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(df, iterations = 0))
    intercept[IllegalArgumentException](Graph.pageRank(df, iterations = 51))
    intercept[IllegalArgumentException](Graph.pageRank(df, scale = 10L))
    intercept[IllegalArgumentException](
      Graph.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst")))
  }

  test("pageRank and labelPropagation with a checkpoint dir: reliable " +
    "cuts, same result, only the final generation survives") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L), (6L, 7L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ops = Seq[(String, () => Map[Long, Long])](
      "pageRank" -> (() => collectMap(Graph.pageRank(edges, 4))),
      "labelPropagation" ->
        (() => collectMap(Graph.labelPropagation(edges, rounds = 3))))
    ops.foreach { case (name, op) =>
      val local = op()
      val dir = tmpDir(s"graph-ckpt-$name")
      spark.sparkContext.setCheckpointDir(dir)
      try {
        assert(op() === local, s"$name: reliable cuts changed the result")
        // the cuts must be RELIABLE checkpoints, and every superseded
        // generation freed: only the final one's rdd-* may remain
        val gens = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
        assert(gens === 1,
          s"$name: expected 1 surviving checkpoint generation, got $gens")
      } finally spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("labelPropagation: hand-traced two-triangle graph converges to one " +
    "label per community in 3 rounds; partitioning-invariant") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} joined by the bridge 3–4; the
    // hand trace of 3 synchronous min-tie rounds lands {1,2,3}→1 and
    // {4,5,6}→3 (the bridge drags 4's community onto 3's old label,
    // which is exactly the deterministic-tie-break semantics to pin)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    def run(e: org.apache.spark.sql.DataFrame) =
      Graph.labelPropagation(e, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(edges)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    assert(run(edges.repartition(7)) === got)
    intercept[IllegalArgumentException](
      Graph.labelPropagation(edges, rounds = 0))
  }

  test("labelPropagation: a source-only node (zero in-degree) keeps its " +
    "own label across rounds and its votes still count") {
    import spark.implicits._
    // 7 is source-only: it votes onto node 1 every round but nothing
    // votes onto it. Before the spine-join fix it vanished from the
    // output after round 1 and its vote disappeared from round 2 on.
    // Hand trace (ties -> min): r1 1<-{7,2}->2, 2<-{1}->1, 7 keeps 7;
    // r2 1<-{7,1}->1, 2<-{2}->2; r3 1<-{7,2}->2, 2<-{1}->1.
    val e = Seq((7L, 1L), (2L, 1L), (1L, 2L)).toDF("src", "dst")
    val got = Graph.labelPropagation(e, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 7L), "no node may vanish")
    assert(got(7L) === 7L, "source-only node keeps its own label")
    assert(got(1L) === 2L && got(2L) === 1L,
      "7's standing label participates in every round's vote")
  }
}
