package graft.operators

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.SparkTestBase
import scala.util.Random
import scala.collection.mutable

class ConnectedComponentsSpec extends AnyFlatSpec with Matchers with SparkTestBase {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], nodes: Option[Seq[Long]] = None): Map[Long, Long] =
    ConnectedComponents.run(spark, edges.toDF("a", "b"),
      nodes.map(_.toDF("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side BFS reference. */
  private def bfs(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    def add(x: Long, y: Long): Unit = adj.getOrElseUpdate(x, mutable.Set.empty) += y
    edges.foreach { case (a, b) => add(a, b); add(b, a) }
    val seen = mutable.Map.empty[Long, Long]
    for (n <- nodes.sorted if !seen.contains(n)) {
      val comp = mutable.Set(n)
      val queue = mutable.Queue(n)
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        for (v <- adj.getOrElse(u, Nil) if !comp.contains(v)) { comp += v; queue += v }
      }
      val root = comp.min
      comp.foreach(m => seen(m) = root)
    }
    seen.toMap
  }

  "ConnectedComponents" should "collapse a path graph to min id" in {
    run(Seq((1L, 2L), (2L, 3L), (3L, 4L))) shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L)
  }

  it should "keep separate components separate and include singletons" in {
    run(Seq((1L, 2L), (5L, 6L)), Some(Seq(1L, 2L, 5L, 6L, 9L))) shouldBe
      Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L)
  }

  it should "be invariant under edge order and direction" in {
    val e = Seq((4L, 2L), (2L, 7L), (9L, 8L))
    run(e) shouldBe run(e.reverse.map { case (a, b) => (b, a) })
  }

  it should "match BFS on random graphs (incl. long chains)" in {
    val rnd = new Random(7)
    val n = 60
    val nodes = (0L until n).toSeq
    val random = (1 to 5).map { trial =>
      val chain = (0L until 20L).sliding(2).map(s => (s(0), s(1))).toSeq
      val rand = Seq.fill(40)((rnd.nextInt(n.toInt).toLong, rnd.nextInt(n.toInt).toLong))
        .filter { case (a, b) => a != b }
      s"trial $trial" -> (chain ++ rand)
    }
    // both directions of an 8-clique, one direction of a 6-clique
    val cliques = (for (a <- 0L until 8L; b <- 0L until 8L if a != b) yield (a, b)) ++
      (for (a <- 20L until 26L; b <- a + 1 until 26L) yield (b, a))
    // stars rooted at their min, and one whose center (45) is not its min
    val stars = (1L until 10L).map(v => (0L, v)) ++ (31L until 40L).map(v => (v, 30L)) ++
      Seq(41L, 46L, 47L, 59L).map(v => (45L, v))
    val shaped = Seq("cliques" -> cliques, "stars" -> stars,
      "cliques and stars bridged" -> (cliques ++ stars ++ Seq((7L, 45L), (25L, 39L))))
    // zero-padded string ids order like the longs they encode
    def sid(x: Long): String = f"v$x%03d"
    for (((name, edges), i) <- (random ++ shaped).zipWithIndex) withClue(name) {
      val want = bfs(edges, nodes)
      run(edges, Some(nodes)) shouldBe want
      if (i == 0 || i >= random.size) {
        val strEdges = edges.map { case (a, b) => (sid(a), sid(b)) }.toDF("a", "b")
        ConnectedComponents.run(spark, strEdges, Some(nodes.map(sid).toDF("id")))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap shouldBe
          want.map { case (k, v) => sid(k) -> sid(v) }
      }
    }
  }

  it should "work with string ids (image_id case)" in {
    val edges = Seq(("img_b", "img_a"), ("img_b", "img_c")).toDF("a", "b")
    val out = ConnectedComponents.run(spark, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    out shouldBe Map("img_a" -> "img_a", "img_b" -> "img_a", "img_c" -> "img_a")
  }

  it should "fail loudly instead of emitting non-fixpoint clusters when maxIter is too low" in {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      ConnectedComponents.run(spark, chain, maxIter = 1)
    }
    ex.getMessage should include("did not converge")
  }

  it should "stop at the star one round builds from a clique, with no confirming round" in {
    val clique = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    ConnectedComponents.run(spark, clique.toDF("a", "b"), maxIter = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      (1L to 5L).map(_ -> 1L).toMap
  }

  it should "return a star-forest input unchanged within one round" in {
    val stars = Seq((1L, 2L), (1L, 3L), (4L, 5L), (4L, 6L), (4L, 9L))
    ConnectedComponents.run(spark, stars.toDF("a", "b"), maxIter = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L, 9L -> 4L)
  }

  it should "be idempotent on star output (resume safety)" in {
    val first = run(Seq((1L, 2L), (2L, 3L)))
    val starEdges = first.toSeq.filter { case (id, c) => id != c }
      .map { case (id, c) => (c, id) }
    run(starEdges) shouldBe first
  }

  it should "take periodic reliable checkpoints through a StageStore and resume from them" in {
    // a 600-node path graph needs several large/small-star rounds, so with
    // checkpointEvery=2 at least one cc_edges_<i> commit lands
    val chain = (0L until 599L).map(i => (i, i + 1))
    val nodes = (0L until 600L).toDF("id")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ck").toString
    val st1 = new graft.pipeline.StageCheckpoint(spark, dir)
    val out1 = ConnectedComponents.run(spark, chain.toDF("a", "b"), Some(nodes),
        store = Some(st1), checkpointEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out1 shouldBe (0L until 600L).map(_ -> 0L).toMap
    val committed = st1.manifest().filter(_.contains("\"stage\":\"cc_edges_"))
    committed should not be empty

    // a fresh run over the same store resumes from the latest commit: the
    // manifest gains no new entries before that iteration, and the result
    // is identical
    val st2 = new graft.pipeline.StageCheckpoint(spark, dir)
    val out2 = ConnectedComponents.run(spark, chain.toDF("a", "b"), Some(nodes),
        store = Some(st2), checkpointEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out2 shouldBe out1
    val committed2 = st2.manifest().filter(_.contains("\"stage\":\"cc_edges_"))
    // resume re-commits nothing before the resume point; it may add commits
    // only for iterations AFTER it
    committed2.toSet.intersect(committed.toSet) shouldBe committed.toSet

    // ADVICE r3: a rerun with a DIFFERENT checkpointEvery must still find
    // the previous run's commits (its own grid would probe cc_edges_5,10,…
    // and miss the even-indexed ones) — same result, nothing recomputed
    // before the latest committed iteration
    val st3 = new graft.pipeline.StageCheckpoint(spark, dir)
    val out3 = ConnectedComponents.run(spark, chain.toDF("a", "b"), Some(nodes),
        store = Some(st3), checkpointEvery = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out3 shouldBe out1
    val committed3 = st3.manifest().filter(_.contains("\"stage\":\"cc_edges_"))
    committed3.toSet.intersect(committed.toSet) shouldBe committed.toSet
  }
}
