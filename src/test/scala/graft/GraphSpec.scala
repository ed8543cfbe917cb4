package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph}

/** Connected-components fixture specs: the alternating-star algorithm
  * against hand-checkable graphs (the path case is exactly the chain
  * shape the star-election operators document as their residual), and
  * the simhash integration against a union-find oracle over the exact
  * pair operator.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("path graph collapses to one component labeled by its minimum") {
    // the adversarial chain: every consecutive pair adjacent, ends not —
    // one-hop election would leave dangling keepers; the fixpoint may not
    val got = components((0L until 9L).map(i => (i, i + 1)))
    assert(got == (0L to 9L).map(_ -> 0L).toMap, got.toString)
  }

  test("disjoint triangles, reversed edges, and negative ids label independently") {
    val got = components(Seq(
      (10L, 11L), (11L, 12L), (12L, 10L),   // triangle
      (22L, 21L), (21L, 20L),               // reversed path
      (3L, -5L)))                           // hash-like negative node id
    assert(got == Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      3L -> -5L, -5L -> -5L), got.toString)
  }

  test("self-loops and duplicate edges are ignored; output is one row per node") {
    val got = Graph.connectedComponents(
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (7L, 7L)).toDF("src", "dst"))
      .as[(Long, Long)].collect().toSeq
    // 7 appears only in a self-loop: an edge list cannot name isolated
    // nodes, so it is absent (documented; callers union isolated nodes)
    assert(got.sorted == Seq(1L -> 1L, 2L -> 1L), got.toString)
  }

  test("CC loop frees superseded round checkpoints as it iterates") {
    // r19 (verdict ask #1): each round eagerly checkpoints a fresh edge
    // frame; the loop must unpersist the superseded round's blocks
    // itself instead of leaving them to the ContextCleaner (the
    // in-suite pressure source). A 64-node path forces several
    // alternating-star rounds; afterwards only the FINAL round's
    // checkpoint may remain persisted from the loop.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = components((0L until 63L).map(i => (i, i + 1)))
    assert(got == (0L to 63L).map(_ -> 0L).toMap, got.toString)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 1,
      s"CC left ${added.size} persisted RDDs behind (want <= 1, the final round): $added")
    added.foreach(id => spark.sparkContext.getPersistentRDDs
      .get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Min-id component labels by union-find, for every node of `edges`
    * that has an edge other than a self-loop.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val proper = edges.filter(e => e._1 != e._2)
    val nodes = proper.flatMap(e => Seq(e._1, e._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    proper.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(x => x -> find(x)).toMap
  }

  test("components equal union-find on a seeded random graph") {
    // sparse regime (edges < nodes) maximizes component count and path
    // length — the shapes the alternating-star rounds must handle
    val rnd = new scala.util.Random(42)
    val n = 300
    val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    assert(components(edges) == unionFind(edges))
  }

  test("two CC calls on one session from two threads keep each other's checkpoints") {
    // each round releases only the checkpoint under its own Dataset's
    // plan: a release chosen by diffing the session's persistent RDDs
    // also frees the other thread's live round, whose next read then
    // fails for want of its checkpoint blocks
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val path = (0L until 63L).map(i => (i, i + 1))
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(260)((1000L + rnd.nextInt(300), 1000L + rnd.nextInt(300)))
      .filter(e => e._1 != e._2)
    val runs = Seq(path, random).map(edges => Future(edges -> components(edges)))
    Await.result(Future.sequence(runs), 5.minutes).foreach { case (edges, got) =>
      assert(got == unionFind(edges))
    }
  }

  test("simhash components match a union-find oracle and only coarsen the star partition") {
    // oracle: union-find over the EXACT pair operator (Manku 4-block is
    // lossless at hamming <= 3), min-id labels
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id").as[Long].collect()
    val parent = scala.collection.mutable.Map(docs.map(d => d -> d): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val m = math.min(ra, rb); parent(math.max(ra, rb)) = m }
    }
    // identical fingerprints collapse in the operator's uniq step, and
    // identical TEXTS share a fingerprint deterministically; the pair
    // operator's a<b self-join never emits fingerprint ties across docs
    // unless texts differ, so union same-fingerprint docs explicitly
    val byFp = graft.operators.Dedup.simhashComponents(spark, sf)
      .select("doc_id", "simhash").as[(Long, Long)].collect()
      .groupBy(_._2).values
    byFp.foreach { grp => grp.map(_._1).toSeq.sliding(2).foreach {
      case Seq(a, b) => union(a, b); case _ => () } }
    Dedup.simhashPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .foreach { case (a, b) => union(a, b) }
    val oracle = docs.map(d => d -> find(d)).toMap

    val comp = Dedup.simhashComponents(spark, sf)
      .select("doc_id", "cluster_rep").as[(Long, Long)].collect().toMap
    assert(comp == oracle.filter { case (d, _) => comp.contains(d) },
      "component partition diverged from union-find over exact pairs")

    // coarsening: component rep never exceeds the star-election rep, and
    // a star cluster is never split across components
    val star = Dedup.simhashClusters(spark, sf)
      .select("doc_id", "cluster_rep").as[(Long, Long)].collect().toMap
    assert(star.keySet == comp.keySet)
    assert(star.forall { case (d, r) => comp(d) <= r },
      "component rep must be <= star rep")
    assert(star.groupBy(_._2).values.forall(g =>
      g.keys.map(comp).toSet.size == 1),
      "a star cluster split across components")
  }
}
