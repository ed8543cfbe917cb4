package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Distributed exact connected components — the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14; public recipe, fresh
  * implementation as pure DataFrame algebra).
  *
  * Why it exists here: the near-dup cluster operators
  * ([[Dedup.simhashClusters]], [[Similarity.semanticDedup]]) use min-id
  * STAR election — one hop, plus bounded pointer-jumping — and their
  * scaladoc documents the residual: a CHAIN a~b~c (ends not similar to
  * each other) can leave c pointing at an elected keeper that is itself
  * deduped. This module is the exact fixpoint for consumers that need
  * the full transitive closure at adversarial data: every node ends
  * labeled with the MINIMUM node id of its component, however long the
  * chain.
  *
  * Scale shape: each round is two groupBy-min + join passes over the
  * edge frame — hash shuffles of (long, long) pairs only, nothing wider.
  * The paper proves O(log n) rounds to a forest of stars even on path
  * graphs (plain min-label propagation needs O(diameter)); near-dup
  * graphs converge in 2-3. Each round materializes via an EAGER
  * localCheckpoint: iterative self-reference otherwise stacks the whole
  * loop into one lineage (exponential re-execution under retry), and the
  * convergence test needs an action anyway. Convergence is detected by
  * a (count, sum of row-hashes) checksum of the directed edge multiset,
  * CONFIRMED exactly: a checksum collision on an unequal multiset would
  * exit the loop at a non-fixpoint forest (wrong component labels — the
  * dangerous direction, unlike the digest-key operators where a
  * collision merely merges two keys), so checksum equality is only the
  * cheap trigger for one exact `exceptAll`-emptiness comparison, which
  * is what actually ends the loop. The exact check runs once per call
  * on the convergent round (equal counts make one direction
  * sufficient); a collision before convergence costs one extra exact
  * comparison, never a wrong answer.
  */
object Graph {

  /** Connected components of an undirected edge list (`src`, `dst`) —
    * any long-typed node ids; self-loops ignored. Output: one row per
    * node APPEARING IN THE EDGE LIST, (node, component) where
    * `component` is the minimum node id of its component (callers union
    * isolated nodes back themselves — an edge list cannot name them).
    * Deterministic: the fixpoint is unique, independent of partitioning
    * or round count.
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    // r19 (verdict ask #1 — the q_simhash_components in-suite blow-up):
    // every round eagerly checkpoints a fresh edge frame, and the
    // SUPERSEDED round's blocks previously lingered until the
    // ContextCleaner GC'd the dead Dataset reference — under mid-suite
    // block-manager/GC pressure those dead blocks bleed into the live
    // rounds (the exact r3 cross-query pattern, here WITHIN one query's
    // iteration). Each round's checkpointed RDD is the one under the
    // checkpointed Dataset's own LogicalRDD, and it is dropped the
    // moment the next round is materialized and compared. Taken from
    // that plan, never from the context's persistent-RDD set, so a
    // concurrent query on the same session keeps its own blocks.
    def checkpointTracked(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val cp = df.localCheckpoint()
      (cp, cp.queryExecution.logical.collect { case r: LogicalRDD => r.rdd })
    }

    // canonical start: point every edge from the larger to the smaller
    // id, as a directed (u > v) frame
    var (dir, dirRdds) = checkpointTracked(edges
      .select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct())

    // decimal(38,0) accumulator: a Long sum of 64-bit hashes overflows
    // (ANSI throws); decimal summation is exact at any realistic count
    def checksum(g: DataFrame): (Long, String) = {
      val r = g.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1).toPlainString)
    }

    // large-star: every neighbor w > u connects to min(Γ(u) ∪ {u});
    // keeps big stars flat and splits long paths in half each round
    def largeStar(g: DataFrame): DataFrame = {
      val sym = g.unionAll(g.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star: every smaller neighbor (and u itself) connects to
    // min(S(u)) over u's out-neighbors — compacts the tails
    def smallStar(g: DataFrame): DataFrame = {
      val mins = g.groupBy("u").agg(min(col("v")).as("m"))
      g.join(mins, "u")
        .select(explode(array(col("v"), col("u"))).as("w"), col("m"))
        .filter(col("w") =!= col("m"))
        .select(col("w").as("u"), col("m").as("v"))
        .distinct()
    }

    var converged = false
    var it = 0
    var sig = checksum(dir)
    while (!converged && it < maxIters) {
      val (next, nextRdds) = checkpointTracked(smallStar(largeStar(dir)))
      val nextSig = checksum(next)
      // checksum equality triggers the exact confirmation; counts match
      // inside the checksum, so one exceptAll direction proves multiset
      // equality (both frames are distinct'd by construction)
      converged = nextSig == sig && next.exceptAll(dir).isEmpty
      sig = nextSig
      // the superseded round is dead once `next` is materialized and
      // compared — free its blocks now instead of waiting on the
      // cleaner (non-blocking: nothing reads them again)
      dirRdds.foreach(_.unpersist(blocking = false))
      dir = next
      dirRdds = nextRdds
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIters rounds")

    // fixpoint is a forest of stars: non-roots point at their component
    // min; roots appear only on the v side and label themselves
    val roots = dir.select(col("v").as("node")).distinct()
      .join(dir.select(col("u").as("node")).distinct(), Seq("node"), "left_anti")
    dir.select(col("u").as("node"), col("v").as("component"))
      .unionAll(roots.select(col("node"), col("node").as("component")))
  }
}
