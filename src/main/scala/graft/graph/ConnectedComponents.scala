package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Ops

/** Distributed connected components over an edge list, via alternating
  * large-star / small-star contraction (the MapReduce-and-beyond
  * formulation: each round is two shuffles on node id, and the edge set
  * converges to per-component stars in O(log^2 n) rounds — O(log n) on
  * real-world graphs — independent of component diameter).
  *
  * This is the engine behind two reference-shaped capabilities:
  *  - the portfolio build (`/root/reference/wowutil.py:162-163` populates
  *    landlords/portfolios via graph clustering of landlord aliases —
  *    the one derived-table step the reference delegates to an external
  *    graph package, SURVEY.md §3.2);
  *  - near-duplicate CLUSTERS for dedup: pairs from MinHash/SimHash LSH
  *    are edges; a component is a duplicate cluster; keep one canonical
  *    doc per component ([[graft.dedup.Dedup.nearDupClusters]]).
  *
  * Why not label propagation (`label := min(neighbor labels)` to a
  * fixpoint)? Its round count is the graph DIAMETER — a 10^6-node chain
  * needs 10^6 rounds. Star contraction rewires edges toward component
  * minima, halving (at least) the remaining height every round, so even
  * adversarial chains converge in tens of rounds at any scale.
  *
  * Scale shape per round: one hash aggregation + one equi-join, both
  * keyed on node id (map-side combine applies; AQE handles skew —
  * high-degree hubs are exactly the skewed-key case). Edges are
  * deduplicated every round so the working set only shrinks. Lineage is
  * truncated each round with [[graft.ops.Ops.advance]], the step
  * [[graft.ops.Ops.iterate]] is built on (iterative plans otherwise
  * grow exponentially in the optimizer); a multi-executor deployment
  * would checkpoint to a reliable dir instead, at the cost of one HDFS
  * write per round.
  */
object ConnectedComponents {

  /** Large-star: every node u attaches its LARGER neighbors to
    * m(u) = min(u ∪ neighbors(u)). Keeps connectivity, strictly reduces
    * the height of tall trees. Output may carry duplicates (two u's can
    * emit the same (v, m)) — bounded by 2|E| and deduplicated by the
    * small-star half of the round, so no extra shuffle here.
    */
  private[graph] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min(col("dst")).as("__mn"))
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"),
        least(col("__mn"), col("src")).as("dst"))
  }

  /** Small-star: canonicalize edges to (bigger, smaller); every node u
    * re-points its smaller neighbors (and itself) at
    * m(u) = min(neighbors(u)). Flattens shallow trees into stars.
    */
  private[graph] def smallStar(e: DataFrame): DataFrame = {
    val canon = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val mins = canon.groupBy("src").agg(min(col("dst")).as("__mn"))
    val rewired = canon.join(mins, "src")
      .filter(col("dst") =!= col("__mn"))
      .select(col("dst").as("src"), col("__mn").as("dst"))
    val self = mins.select(col("src"), col("__mn").as("dst"))
    rewired.union(self).distinct()
  }

  /** Convergence probe + edge count, fused into ONE aggregation job
    * per round (node-keyed, map-side combined). The edge set is a
    * finished min-rooted star forest iff, per node n with
    * parents(n) = #edges where n is src and children(n) = #edges where
    * n is dst, ALL hold:
    *  (a) parents(n) <= 1 — a node attached to two roots means its
    *      component is still split mid-merge (e.g. edges
    *      {5-10, 5-20, 1-10, 2-20} after one round hang node 5 under
    *      roots 1 AND 2: chain-free but NOT converged);
    *  (b) not (parents(n) >= 1 and children(n) >= 1) — no parent is
    *      itself a child;
    *  (c) src > dst on every edge — roots must be their component's
    *      MINIMUM for the (node, component=min id) contract; the probe
    *      now also runs BEFORE round 1, where an input like {(1,2)}
    *      is star-shaped but rooted at the max.
    * Star forest + the rounds' connectivity preservation ⇒ the forest
    * is the true component partition, detected the round stars form
    * (a consecutive-round fingerprint compare needs an extra
    * confirming round). The same job returns |E| (sum of parent
    * markers) to drive the driver-finish cutover, costing no extra
    * action.
    */
  private def probe(e: DataFrame): (Boolean, Long) = {
    val row = e.select(col("src").as("n"), lit(1L).as("p"), lit(0L).as("c"),
        (col("src") <= col("dst")).cast("long").as("v"))
      .union(e.select(col("dst").as("n"), lit(0L).as("p"), lit(1L).as("c"),
        lit(0L).as("v")))
      .groupBy(col("n"))
      .agg(sum(col("p")).as("parents"), sum(col("c")).as("children"),
        sum(col("v")).as("bad_orient"))
      .agg(
        (count(when(col("parents") > 1 ||
          (col("parents") >= 1 && col("children") >= 1), 1)) +
          coalesce(sum(col("bad_orient")), lit(0L))).as("violations"),
        coalesce(sum(col("parents")), lit(0L)).as("edges"))
      .head()
    (row.getLong(0) == 0L, row.getLong(1))
  }

  /** Small-graph finish: one collect + union-find instead of O(log n)
    * rounds of cluster jobs. Star contraction shrinks the working edge
    * set toward one edge per non-root node; the moment it fits on the
    * driver, each remaining round's fixed cost (two shuffles + a
    * checkpoint + a probe job) dwarfs a linear-time local pass. Union
    * attaches the larger root under the smaller, so the final root of
    * every tree is the component MINIMUM — identical labeling to the
    * distributed path (GraphSpec asserts row-for-row equality).
    * Memory: ~48 B/entry transient on the driver — ~100 MB at the
    * 2M-edge default threshold.
    */
  private def driverFinish(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val pairs = e.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = new java.util.HashSet[Long]()
    pairs.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
    nodes.forEach(n => out += ((n, find(n))))
    spark.createDataset(out.toSeq).toDF("node", "component")
  }

  /** Connected components of the undirected graph given by `edges`.
    *
    * Hybrid execution: distributed star-contraction rounds run only
    * while the (shrinking) edge set exceeds `driverFinishEdges`; below
    * that, a single collect + union-find finishes the job. At 100 TB
    * the first rounds are genuinely distributed; the tail — where each
    * round is all fixed overhead — is not worth a cluster job.
    *
    * @param edges  any DataFrame with two integral node-id columns
    * @param nodes  optional single-column DataFrame of ALL node ids —
    *               ids with no edges become singleton components
    * @param driverFinishEdges  collect-and-finish threshold; 0 forces
    *               the fully distributed path (used by tests).
    *               Driver footprint is NOT just the raw pair bytes: the
    *               collected Array[(Long,Long)] plus the boxed HashMap
    *               parent pointers, the HashSet of up to 2·edges node
    *               ids, and the output buffer come to roughly
    *               150–250 B/edge — ~75–125 MB at the 500k default.
    *               Raise it only with a correspondingly larger
    *               spark.driver.memory (budget ~250 B/edge).
    * @return (node BIGINT, component BIGINT) — component is the minimum
    *         node id in the node's component
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes: Option[DataFrame] = None,
      maxIter: Int = 30,
      driverFinishEdges: Long = 500000L): DataFrame = {
    // materialize the cleaned input ONCE: each round references the
    // edge set several times (symmetrization + both join sides), so an
    // unmaterialized upstream plan would be re-evaluated 4x in round 1
    var e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)

    var (converged, cnt) = probe(e)
    var it = 0
    while (!converged && cnt > driverFinishEdges && it < maxIter) {
      e = Ops.advance(e, smallStar(largeStar(e)))
      val (c2, n2) = probe(e)
      converged = c2; cnt = n2
      it += 1
    }
    if (!converged && cnt > driverFinishEdges)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")

    val connected = if (converged) {
      // Converged state is a star forest: every edge is (member, root).
      val members = e.select(col("src").as("node"), col("dst").as("component"))
      val roots = e.select(col("dst")).distinct()
        .select(col("dst").as("node"), col("dst").as("component"))
      members.union(roots)
    } else {
      val fin = driverFinish(e) // eager collect; e's blocks are dead after
      Ops.release(e)
      fin
    }
    nodes match {
      case None => connected
      case Some(ns) =>
        val allNodes = ns.select(ns.columns.head)
          .select(col(ns.columns.head).cast("long").as("node"))
          .filter(col("node").isNotNull)
          .distinct()
        val isolated = allNodes
          .join(connected, Seq("node"), "left_anti")
          .select(col("node"), col("node").as("component"))
        connected.union(isolated)
    }
  }
}
