package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.Ops

/** Iterative PageRank over an edge list (reference's graph surface is
  * portfolio clustering, `portfolio_graph.py` — this adds the other
  * canonical whole-graph analytic, with dangling-mass redistribution).
  *
  * Execution shape (the part that matters at cluster scale):
  *  - Each iteration is ONE shuffle: contributions aggregate by dst.
  *    Dangling mass is a 1-row aggregate that enters the update as a
  *    lazy broadcast scalar — no driver-side collect of rank state.
  *  - Rank state advances through [[graft.ops.Ops.iterate]]: each
  *    iteration is eagerly localCheckpoint'ed and the one it replaces
  *    freed. The update references the previous iteration twice
  *    (contribution join + dangling sum), so an untruncated lineage
  *    re-expands the whole prefix 2^k times — and persistence alone is
  *    NOT enough: a cached plan's STRING form still nests every prior
  *    iteration, so after a few rounds merely emitting the SQL-listener
  *    plan description OOMs the driver. localCheckpoint cuts both the
  *    recomputation lineage and the plan tree to a flat scan of the
  *    materialized blocks.
  *  - Cross-engine exactness: per-edge contributions are rounded to 12
  *    decimals and summed as DECIMAL(28,12) (combine-order-proof), and
  *    each iteration's rank is re-rounded to 12 decimals, so the
  *    8-iteration fixpoint is bit-identical in any engine that follows
  *    the same discipline (the DuckDB dual unrolls the same CTEs).
  */
object PageRank {

  /** Ranks for every node of `edges(src, dst)` after `iters` damped
    * power iterations; dangling nodes (no out-edges) spread their mass
    * uniformly. Returns (node, pr).
    */
  def run(edges: DataFrame, iters: Int = 8,
          damping: Double = 0.85): DataFrame = {
    // pre-partition the (static) edge table by src ONCE: the cache
    // preserves outputPartitioning, so every iteration's contribution
    // join reads e co-partitioned instead of re-exchanging it — at
    // cluster scale this removes the per-iteration shuffle of the
    // biggest input (the edge list). A localCheckpoint would not do:
    // its scan reports UnknownPartitioning. Both caches are released
    // once the loop is done — the result is the last round's
    // checkpoint and reads neither.
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val base = nodes.join(outdeg, Seq("node"), "left")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = broadcast(base.agg(count(lit(1)).as("n")))
    val init = base.crossJoin(n)
      .select(col("node"), col("outdeg"), col("n"),
        (lit(1.0) / col("n")).as("pr"))
    val oneMinusD = math.rint((1.0 - damping) * 1e6) / 1e6 // literal, not 1-d float residue
    try Ops.iterate(init, iters) { pr =>
      val contrib = pr.join(e, col("node") === col("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(round(col("pr") / col("outdeg"), 12)
          .cast("decimal(28,12)")).cast("double").as("contrib"))
      val dangling = broadcast(pr.filter(col("outdeg").isNull)
        .agg(coalesce(sum(round(col("pr"), 12).cast("decimal(28,12)"))
          .cast("double"), lit(0.0)).as("dang")))
      base.crossJoin(n)
        .join(contrib, Seq("node"), "left")
        .crossJoin(dangling)
        .select(col("node"), col("outdeg"), col("n"),
          round(lit(oneMinusD) / col("n") + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dang") / col("n")),
            12).as("pr"))
    }.select(col("node"), col("pr"))
    finally { e.unpersist(); base.unpersist() }
  }
}
