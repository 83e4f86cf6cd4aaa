package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed top-principal-component extraction via fixed-iteration
  * power iteration — the dimensionality-reduction primitive an
  * embedding pipeline needs before energy-ordered quantization
  * (PQ/IVF build on it) and for cheap 1-D corpus maps.
  *
  * Scale design: the only state that moves between rounds is ONE
  * dim-length vector on the driver (what a parameter server would
  * hold); each round is a single scan of the cached centered column
  * plus a dim-row shuffle (posexplode -> groupBy(pos) partial sums).
  * Nothing here is quadratic in rows or dims; at 100 TB the cost is
  * `iters` cached columnar scans. Deterministic by construction: the
  * starting direction is the fixed all-ones unit vector, the
  * iteration count is fixed (no convergence races), and executors
  * only ever see broadcast literals.
  */
object Pca {

  /** 9dp HALF_UP requantization — the cross-engine fixed point (bt1 /
    * g2 discipline): a distributed sum's combine order differs from
    * any other engine's (or run topology's) by ~1e-15 relative, so
    * every driver-side iterate that a SQL dual must reproduce is
    * rounded where the ~1e-15 noise cannot move the rounded value.
    * Power iteration is self-correcting, so the 5e-8-relative nudge
    * per round does not change what the iteration converges to.
    */
  private def r9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Per-dimension means of an array column: one partial-aggregating
    * posexplode pass; exactly `dim` rows reach the shuffle. Means are
    * 9dp-requantized (see [[r9]]) so the centered column is
    * bit-reproducible cross-engine.
    */
  def dimMeans(emb: DataFrame, vecCol: String, dim: Int): Array[Double] = {
    val rows = emb
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(avg(col("x")).as("m"))
      .collect()
    val out = new Array[Double](dim)
    rows.foreach(r => out(r.getInt(0)) = r9(r.getDouble(1)))
    out
  }

  /** `iters` rounds of v <- normalize( Σ_x (x-m) ((x-m)·v) ), starting
    * from the all-ones unit direction. Returns (component, eigenvalue)
    * with eigenvalue = ||C v|| of the final step (the Rayleigh-quotient
    * limit, C the covariance matrix) — so the pair is directly
    * checkable against a local replay (AnalyticsSpec).
    */
  def topComponent(emb: DataFrame, vecCol: String, dim: Int,
                   iters: Int = 8): (Array[Double], Double) = {
    val (vs, eigen) =
      powerIterate(emb, vecCol, dim, iters, dimMeans(emb, vecCol, dim), 1)
    (vs.head, eigen)
  }

  private def centeredCol(vecCol: String, means: Array[Double]): Column =
    zip_with(col(vecCol).cast("array<double>"),
      typedLit(means.toSeq), (x, m) => x - m)

  /** Fused power iteration of 1 or 2 directions: both advance from the
    * SAME cached centered scan each round — one aggregation job
    * computes C·v (and C·u) together (posexplode of the zipped
    * per-dimension products). The driver then requantizes and
    * normalizes v; u is Gram-Schmidt-orthogonalized against the
    * freshly updated v before its own requantize and normalize. The u
    * update never feeds back into v, so v's iterates are the same for
    * 1 and 2 directions. Returns the directions and ||C v|| of the
    * final step.
    *
    * Driver/dual fixed points per round, in order: r9 the v iterate,
    * normalize; project the RAW u iterate onto the new v, subtract,
    * r9, normalize — the SQL duals replay exactly this sequence.
    */
  private def powerIterate(emb: DataFrame, vecCol: String, dim: Int,
                           iters: Int, means: Array[Double],
                           directions: Int): (Seq[Array[Double]], Double) = {
    require(directions == 1 || directions == 2, s"directions=$directions")
    val n = emb.count().toDouble
    val centered = emb.select(centeredCol(vecCol, means).as("__c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val js = 0 until directions
    val vs = Array.fill(directions)(Array.fill(dim)(1.0 / math.sqrt(dim)))
    var eigen = 0.0
    try {
      for (_ <- 0 until iters) {
        val scored = js.foldLeft(centered) { (df, j) =>
          df.withColumn(s"__s$j", Similarity.dot(col("__c"), typedLit(vs(j).toSeq)))
        }
        val sums = scored
          .select(posexplode(arrays_zip(js.map(j =>
            transform(col("__c"), x => x * col(s"__s$j")).as(s"x$j")): _*))
            .as(Seq("pos", "xs")))
          .groupBy(col("pos"))
          .agg(sum(col("xs.x0")), js.tail.map(j => sum(col(s"xs.x$j"))): _*)
          .collect()
        val acc = Array.fill(directions)(new Array[Double](dim))
        sums.foreach(r => js.foreach(j => acc(j)(r.getInt(0)) = r.getDouble(j + 1)))
        // v: C v (covariance-matrix action), requantized (cross-engine
        // fixed point), normalized
        val cv = acc(0).map(_ / n).map(r9)
        eigen = math.sqrt(cv.map(x => x * x).sum)
        if (eigen != 0.0) vs(0) = cv.map(_ / eigen)
        // u: Gram-Schmidt against the NEW v, then requantize, normalize
        if (directions == 2) {
          val cu0 = acc(1).map(_ / n)
          val proj = cu0.zip(vs(0)).map(t => t._1 * t._2).sum
          val cu = cu0.zip(vs(0)).map(t => t._1 - proj * t._2).map(r9)
          val e2 = math.sqrt(cu.map(x => x * x).sum)
          if (e2 != 0.0) vs(1) = cu.map(_ / e2)
        }
      }
      (vs.toSeq, eigen)
    } finally centered.unpersist()
  }

  /** 1-D projection of every vector onto the top component:
    * (idCol, proj) with proj = (x - m)·v. One scan, no shuffle.
    */
  def projectTop(emb: DataFrame, idCol: String, vecCol: String,
                 dim: Int, iters: Int = 8): DataFrame = {
    val means = dimMeans(emb, vecCol, dim)
    val (Seq(v), _) = powerIterate(emb, vecCol, dim, iters, means, 1)
    emb.select(col(idCol),
      Similarity.dot(centeredCol(vecCol, means), typedLit(v.toSeq)).as("proj"))
  }

  /** Top-2 components via FUSED block subspace iteration
    * ([[powerIterate]] with two directions): one aggregation job per
    * round (15 jobs for 15 rounds instead of 30 plus a deflated-column
    * build for extract-v1-then-deflate), and the v-side iterates equal
    * the single-component run's, so pca1's fixed-point discipline
    * carries over unchanged. The finish is the textbook Rayleigh-Ritz
    * step — diagonalize the 2x2 covariance of the two projections and
    * rotate the pair into its eigenbasis — which makes the output
    * projections EXACTLY decorrelated (up to float) even when a small
    * spectral gap leaves the individual directions short of their
    * eigenvectors: the subspace converges at lambda2/lambda3 while the
    * separation inside it is solved in closed form. Returns the 2-D
    * corpus map (idCol, p1, p2), p1 carrying the larger variance.
    */
  def projectTop2(emb: DataFrame, idCol: String, vecCol: String,
                  dim: Int, iters: Int = 8): DataFrame = {
    val means = dimMeans(emb, vecCol, dim)
    val (Seq(v1, v2), _) = powerIterate(emb, vecCol, dim, iters, means, 2)
    val centered = centeredCol(vecCol, means)
    val raw = emb.select(col(idCol),
      Similarity.dot(centered, typedLit(v1.toSeq)).as("q1"),
      Similarity.dot(centered, typedLit(v2.toSeq)).as("q2"))
    // Rayleigh-Ritz: 2x2 projection covariance -> closed-form rotation
    // moment sums are 9dp-requantized (combine-order noise), and the
    // rotation coefficients 12dp-requantized: atan2/cos/sin are not
    // guaranteed correctly-rounded across math libraries, so the
    // last-ulp is pinned before the coefficients re-enter the plan —
    // with identical (a, b) the projections are bit-identical
    // cross-engine and pca2 can carry a SQL dual
    val m = raw.agg(count(lit(1)).cast("double").as("n"),
      sum(col("q1")).as("s1"), sum(col("q2")).as("s2"),
      sum(col("q1") * col("q1")).as("s11"),
      sum(col("q1") * col("q2")).as("s12"),
      sum(col("q2") * col("q2")).as("s22")).head()
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = m.getDouble(0)
    val (s1, s2) = (r9(m.getDouble(1)), r9(m.getDouble(2)))
    val (s11, s12, s22) =
      (r9(m.getDouble(3)), r9(m.getDouble(4)), r9(m.getDouble(5)))
    val c11 = s11 / n - (s1 / n) * (s1 / n)
    val c12 = s12 / n - (s1 / n) * (s2 / n)
    val c22 = s22 / n - (s2 / n) * (s2 / n)
    val theta = 0.5 * math.atan2(2.0 * c12, c11 - c22)
    val (ct, st) = (r12(math.cos(theta)), r12(math.sin(theta)))
    // eigenvalues along the rotated axes; order p1 = larger variance
    val l1 = ct * ct * c11 + 2 * ct * st * c12 + st * st * c22
    val l2 = st * st * c11 - 2 * ct * st * c12 + ct * ct * c22
    val (a1, b1, a2, b2) =
      if (l1 >= l2) (ct, st, -st, ct) else (-st, ct, ct, st)
    raw.select(col(idCol),
      (lit(a1) * col("q1") + lit(b1) * col("q2")).as("p1"),
      (lit(a2) * col("q1") + lit(b2) * col("q2")).as("p2"))
  }
}
