package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector quantization + quantized-domain operators: the compression
  * tier UNDER the ANN structures in [[Similarity]] (reference's nearest
  * analogue is its similarity tooling, `wowutil.py:68-71`; the
  * quantization itself is standard FAISS/ScaNN practice re-expressed as
  * Spark primitives).
  *
  * Design rule for everything in this file: once vectors are quantized,
  * ALL downstream math (distances, dot products, k-means, dedup
  * thresholds) stays in exact 64-bit integer arithmetic. That is not
  * just a DuckDB-oracle convenience — at 100 TB it is the difference
  * between a reproducible pipeline (re-run a partition, get the same
  * clusters) and one where float summation order makes every retry
  * drift. All expressions are built-in/higher-order functions —
  * codegen'd, no UDFs, no shuffle unless stated.
  */
object Quantize {

  // ---- sign-bit (1-bit) quantization ----

  /** Pack the sign bits of a dim-length vector into ceil(dim/32)
    * 32-bit words (bit i of word j = 1 iff v[32j+i] > 0), emitted as
    * BIGINT columns w0..wN. 32-bit words, not 64: the packed code is a
    * cross-engine interchange format and several engines (DuckDB
    * included) reject `1<<63` on signed 64-bit ints; capping words at
    * 32 bits keeps every value positive and portable. One projection,
    * no shuffle; a 64-dim float vector (256 B) becomes 8 B — a 32x
    * smaller scan for Hamming-space search.
    */
  def signPack(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int = 64): DataFrame = {
    val nWords = (dim + 31) / 32
    val v = col(vecCol)
    val words = (0 until nWords).map { j =>
      val bits = (0 until math.min(32, dim - j * 32)).map { i =>
        when(element_at(v, j * 32 + i + 1) > 0, lit(1L << i))
          .otherwise(lit(0L))
      }
      bits.reduce(_ bitwiseOR _).as(s"w$j")
    }
    emb.select(col(idCol) +: words: _*)
  }

  /** Hamming distance between a packed row and a constant packed query:
    * sum of bit_count(w_j XOR q_j). Codegen'd popcounts; with the
    * ascending order + limit this plans as scan -> project ->
    * TakeOrderedAndProject — no shuffle, each partition reduces to k
    * rows before the driver merge (same scale shape as
    * [[Similarity.bruteForceTopK]], over a 32x smaller scan).
    */
  def hammingTopK(
      packed: DataFrame,
      idCol: String,
      queryWords: Seq[Long],
      k: Int): DataFrame = {
    val ham = queryWords.zipWithIndex.map { case (q, j) =>
      bit_count(col(s"w$j").bitwiseXOR(lit(q)))
    }.reduce(_ + _)
    packed.select(col(idCol), ham.cast("int").as("hamming"))
      .orderBy(col("hamming").asc, col(idCol).asc)
      .limit(k)
  }

  // ---- global-scale int8 quantization (the k-means/dedup substrate) ----

  /** Int8-quantize with ONE corpus-wide scale (max |x| / 127), so codes
    * are comparable ACROSS vectors — the property per-vector scaling
    * (vq1) gives up, and the prerequisite for doing distance math in
    * the quantized domain. The scale is a 1-row aggregate collected to
    * the driver and baked into the plan as a literal (at 100 TB: one
    * cheap pass, or a stored corpus statistic). Rounding is
    * floor(x/scale + 0.5) — engine-unambiguous, see vq1.
    *
    * Returns (df, scale): df = (id, qvec array<int>).
    */
  def globalInt8(
      emb: DataFrame,
      idCol: String,
      vecCol: String): (DataFrame, Double) = {
    val v = col(vecCol).cast("array<double>")
    val maxAbs = emb
      .agg(max(array_max(transform(v, x => abs(x)))).as("m"))
      .head().getDouble(0)
    val scale = maxAbs / 127.0
    val codes =
      if (scale == 0.0) transform(v, _ => lit(0))
      else transform(v, x => floor(x / lit(scale) + lit(0.5)).cast("int"))
    (emb.select(col(idCol), codes.as("qvec")), scale)
  }

  /** Integer dot product of two int-code array columns — computed by
    * the fused native [[graft.functions.ArrayDot]] over exact double
    * casts (int8-code dots stay far inside 2^53, so the double is
    * exact and the BIGINT cast lossless). One tight loop per pair vs
    * zip_with's intermediate array: ~10x on the SemDeDup pairwise
    * kernel, bit-identical results.
    */
  private[graft] def qdot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions
      .array_dot(a.cast("array<double>"), b.cast("array<double>"))
      .cast("bigint")

  /** Assign every quantized vector to its nearest centroid (exact
    * integer L2^2, ties to the lowest centroid id). Centroids are ONE
    * plan literal ([[Similarity.nearestCentroid]]) — the corpus is
    * scanned once, nothing shuffles, and the expression stays the same
    * size for any k; this is the IVF coarse-assignment shape of
    * [[Similarity.buildIvfIndex]] moved into the exact integer domain.
    * L2^2 = |v|^2 + (|c|^2 - 2 v.c) in double with the fused native
    * ArrayDot: every term is integral and < 2^53, so the math is exact
    * and the BIGINT cast loses nothing.
    *
    * Output: (id, qvec, cluster int, dist2 bigint).
    */
  def assignQ(
      quantized: DataFrame,
      idCol: String,
      centroids: Seq[(Int, Seq[Int])]): DataFrame = {
    val byId = centroids.sortBy(_._1)
    val qd = col("qvec").cast("array<double>")
    val best = Similarity.nearestCentroid(qd, byId.map(_._2.map(_.toDouble)))
    quantized.select(col(idCol), col("qvec"),
      element_at(typedLit(byId.map(_._1)), best.getField("pos") + 1)
        .as("cluster"),
      (Similarity.dot(qd, qd) + best.getField("score")).cast("bigint")
        .as("dist2"))
  }

  /** Lloyd k-means in the quantized integer domain: assignment is
    * [[assignQ]]; the centroid update is an element-wise integer mean
    * (floor(sum/count) via exact double division — sums stay far below
    * 2^53). Per iteration: ONE corpus scan for assignment + a k*dim-row
    * aggregate; new centroids (k*dim ints) are collected to the driver
    * and baked into the next iteration's plan as literals — the
    * classic broadcast-centroids k-means loop, which is why it scales:
    * no iteration ever shuffles the corpus, only the (cluster, pos)
    * partial sums. Empty clusters keep their previous centroid.
    * Deterministic init: callers pass the initial centroids (the
    * shipped queries use the k lowest-id vectors' codes).
    *
    * Returns the final assignment (id, cluster, dist2) and the final
    * centroids.
    */
  def lloydQ(
      quantized: DataFrame,
      idCol: String,
      init: Seq[(Int, Seq[Int])],
      iters: Int): (DataFrame, Seq[(Int, Seq[Int])]) = {
    var centroids = init
    val dim = init.head._2.length
    var it = 0
    while (it < iters) {
      val assigned = assignQ(quantized, idCol, centroids)
      val updated = assigned
        .select(col("cluster"), posexplode(col("qvec")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("cluster"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          e => floor(e.getField("s").cast("double") / e.getField("n"))
            .cast("int")).as("c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Int](1))
        .toMap
      centroids = centroids.map { case (cid, old) =>
        cid -> updated.getOrElse(cid, old)
      }
      require(centroids.forall(_._2.length == dim))
      it += 1
    }
    (assignQ(quantized, idCol, centroids), centroids)
  }

  /** SemDeDup in the quantized domain: within each cluster, drop any
    * vector that has a LOWER-id cluster-mate with cosine >= tau. The
    * cosine threshold test is all-integer — cos(a,b) >= tau (tau > 0)
    * iff dot > 0 and tauDen^2 * dot^2 >= tauNum^2 * |a|^2 * |b|^2 —
    * so the keep/drop decision is exact (max magnitude ~9.6e15, inside
    * long). Clustering bounds the candidate pairs to O(sum n_c^2), the
    * whole point of semantic dedup at scale: the self-join key is
    * `cluster`, so a 100 TB corpus shuffles once by cluster id and
    * every executor does a small local pairwise pass.
    * tau = tauNum / tauDen (e.g. 95/100).
    * Output: kept (id, cluster).
    */
  def semDedupKeepQ(
      assigned: DataFrame, // (id, qvec, cluster, ...)
      idCol: String,
      tauNum: Long,
      tauDen: Long): DataFrame = {
    val withNorm = assigned
      .select(col(idCol), col("qvec"), col("cluster"),
        qdot(col("qvec"), col("qvec")).as("n2"))
    val a = withNorm.select(col(idCol).as("id_a"), col("qvec").as("va"),
      col("cluster"), col("n2").as("na"))
    val b = withNorm.select(col(idCol).as("id_b"), col("qvec").as("vb"),
      col("cluster"), col("n2").as("nb"))
    val dot = qdot(col("va"), col("vb"))
    val dominated = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot > 0 &&
        lit(tauDen * tauDen) * dot * dot >= lit(tauNum * tauNum) *
          col("na") * col("nb"))
      .select(col("id_b").as(idCol)).distinct()
    withNorm.join(dominated, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }
}
