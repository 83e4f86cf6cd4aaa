package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity search over embedding columns (Array[Float]) —
  * the north-star ANN surface (BASELINE.json; the reference's nearest
  * analogue is pg_trgm similarity search, `wowutil.py:68-71`).
  *
  * Two tiers, per the standard large-scale design:
  *  - exact brute-force top-k: a pure map + TakeOrdered — no shuffle,
  *    scales linearly and is the correctness baseline;
  *  - LSH-bucketed (random hyperplane signatures): candidates come from
  *    hash-bucket joins, turning O(N) per query into O(N/2^bits · T);
  *    recall is tuned with `tables` (multi-table OR-amplification).
  *
  * All distance math is built-in higher-order functions (zip_with /
  * aggregate) — codegen'd, no UDFs.
  */
object Similarity {

  /** Dot product of two array<float/double> columns (double
    * accumulation; sequential => deterministic). Native codegen
    * expression ([[graft.functions.ArrayDot]]); [[dotHof]] keeps the
    * composable higher-order-function form for cross-checking.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.array_dot(a, b)

  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-loop cosine ([[graft.functions.CosineSim]]) —
    * bit-identical to dotHof/norm composition, ~10-40x faster.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** One-pass cosine scoring of the whole corpus against a broadcast
    * query literal: (id, sim). The building block for top-k (order +
    * limit) and radius search (filter on sim).
    */
  def cosineScores(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float]): DataFrame =
    emb.select(col(idCol), cosine(col(vecCol), typedLit(query)).as("sim"))

  /** Exact top-k nearest by cosine to a constant query vector.
    * Physical plan: parquet scan -> project(sim) -> TakeOrderedAndProject
    * — no shuffle; each partition reduces to k rows before the driver
    * merge, so this works unchanged on a 1000-executor scan.
    */
  def bruteForceTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int): DataFrame =
    cosineScores(emb, idCol, vecCol, query)
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)

  /** Deterministic pseudo-random hyperplanes (seeded; no RNG state
    * shared with executors — planes are literal arrays baked into the
    * plan, i.e. broadcast once with the serialized plan).
    */
  private[graft] def hyperplanes(
      dim: Int, bits: Int, table: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed + table * 7919)
    Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket id of a vector under one table's hyperplanes. */
  private[graft] def bucketExpr(
      vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k: probe the query's bucket in each
    * of `tables` hash tables, union candidates, rank exactly.
    * At scale the bucketed DataFrame should be written bucketed/sorted
    * by (table, bucket) so a probe is a partition-pruned scan.
    */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      dim: Int = 64,
      bits: Int = 8,
      tables: Int = 4): DataFrame = {
    val queryD = query.map(_.toDouble)
    def bucketOf(planes: Seq[Seq[Double]]): Long =
      planes.zipWithIndex.map { case (p, i) =>
        val d = p.zip(queryD).map { case (w, x) => w * x }.sum
        if (d >= 0) 1L << i else 0L
      }.sum

    // ONE scan with an OR-of-tables predicate (disjunction of `tables`
    // bucket equalities, all codegen'd into a single pass over the
    // vector) — not `tables` filtered scans unioned + dropDuplicates.
    // A row matching several tables still passes the filter once, so
    // the candidate set is the same multi-table union, dedup'd for
    // free, with no shuffle before the final TakeOrdered.
    val probe = (0 until tables).map { t =>
      val planes = hyperplanes(dim, bits, t)
      bucketExpr(col(vecCol), planes) === lit(bucketOf(planes))
    }.reduce(_ || _)

    emb.filter(probe)
      .select(col(idCol),
        cosine(col(vecCol), typedLit(query)).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Exact top-k for a BATCH of query vectors in one corpus pass: the
    * realistic serving shape (score Q queries per corpus row against a
    * broadcast query table, then per-query bounded-heap top-k via
    * [[graft.functions.BoundedTopN]]). The corpus is never globally
    * sorted and never shuffled in full — each task reduces to k rows
    * per query before the exchange, so cost is Q*N cosines + a
    * k*Q-row shuffle, independent of corpus skew.
    */
  def batchTopK(
      queries: DataFrame, // (qidCol, qvecCol)
      corpus: DataFrame,  // (idCol, vecCol)
      qidCol: String,
      qvecCol: String,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    // fan-out below the scoring projection (guide §2): |queries| x dim
    // cosine ops per corpus row otherwise run single-core inside a
    // few-row-group scan; a guarded no-op on warehouse-scale scans
    val scored = graft.ops.Ops.fanOutForCompute(
        corpus.select(col(idCol), col(vecCol)), col(idCol))
      .crossJoin(broadcast(queries))
      .select(col(qidCol), col(idCol),
        cosine(col(vecCol), col(qvecCol)).as("sim"))
    scored.groupBy(col(qidCol))
      .agg(graft.functions.AggFunctions.bounded_topn(
        struct((-col("sim")).as("negsim"), col(idCol), col("sim")), k).as("top"))
      .select(col(qidCol), posexplode(col("top")))
      .select(col(qidCol), (col("pos") + 1).cast("int").as("rank"),
        col(s"col.$idCol"), col("col.sim"))
  }

  // ---- IVF (inverted-file) index: the k-means scale path ----

  /** Build an IVF index: KMeans centroids over (a sample of) the
    * corpus; every vector is assigned to its nearest centroid
    * ("list"). At 100 TB the assigned DataFrame is persisted
    * partitioned by `list` so a probe scans only nprobe partitions —
    * the standard FAISS-style coarse quantizer, expressed as Spark
    * primitives (fit on sample, assign via broadcast centroids).
    */
  def buildIvfIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 16,
      seed: Long = 42L,
      trainSample: Int = 20000): (DataFrame, Array[Array[Double]]) = {
    // Train the coarse quantizer on a DRIVER-SIDE SAMPLE, assign the
    // full corpus distributedly with broadcast centroids — the
    // FAISS-style IVF build. Quantizer quality needs only a sample
    // (recall is governed by nprobe/nLists); shipping k-means
    // iterations over 100 TB via MLlib would cost one full distributed
    // pass per iteration for no recall gain. The deterministic
    // lowest-id sample is a TakeOrdered (no full sort at scale).
    val sample = emb.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(trainSample)
      .collect().map(_.getSeq[Double](1).toArray)
    val centroids = kmeansPlusPlus(sample, nLists, seed, iters = 10)

    // assignment: argmin over lists of ||v - c||^2, equivalently
    // |c|^2 - 2 v.c (|v|^2 is constant per row) — nLists codegen'd
    // ArrayDot evaluations + a least(struct) fold, all whole-stage
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * dot(col(vecCol), typedLit(c.toSeq)))
        .as("score"), lit(i).as("list"))
    }
    // least() needs >= 2 args; a single list degenerates to list 0
    val listExpr =
      if (scored.length == 1) lit(0)
      else least(scored: _*).getField("list")
    val assigned = emb.select(col(idCol), col(vecCol),
      listExpr.as("list"))
    (assigned, centroids)
  }

  /** Seeded k-means++ init + Lloyd iterations over an in-memory
    * sample (driver-side; sample sizes are bounded by `trainSample`).
    * Empty clusters keep their previous centroid.
    */
  private[graft] def kmeansPlusPlus(
      data: Array[Array[Double]],
      k: Int,
      seed: Long,
      iters: Int): Array[Array[Double]] = {
    require(data.nonEmpty, "kmeans: empty training sample")
    val dim = data.head.length
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding
    val centers = scala.collection.mutable.ArrayBuffer(
      data(rnd.nextInt(data.length)).clone())
    while (centers.length < math.min(k, data.length)) {
      val dists = data.map(v => centers.map(c => d2(v, c)).min)
      val total = dists.sum
      if (total <= 0) {
        centers += data(rnd.nextInt(data.length)).clone()
      } else {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < data.length - 1 && r > dists(i)) { r -= dists(i); i += 1 }
        centers += data(i).clone()
      }
    }
    while (centers.length < k) centers += centers.head.clone() // degenerate
    val cs = centers.toArray

    // Lloyd
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      data.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < k) {
          val d = d2(v, cs(j)); if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        counts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) {
          var i = 0
          while (i < dim) { cs(j)(i) = sums(j)(i) / counts(j); i += 1 }
        }
        j += 1
      }
      it += 1
    }
    cs
  }

  /** Probe the `nprobe` nearest centroid lists, rank candidates by
    * exact cosine. Recall/cost knob: nprobe/nLists.
    */
  def ivfTopK(
      indexed: DataFrame,
      centroids: Array[Array[Double]],
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val qd = query.map(_.toDouble).toArray
    def cos(c: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < c.length) {
        dot += c(i) * qd(i); na += c(i) * c(i); nb += qd(i) * qd(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probeLists = centroids.zipWithIndex
      .sortBy { case (c, _) => -cos(c) }.take(nprobe).map(_._2)
    indexed.filter(col("list").isin(probeLists.toSeq: _*))
      .select(col(idCol), cosine(col(vecCol), typedLit(query)).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  // ---- Product quantization (PQ): the memory-compression path ----

  /** Train PQ codebooks: the vector is split into `m` subspaces of
    * dim/m and each subspace gets its own `ksub`-centroid k-means
    * codebook (driver-side sample, same rationale as
    * [[buildIvfIndex]]). Returns `codebooks(j)(c)` = centroid c of
    * subspace j.
    */
  def trainPqCodebooks(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int = 8,
      ksub: Int = 32,
      seed: Long = 42L,
      trainSample: Int = 20000): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val sample = emb.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(trainSample)
      .collect().map(_.getSeq[Double](1).toArray)
    Array.tabulate(m) { j =>
      kmeansPlusPlus(sample.map(v => v.slice(j * sub, (j + 1) * sub)),
        ksub, seed + j, iters = 10)
    }
  }

  /** Encode every vector as `m` codebook codes — the compressed
    * representation that replaces the raw vector at rest. At 100 TB
    * this is THE reason PQ exists: a 64-dim float32 embedding is
    * 256 B; its 8 codes are 8 B — a 32x smaller scan for every
    * query that doesn't need the exact vector. One pass, all
    * codegen'd: per subspace an argmin over ksub of
    * |c|^2 - 2<sub, c> (the [[buildIvfIndex]] least(struct) fold,
    * once per subspace).
    *
    * Output: (id, codes array<int> of length m).
    */
  def pqEncode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val vecD = col(vecCol).cast("array<double>")
    val codeCols = codebooks.zipWithIndex.map { case (cents, j) =>
      val sub = cents.head.length
      val subVec = slice(vecD, j * sub + 1, sub)
      val scored = cents.zipWithIndex.map { case (c, i) =>
        val c2 = c.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * dot(subVec, typedLit(c.toSeq)))
          .as("score"), lit(i).as("code"))
      }
      if (scored.length == 1) lit(0) else least(scored.toSeq: _*).getField("code")
    }
    emb.select(col(idCol), array(codeCols.toSeq: _*).as("codes"))
  }

  /** Asymmetric-distance top-k over PQ codes with exact re-rank: the
    * query's inner product against every codebook centroid is
    * tabulated ONCE on the driver (m*ksub doubles) and shipped as a
    * literal, so scoring a corpus row is m array lookups + adds
    * (O(m)) instead of O(dim) multiply-adds over a 32x larger scan.
    * The approximate-IP top `rerank` candidates then join back to the
    * raw vectors BY ID for exact cosine — only `rerank` full vectors
    * are ever read at query time. `rerank` is the recall/cost knob
    * (rerank = corpus size degenerates to exact search; DedupSpec
    * asserts that equivalence and a measured recall gate at the
    * shipped setting).
    */
  def pqTopK(
      encoded: DataFrame,
      emb: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      rerank: Int = 100): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks.head.length
    val sub = codebooks.head.head.length
    val qd = query.map(_.toDouble).toArray
    val lut = Array.tabulate(m * ksub) { idx =>
      val j = idx / ksub; val c = idx % ksub
      var s = 0.0; var i = 0
      while (i < sub) { s += qd(j * sub + i) * codebooks(j)(c)(i); i += 1 }
      s
    }
    val lutCol = typedLit(lut.toSeq)
    val approx = encoded.select(col(idCol),
      aggregate(
        zip_with(typedLit((0 until m).toList), col("codes"),
          (j, c) => element_at(lutCol, j * lit(ksub) + c + lit(1))),
        lit(0.0), (acc, x) => acc + x).as("approx_ip"))
      .orderBy(col("approx_ip").desc, col(idCol).asc)
      .limit(rerank)
    approx.join(emb.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol), cosine(col(vecCol), typedLit(query)).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Maximal-marginal-relevance rerank of a BOUNDED candidate set:
    * greedily picks k items maximizing
    * `lambda·rel(c) − (1−lambda)·max_{s∈selected} cos(c, s)` —
    * the standard diversification pass applied to a retrieval top-N.
    *
    * Scale contract: MMR is inherently sequential (each pick changes
    * the next argmax), so it runs on the DRIVER over the candidate set
    * — which a sane retrieval stack has already reduced to k..1000
    * rows via the distributed top-N ([[bruteForceTopK]]/[[pqTopK]]).
    * `maxCandidates` enforces the bound loudly instead of letting an
    * unbounded frame OOM the driver. Ties break on the lowest id, so
    * the rerank is deterministic.
    */
  def mmrRerank(cands: DataFrame, idCol: String, vecCol: String,
                relCol: String, k: Int, lambda: Double,
                maxCandidates: Int = 1000): DataFrame = {
    val rows = cands.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"), col(relCol).cast("double"))
      .limit(maxCandidates + 1).collect()
    require(rows.length <= maxCandidates,
      s"mmrRerank candidate set exceeds maxCandidates=$maxCandidates — " +
        "reduce with a distributed top-N first")
    final case class C(id: Long, v: Array[Double], rel: Double)
    val cs = rows.map(r =>
      C(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      // sqrt(na)*sqrt(nb), NOT sqrt(na*nb): the two differ in the
      // last ulp, and the SQL dual + cosine_sim normalize with the
      // product-of-roots form — a near-tie on a regenerated vintage
      // must not flip the greedy argmax between engines
      if (na == 0.0 || nb == 0.0) 0.0
      else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(C, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cs: _*)
    while (selected.length < math.min(k, cs.length) && remaining.nonEmpty) {
      val scored = remaining.map { c =>
        val diversity =
          if (selected.isEmpty) 0.0
          else selected.map(s => cos(c.v, s._1.v)).max
        (c, lambda * c.rel - (1.0 - lambda) * diversity)
      }
      val best = scored.minBy { case (c, sc) => (-sc, c.id) }
      selected += best
      remaining -= best._1
    }
    val spark = cands.sparkSession
    import spark.implicits._
    // HALF_UP at 6dp — the repo's round-then-DOUBLE edge convention
    // (Spark round / DuckDB round agree on it), so the SQL dual's
    // unrolled greedy can hash-match this output exactly
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    selected.toSeq.zipWithIndex
      .map { case ((c, sc), i) => (i + 1, c.id, r6(c.rel), r6(sc)) }
      .toDF("rank", idCol, relCol, "mmr_score")
  }
}
