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
  * Dot product and cosine are native codegen'd expressions
  * ([[graft.functions.ArrayDot]], [[graft.functions.CosineSim]]); the
  * rest is built-in (higher-order) functions — no UDFs. Query vectors
  * and centroids are data the plan reads (a query frame, one array
  * literal), never plan structure: the approximate searches take a
  * frame of queries and rank every query in one pass.
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

  /** LSH-bucketed approximate top-k for a frame of queries
    * `(qidCol, qvecCol)`: a corpus row is a candidate for a query when
    * they share a bucket in any of `tables` hash tables; candidates
    * are ranked by exact cosine. Each side's bucket keys come from the
    * same [[bucketExpr]], tagged with their table (`t << bits | bucket`)
    * so one `arrays_overlap` tests every table at once: ONE corpus
    * pass, a row matching several tables is still one candidate.
    * Returns (qid, rank, id, sim) as [[batchTopK]] does.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      qidCol: String,
      qvecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int = 64,
      bits: Int = 8,
      tables: Int = 4): DataFrame = {
    def keys(vec: Column): Column = array((0 until tables).map { t =>
      lit(t.toLong << bits) + bucketExpr(vec, hyperplanes(dim, bits, t))
    }: _*)
    val q = queries.select(col(qidCol), col(qvecCol),
      keys(col(qvecCol)).as("__qkeys"))
    val scored = corpus
      .select(col(idCol), col(vecCol), keys(col(vecCol)).as("__keys"))
      .join(broadcast(q), arrays_overlap(col("__keys"), col("__qkeys")))
      .select(col(qidCol), col(idCol),
        cosine(col(vecCol), col(qvecCol)).as("sim"))
    topPerQuery(scored, qidCol, idCol, "sim", k)
  }

  /** The per-query ranking tail every top-k here shares: the `k`
    * highest `scoreCol` rows of each query, ties to the lowest id,
    * via a bounded heap per query ([[graft.functions.BoundedTopN]]) —
    * the input is never globally sorted. Returns
    * (qid, rank, id, score), rank from 1.
    */
  private def topPerQuery(
      scored: DataFrame,
      qidCol: String,
      idCol: String,
      scoreCol: String,
      k: Int): DataFrame =
    scored.groupBy(col(qidCol))
      .agg(graft.functions.AggFunctions.bounded_topn(
        struct((-col(scoreCol)).as("neg"), col(idCol), col(scoreCol)), k)
        .as("top"))
      .select(col(qidCol), posexplode(col("top")))
      .select(col(qidCol), (col("pos") + 1).cast("int").as("rank"),
        col(s"col.$idCol"), col(s"col.$scoreCol"))

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
    topPerQuery(scored, qidCol, idCol, "sim", k)
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
    // ArrayDot evaluations + a least(struct) fold, all whole-stage.
    // Kept unrolled, not [[nearestCentroid]]: the array form's
    // transform lambda runs interpreted, and at nLists = 16 over
    // 64-dim float vectors it measured ~3x the assignment's task time
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

  /** The nearest of a constant centroid set to `vec`, as
    * struct(score, pos): the argmin over positions of |c|^2 - 2 v.c
    * (squared L2 less the per-row constant |v|^2), ties to the lowest
    * position. The centroids are ONE array literal folded by
    * `array_min` over `transform`, so the expression is the same size
    * for any number of centroids. Past ~10^5 centroids a literal stops
    * being sensible; that regime wants a broadcast-join assignment.
    */
  private[graft] def nearestCentroid(
      vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val norms = typedLit(centroids.map(c => c.map(x => x * x).sum))
    array_min(transform(typedLit(centroids), (c, i) =>
      struct((element_at(norms, i + 1) - lit(2.0) * dot(vec, c)).as("score"),
        i.as("pos"))))
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

  /** IVF top-k for a frame of queries `(qidCol, qvecCol)`: each query
    * probes the `nprobe` lists whose centroids are most cosine-similar
    * to it (ties to the lowest list), and the probed lists' vectors
    * are ranked by exact cosine. Recall/cost knob: nprobe/nLists.
    * Returns (qid, rank, id, sim) as [[batchTopK]] does.
    */
  def ivfTopK(
      queries: DataFrame,
      indexed: DataFrame,
      centroids: Array[Array[Double]],
      qidCol: String,
      qvecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    // per query row: the nprobe smallest (-cosine, list) of an array
    // over the centroid literal — a projection, no shuffle
    val probes = queries.select(col(qidCol), col(qvecCol),
      explode(slice(array_sort(transform(
        typedLit(centroids.map(_.toSeq).toSeq), (c, i) =>
          struct((-cosine(c, col(qvecCol))).as("neg"), i.as("list")))),
        1, nprobe)).as("probe"))
      .select(col(qidCol), col(qvecCol), col("probe.list").as("list"))
    val scored = indexed.join(broadcast(probes), "list")
      .select(col(qidCol), col(idCol),
        cosine(col(vecCol), col(qvecCol)).as("sim"))
    topPerQuery(scored, qidCol, idCol, "sim", k)
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
    * query that doesn't need the exact vector. One pass: per subspace
    * the [[nearestCentroid]] of the sub-vector among its codebook.
    *
    * Output: (id, codes array<int> of length m).
    */
  def pqEncode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val vecD = col(vecCol).cast("array<double>")
    val codes = codebooks.zipWithIndex.map { case (cents, j) =>
      val sub = cents.head.length
      nearestCentroid(slice(vecD, j * sub + 1, sub), cents.map(_.toSeq).toSeq)
        .getField("pos")
    }
    emb.select(col(idCol), array(codes.toSeq: _*).as("codes"))
  }

  /** Asymmetric-distance top-k over PQ codes with exact re-rank, for
    * a frame of queries `(qidCol, qvecCol)`: each query's inner
    * product with every codebook centroid is tabulated once per query
    * in the plan (m*ksub dots of a sub-vector slice), so scoring a
    * corpus row is m array lookups + adds (O(m)) instead of O(dim)
    * multiply-adds over a 32x larger scan. Each query's top `rerank`
    * approximate candidates then join back to the raw vectors BY ID
    * for exact cosine — only those full vectors are read at query
    * time. `rerank` is the recall/cost knob (rerank = corpus size
    * degenerates to exact search; DedupSpec asserts that equivalence
    * and a measured recall gate at the shipped setting).
    * Returns (qid, rank, id, sim) as [[batchTopK]] does.
    */
  def pqTopK(
      queries: DataFrame,
      encoded: DataFrame,
      emb: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      qidCol: String,
      qvecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int = 100): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks.head.length
    val sub = codebooks.head.head.length
    val q = queries.select(col(qidCol), col(qvecCol))
    // lut[j * ksub + c] = <q's subspace-j slice, centroid c of book j>
    val qd = col(qvecCol).cast("array<double>")
    val lut = flatten(transform(
      typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq),
      (cents, j) => transform(cents, c =>
        dot(slice(qd, j * sub + 1, lit(sub)), c))))
    val approx = encoded
      .crossJoin(broadcast(q.select(col(qidCol), lut.as("__lut"))))
      .select(col(qidCol), col(idCol),
        aggregate(
          zip_with(typedLit((0 until m).toList), col("codes"),
            (j, c) => element_at(col("__lut"), j * lit(ksub) + c + lit(1))),
          lit(0.0), (acc, x) => acc + x).as("approx_ip"))
    val scored = topPerQuery(approx, qidCol, idCol, "approx_ip", rerank)
      .join(emb.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(q), qidCol)
      .select(col(qidCol), col(idCol),
        cosine(col(vecCol), col(qvecCol)).as("sim"))
    topPerQuery(scored, qidCol, idCol, "sim", k)
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
