package graft

import org.apache.spark.sql.functions._
import graft.similarity.{Quantize, Similarity}

/** Quantized-domain operators: sign-bit packing + Hamming top-k,
  * global int8 codes, integer k-means (assign + Lloyd), quantized
  * SemDeDup, hash splits, bigram LM. Every property here is checked
  * against an independent driver-side recomputation — the quantized
  * domain is exact integers, so the references are equality, not
  * tolerance.
  */
class QuantizeSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf)

  test("signPack: every bit of every word equals (v[i] > 0)") {
    val packed = Quantize.signPack(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val raw = emb.select(col("vec_id"), col("embedding")).collect()
    assert(raw.nonEmpty)
    raw.foreach { r =>
      val v = r.getSeq[Float](1)
      val (w0, w1) = packed(r.getLong(0))
      (0 until 64).foreach { i =>
        val word = if (i < 32) w0 else w1
        val bit = (word >> (i % 32)) & 1L
        assert((bit == 1L) == (v(i) > 0),
          s"bit $i mismatch for vec ${r.getLong(0)}")
      }
    }
  }

  test("hammingTopK == driver-side brute force on sign bits; " +
      "plan is TakeOrdered with no Exchange") {
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val signs = corpus.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_ > 0))
    val qs = q.map(_ > 0)
    val expect = signs
      .map { case (id, s) => (s.zip(qs).count(p => p._1 != p._2), id) }
      .sorted.take(10).map { case (h, id) => (id, h) }.toSeq

    val qWords = (0 until 2).map { j =>
      (0 until 32).foldLeft(0L) { (acc, i) =>
        if (q(j * 32 + i) > 0) acc | (1L << i) else acc
      }
    }
    val packed = Quantize.signPack(corpus, "vec_id", "embedding")
    val topk = Quantize.hammingTopK(packed, "vec_id", qWords, 10)
    val got = topk.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === expect)

    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), s"hamming top-k must not shuffle:\n$plan")
  }

  private def quantized = Quantize.globalInt8(emb, "vec_id", "embedding")._1

  private def initCentroids(k: Int): Seq[(Int, Seq[Int])] =
    quantized.filter(col("vec_id") < k).orderBy(col("vec_id"))
      .collect().map(r => r.getLong(0).toInt -> r.getSeq[Int](1).toSeq).toSeq

  test("assignQ == driver-side integer argmin") {
    val init = initCentroids(8)
    val rows = quantized.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    def d2(a: Seq[Int], b: Seq[Int]): Long =
      a.zip(b).map { case (x, y) => ((x - y).toLong * (x - y)) }.sum
    val expect = rows.map { case (id, v) =>
      val (cid, d) = init.map { case (c, cv) => (c, d2(v, cv)) }
        .minBy { case (c, dd) => (dd, c) }
      id -> ((cid, d))
    }.toMap
    val got = Quantize.assignQ(quantized, "vec_id", init)
      .select("vec_id", "cluster", "dist2").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(expect(r.getLong(0)) === ((r.getInt(1), r.getLong(2))))
    }
  }

  test("lloydQ: total inertia never increases across iterations, " +
      "and the run is deterministic") {
    val init = initCentroids(8)
    val inertias = (0 to 3).map { iters =>
      val (assigned, _) =
        if (iters == 0) (Quantize.assignQ(quantized, "vec_id", init), init)
        else Quantize.lloydQ(quantized, "vec_id", init, iters)
      assigned.agg(sum(col("dist2"))).head().getLong(0)
    }
    inertias.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"inertia increased: $inertias")
    }
    // strictly improved somewhere on this data (init is arbitrary docs)
    assert(inertias.last < inertias.head, inertias.toString)
    val (again, _) = Quantize.lloydQ(quantized, "vec_id", init, 3)
    assert(again.select("vec_id", "cluster").collect().toSeq.sorted ===
      Quantize.lloydQ(quantized, "vec_id", init, 3)._1
        .select("vec_id", "cluster").collect().toSeq.sorted)
  }

  implicit private val rowOrd: Ordering[org.apache.spark.sql.Row] =
    Ordering.by(r => (r.getLong(0), r.getInt(1)))

  test("semDedupKeepQ: no kept pair within a cluster is above tau; " +
      "every dropped id has a lower-id dominator") {
    val init = initCentroids(8)
    val assigned = Quantize.assignQ(quantized, "vec_id", init)
    val kept = Quantize.semDedupKeepQ(assigned, "vec_id", 40L, 100L)
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    val all = assigned.select("vec_id", "qvec", "cluster").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2)))
    def dot(a: Seq[Int], b: Seq[Int]): Long =
      a.zip(b).map { case (x, y) => x.toLong * y }.sum
    def above(a: Seq[Int], b: Seq[Int]): Boolean = {
      val d = dot(a, b)
      d > 0 && 10000L * d * d >= 1600L * dot(a, a) * dot(b, b)
    }
    val keptSet = kept.map(_._1).toSet
    val dropped = all.filterNot(t => keptSet(t._1))
    assert(dropped.nonEmpty, "tau=0.4 should drop something on this data")
    // kept pairs in the same cluster are all below tau
    val keptRows = all.filter(t => keptSet(t._1))
    for {
      (ida, va, ca) <- keptRows
      (idb, vb, cb) <- keptRows
      if ca == cb && ida < idb
    } assert(!above(va, vb), s"kept near-dup pair $ida,$idb")
    // every dropped id has a lower-id same-cluster dominator
    dropped.foreach { case (id, v, c) =>
      assert(all.exists { case (id2, v2, c2) =>
        c2 == c && id2 < id && above(v2, v)
      }, s"dropped $id has no dominator")
    }
  }

  test("hash split: deterministic, exhaustive, and near-80/10/10") {
    val df = graft.queries.Extensions.spl1HashSplit(spark, sf)
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    assert(counts.keySet === Set("train", "val", "test"))
    // md5 buckets are uniform; at n=60 docs allow a wide band
    assert(counts("train").toDouble / total > 0.5)
    // stable across evaluations (no RNG state)
    assert(df.collect().toSet ===
      graft.queries.Extensions.spl1HashSplit(spark, sf).collect().toSet)
  }

  test("stratified split: EXACT floor-proportional counts per stratum " +
      "(the guarantee spl1 only gives in expectation)") {
    val got = graft.queries.Extensions.spl2StratifiedSplit(spark, sf)
      .groupBy("lang", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val perLang = got.groupBy(_._1._1)
      .map { case (l, m) => l -> m.values.sum }
    perLang.foreach { case (lang, n) =>
      val train = got.getOrElse((lang, "train"), 0L)
      val valN = got.getOrElse((lang, "val"), 0L)
      assert(train === n * 8 / 10, s"$lang train")
      assert(train + valN === n * 9 / 10, s"$lang train+val")
    }
  }

  test("bigram conditional LM: n_pair <= n_w1 and a hand-counted " +
      "bigram matches") {
    val df = graft.queries.Extensions.t12BigramCond(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(3)))
    // independent recount of one observed bigram over the raw text
    val r0 = rows.minBy(r => (r.getString(0), r.getString(1)))
    val (w1, w2) = (r0.getString(0), r0.getString(1))
    val texts = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0))
    val n = texts.map { t =>
      val toks = t.trim.toLowerCase.split("\\s+")
      toks.sliding(2).count(p => p.length == 2 && p(0) == w1 && p(1) == w2)
    }.sum
    assert(n.toLong === r0.getLong(2), s"recount of ($w1,$w2)")
  }
}
