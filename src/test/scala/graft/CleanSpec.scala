package graft

import org.apache.spark.sql.functions._

import graft.queries.Clean

/** Corpus-cleaning batch: the winnowing coverage guarantee and tie
  * rule, keep-first chunk-dedup laws, and the overlap matrix against
  * a brute-force count.
  */
@graft.tags.Slow
class CleanSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))

  // ---- winnowing ----------------------------------------------------

  test("winnowing: every window of w consecutive grams contains a " +
      "selected position (the coverage guarantee), and selections " +
      "are window minima") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = docsDF(Seq((1L, text, "s")))
    val k = 8; val w = 4
    val fp = Clean.winnowFingerprints(docs, "doc_id", "text", k, w)
      .collect().map(r => r.getLong(2).toInt).toSet
    val s = text.toLowerCase.trim
    val g = s.length - (k - 1)
    // brute-force reference: robust winnowing by (md5, -pos)
    def key(p: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.substring(p - 1, p - 1 + k).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      md + "%08d".format(100000000 - p)
    }
    val expected = (1 to g - (w - 1))
      .map(ws => (ws until ws + w).minBy(key)).toSet
    assert(fp == expected, s"got $fp expected $expected")
    // coverage: each window start has a selected pos inside its window
    (1 to g - (w - 1)).foreach { ws =>
      assert(fp.exists(p => p >= ws && p < ws + w),
        s"window at $ws uncovered")
    }
  }

  test("winnowing: repeated grams resolve to the RIGHTMOST minimum " +
      "(robust winnowing), so a periodic string selects stable " +
      "positions") {
    // 'abcdefgh' repeated: every gram at positions 1, 9, 17, ... is
    // identical, so inside any window the rightmost copy wins
    val docs = docsDF(Seq((1L, "abcdefgh" * 5, "s")))
    val fp = Clean.winnowFingerprints(docs, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    // no selected (hash, pos) appears twice
    assert(fp.length == fp.toSet.size)
  }

  test("win1: a planted duplicate pair shares hashes; a disjoint doc " +
      "shares none") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = java.nio.file.Files.createTempDirectory("win1").toString
    docsDF(Seq(
      (1L, base, "s0"), (2L, base, "s1"),
      (3L, "zq xv wu ts rp on ml kj ih gf ed cb az yx", "s2")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Clean.win1Winnowing(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L)._3 == out(1L)._2, "dup doc shares ALL its hashes")
    assert(out(2L)._3 == out(2L)._2)
    assert(out(3L)._3 == 0L, "disjoint doc shares none")
  }

  test("win2: a planted near-dup pair is detected with high overlap; " +
      "the boilerplate df-cap silences a prefix shared by many docs") {
    val dir = java.nio.file.Files.createTempDirectory("win2").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docsDF(Seq(
      (1L, base, "s"), (2L, base + " nu", "s")) ++
      (3L to 12L).map(i =>
        (i, s"common boilerplate prefix q${i}a q${i}b q${i}c q${i}d", "s")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Clean.win2WinnowPairs(spark, dir, dfCap = 4, minShared = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("score"))).toMap
    assert(pairs.keySet == Set((1L, 2L)),
      s"expected only the planted pair, got ${pairs.keySet}")
    assert(pairs((1L, 2L)) > 0.8, s"score ${pairs((1L, 2L))}")
  }

  test("dd20 two-tier near-dup: the planted pair is found with dd7's " +
      "exact jaccard, the hot template is silenced by the df cap, and " +
      "every emission lies inside the exact truth set") {
    val dir = java.nio.file.Files.createTempDirectory("dd20").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docsDF(Seq(
      (1L, base, "s"), (2L, base + " nu", "s"),
      (100L, "zq xv wu ts rp on ml kj ih gf ed cb az yx", "s")) ++
      (3L to 40L).map(i => (i, "common boilerplate template body here", "s")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = Tables.documents(spark, dir)
    val emitted = Clean.tieredNearDupPairsOn(docs, threshold = 0.8,
      dfCap = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("jaccard"))).toMap
    // the 38 identical template docs share EVERY fingerprint at df=38
    // > 16 — silenced; only the planted pair survives
    assert(emitted.keySet == Set((1L, 2L)),
      s"expected only the planted pair, got ${emitted.keySet}")
    val truth = graft.dedup.Dedup.exactJaccardPairs(
      docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("jaccard"))).toMap
    // containment + score identity: dd20 is dd7 restricted to
    // fingerprint-evidenced pairs, never a different measure
    emitted.foreach { case (k, j) =>
      assert(truth.get(k).contains(j), s"pair $k: dd20 $j vs truth ${truth.get(k)}")
    }
    // and dd7 DOES see the template blow-up dd20 absorbs: C(38,2) pairs
    assert(truth.size == 1 + 38 * 37 / 2, s"truth size ${truth.size}")
  }

  test("dd20 on the sf0.001 corpus: emissions are a subset of dd7's " +
      "exact pair set with identical scores") {
    val docs = Tables.documents(spark, sf)
    val emitted = Clean.tieredNearDupPairsOn(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("jaccard"))).toMap
    val truth = graft.dedup.Dedup.exactJaccardPairs(
      docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("jaccard"))).toMap
    emitted.foreach { case (k, j) =>
      assert(truth.get(k).contains(j), s"pair $k not in truth or score differs")
    }
    assert(emitted.nonEmpty, "corpus fixture should contain near-dups")
  }

  test("dd21 tiered cluster-keep: the planted pair forms one cluster " +
      "with min-id survivor; the hot-template mega-cluster is absent " +
      "(df-capped), where dd6 would emit it") {
    val dir = java.nio.file.Files.createTempDirectory("dd21").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docsDF(Seq(
      (1L, base, "s"), (2L, base + " nu", "s"),
      (100L, "zq xv wu ts rp on ml kj ih gf ed cb az yx", "s")) ++
      (3L to 40L).map(i => (i, "common boilerplate template body here", "s")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Clean.dd21TieredClusterKeep(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L),
      s"expected only the planted cluster, got $out")
    // the exact-tier dd6 on the same corpus DOES emit the template
    // mega-cluster — the tiers differ exactly where the df cap bites
    val dd6 = graft.queries.Extensions.dd6ClusterKeep(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dd6 === Map(1L -> 2L, 3L -> 38L), s"dd6 got $dd6")
  }

  // ---- chunk dedup --------------------------------------------------

  test("par1: kept instances are exactly one per distinct chunk, " +
      "first occurrence wins, docs reassemble in position order") {
    val dir = java.nio.file.Files.createTempDirectory("par1").toString
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val other = (11 to 20).map(i => s"w$i").mkString(" ")
    val tail = "t1 t2 t3"
    docsDF(Seq(
      (1L, s"$ten $other", "s0"),      // both chunks first here
      (2L, s"$other $ten $tail", "s1") // repeats both, owns the tail
    )).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Clean.par1ChunkDedup(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    assert(out(1L) == ((2L, 2L, s"$ten $other")))
    assert(out(2L) == ((3L, 1L, tail)))
    // global law: total kept == distinct chunk count
    val ch = Clean.chunkDocs(spark.read.parquet(s"$dir/documents.parquet"))
    assert(out.values.map(_._2).sum ==
      ch.select("chunk").distinct().count())
  }

  test("par1 on the sf0.001 corpus: kept totals equal distinct " +
      "chunks; kept_frac in [0, 1]; fully-duplicated docs empty out") {
    val d = "/root/testdata/sf0.001"
    val out = Clean.par1ChunkDedup(spark, d)
    val agg = out.agg(sum("n_kept"), sum("n_chunks")).head()
    val distinctChunks =
      Clean.chunkDocs(Tables.documents(spark, d))
        .select("chunk").distinct().count()
    assert(agg.getLong(0) == distinctChunks)
    assert(out.filter(col("kept_frac") < 0 || col("kept_frac") > 1)
      .count() == 0)
    // a doc keeps nothing iff its reassembled text is empty
    assert(out.filter((col("n_kept") === 0) =!= (col("cleaned") === ""))
      .count() == 0)
  }

  test("winnowing property: on random small-alphabet strings (forcing " +
      "repeated grams and hash ties) the native expression equals the " +
      "brute-force reference and always satisfies coverage") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val k = 4; val w = 3
    val gen = Gen.listOfN(40, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    def brute(s: String): Set[(String, Int)] = {
      val g = s.length - (k - 1)
      if (g < w) return Set.empty
      def key(p: Int): String = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s.substring(p - 1, p - 1 + k).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        md + "%08d".format(100000000 - p)
      }
      (1 to g - (w - 1)).map { ws =>
        val p = (ws until ws + w).minBy(key)
        (key(p).substring(0, 32), p)
      }.toSet
    }
    val texts = (1 to 40).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = graft.queries.Clean
      .winnowFingerprints(df, "doc_id", "text", k, w)
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2).toInt)))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    texts.zipWithIndex.foreach { case (t, i) =>
      val expect = brute(t.toLowerCase.trim)
      assert(got.getOrElse(i.toLong, Set.empty) == expect,
        s"doc $i '$t'")
      // coverage guarantee on the selected POSITIONS
      val g = t.length - (k - 1)
      val ps = expect.map(_._2)
      (1 to g - (w - 1)).foreach { ws =>
        assert(ps.exists(p => p >= ws && p < ws + w), s"doc $i window $ws")
      }
    }
  }

  // ---- plan shapes -----------------------------------------------------

  test("win2 plan: the pair join reads ONE checkpointed fingerprint " +
      "frame — the winnow expression never evaluates twice; no " +
      "nested-loop joins anywhere in the cleaning batch") {
    val d = "/root/testdata/sf0.001"
    val win2Plan = Clean.win2WinnowPairs(spark, d)
      .queryExecution.executedPlan.toString
    assert(win2Plan.contains("ExistingRDD"),
      "pair join must read the checkpointed frame")
    assert(!win2Plan.contains("winnow_keys"),
      "the winnow chain must not re-enter the join plan")
    for (q <- Seq("win1_winnowing", "par1_chunk_dedup",
        "ovl1_source_overlap", "heaps1_vocab_growth")) {
      val p = SparkEntry.queries(q)(spark, d)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") ||
        q == "heaps1_vocab_growth", // heaps1's 1-row nd cross-join only
        s"$q must not nested-loop join")
      assert(!p.contains("CartesianProduct"), s"$q")
    }
  }

  // ---- heaps1: vocabulary growth ---------------------------------------

  test("heaps1: linear vocab growth fits beta ~ 1; a closed vocabulary " +
      "fits beta = 0; checkpoints cumulate monotonically") {
    // growth plant: each doc contributes 5 NEVER-SEEN words plus 5
    // shared fillers -> V(d) = 5d + 5, n(d) = 10d -> beta -> 1
    val dir = java.nio.file.Files.createTempDirectory("heaps1").toString
    (1L to 100L).map { i =>
      val fresh = (1 to 5).map(j => s"u${i}w$j").mkString(" ")
      (i, s"$fresh the a of and or", "en", "s")
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.queries.Clean.heaps1VocabGrowth(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(rows.length == 10)
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq)
    assert(rows.last._3 == 505L, s"V(100) = ${rows.last._3}")
    val beta = rows.head._4
    assert(beta > 0.85 && beta < 1.05, s"linear plant beta $beta")
    // closed vocabulary: the real sf corpus reuses a fixed word list,
    // so the fitted exponent is exactly 0 — the honest saturation answer
    val flat = graft.queries.Clean.heaps1VocabGrowth(spark, sf)
      .select(col("beta6")).head().getDouble(0)
    assert(flat == 0.0)
  }

  // ---- pipe4: composed clean -> select --------------------------------

  test("pipe4: the selection quarter law holds per language on the " +
      "cleaned corpus") {
    val d = "/root/testdata/sf0.001"
    val out = Clean.pipe4CleanSelect(spark, d).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4))).toSet
    // ceil(cnt/4) selected per language, always >= 1
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val want = (rows.size + 3) / 4
      assert(rows.count(_._5) == want,
        s"$lang: ${rows.count(_._5)} selected of ${rows.size}")
    }
    // the dedup phase actually removed text: some cleaned doc is
    // shorter than its raw form (the corpus has cross-doc chunks)
    val kept = Clean.par1ChunkDedupOn(Tables.documents(spark, d))
    assert(kept.filter(col("n_kept") < col("n_chunks")).count() > 0)
  }

  test("dd23 incremental near-dup == the cross-side subset of a full " +
      "dd20 rerun over base ∪ fresh (same combined-df cap), and finds " +
      "cross-split pairs on the real corpus") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val fresh = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    val inc = Clean.incrementalTieredPairsOn(base, fresh)
      .collect()
      .map(r => (Set(r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // the full-batch run over the SAME union sees the SAME combined
    // document frequencies, so its cross-side pairs must match the
    // incremental gate's output exactly — pair set AND scores
    val full = Clean.tieredNearDupPairsOn(docs)
      .collect()
      .filter(r => (r.getLong(0) % 7 == 0) != (r.getLong(1) % 7 == 0))
      .map(r => (Set(r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(inc === full)
    assert(inc.nonEmpty, "fixture must contain cross-split near-dups")
    // orientation contract: id_base never from the fresh slice
    Clean.incrementalTieredPairsOn(base, fresh).collect().foreach { r =>
      assert(r.getLong(0) % 7 != 0 && r.getLong(1) % 7 == 0)
    }
  }

  test("dd24 incremental clusters: super-node contraction == CC over " +
      "the raw edge union, restricted to fresh docs") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val fresh = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    val inc = Clean.incrementalClusterUpdateOn(base, fresh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // reference: CC over the RAW edges the incremental contract
    // defines — base pairs from the base-only pass, cross and
    // intra-fresh pairs under the combined cap — with no contraction
    val basePairs = Clean.tieredNearDupPairsOn(base)
      .select(col("id_a"), col("id_b"))
    val cross = Clean.incrementalTieredPairsOn(base, fresh)
      .select(col("id_base").as("id_a"), col("id_new").as("id_b"))
    // intra-fresh pairs under the combined df: the full-union tiered
    // pairs restricted to fresh-fresh (combined df == union df)
    val freshPairs = Clean.tieredNearDupPairsOn(docs)
      .filter(pmod(col("id_a"), lit(7)) === 0 &&
        pmod(col("id_b"), lit(7)) === 0)
      .select(col("id_a"), col("id_b"))
    val raw = graft.graph.ConnectedComponents.run(
        basePairs.unionAll(cross).unionAll(freshPairs), "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val rawFresh = raw.filter(_._1 % 7 == 0)
    assert(inc === rawFresh,
      s"contracted ${inc.toSeq.sorted} vs raw ${rawFresh.toSeq.sorted}")
    assert(inc.nonEmpty, "fixture must route fresh docs into clusters")
    // at least one fresh doc must join an EXISTING (base) cluster —
    // the operation's whole point
    assert(inc.exists { case (n, c) => c % 7 != 0 && c < n },
      "no fresh doc merged into a base cluster on this fixture")
  }

  test("persisted-index forms == two-frame forms: the stored winnow " +
      "index reproduces the combined-df candidates exactly") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val fresh = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // two INDEPENDENT constructions of the combined-df cap — the
    // window-over-union form and the stored-index df-sum form — must
    // agree pair-for-pair, score-for-score
    val idx = Clean.winnowIndexOf(base).localCheckpoint(true)
    assert(canon(Clean.incrementalTieredPairsFrom(idx, base, fresh))
      === canon(Clean.incrementalTieredPairsOn(base, fresh)))
    // and the cluster update from stored artifacts == the from-scratch
    // form (which itself == raw CC, proven above)
    val baseAssign = graft.dedup.Dedup.nearDupClusters(
      base, "doc_id", Clean.tieredNearDupPairsOn(base))
    assert(canon(Clean.incrementalClusterUpdateFrom(
        idx, baseAssign, base, fresh))
      === canon(Clean.incrementalClusterUpdateOn(base, fresh)))
  }

  test("index lifecycle drift fixture: a hash crossing the df cap " +
      "mid-lifecycle leaves stale pairs in the store; compaction " +
      "retracts exactly them, restoring the full-pass answer") {
    // template docs arrive 10 → 14 → 18 → 22: the shared fingerprints'
    // combined df crosses dfCap=16 at step 2, so steps 1's cross pairs
    // (emitted legitimately under df=14) become stale — the full pass
    // over all 22 silences every template pair. The x-pair (df=2)
    // must survive compaction untouched.
    val template = ("some shared boilerplate header that every scraped " +
      "page carries along with its navigation text and footer") * 2
    def tdoc(i: Int) =
      (i.toLong, template + " " + (('a' + i).toChar.toString * 9), "s0")
    val xText = "completely unrelated narrative about rivers and the " +
      "migration of salmon swimming upstream through cold mountain water"
    val base = docsDF(Seq.tabulate(10)(tdoc) :+
      (100L, xText, "s1"))
    val batches = Seq(
      docsDF(Seq.tabulate(4)(j => tdoc(10 + j))),
      docsDF(Seq.tabulate(4)(j => tdoc(14 + j))),
      docsDF(Seq.tabulate(4)(j => tdoc(18 + j)) :+
        (101L, xText + " anyway", "s1")))
    val all = (base +: batches).reduce(_.unionByName(_))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (raw, idx) = Clean.ingestLifecycleRaw(base, batches, 0.8, 16)
    val rawSet = pairSet(raw)
    // stale template pairs ARE in the store: base C(10,2) + step-1's
    // 10×4 cross + C(4,2) intra, all under the then-current df
    assert(rawSet.count { case (a, b) => a < 100 && b < 100 } ===
      45 + 40 + 6)
    assert(rawSet.contains((100L, 101L)), "x-pair found at step 3")
    val full = Clean.tieredNearDupPairsOn(all)
    val fullSet = pairSet(full)
    assert(fullSet === Set((100L, 101L)),
      "full pass silences all template pairs (df = 22 > 16)")
    assert(fullSet.subsetOf(rawSet), "store is a superset of the full pass")
    // compaction retracts exactly the stale pairs — rows AND scores
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(Clean.compactPairs(raw, idx, 16)) === canon(full))
  }

  test("index lifecycle on the real corpus: base + 3 ingests through " +
      "the appended index + compaction == one full dd20 pass; " +
      "recluster from the compacted store == full-pass clusters") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(pmod(col("doc_id"), lit(8)) < 5)
    val batches = (5 to 7).map(k =>
      docs.filter(pmod(col("doc_id"), lit(8)) === k))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val (raw, idx) = Clean.ingestLifecycleRaw(base, batches, 0.8, 16)
    val compacted = Clean.compactPairs(raw, idx, 16)
    val full = Clean.tieredNearDupPairsOn(docs)
    assert(canon(compacted) === canon(full))
    assert(compacted.count() > 0, "corpus must contain lifecycle pairs")
    // the periodic rebuild restores exact dd21 semantics after the
    // never-unmerge routing drift
    assert(canon(graft.dedup.Dedup.nearDupClusters(docs, "doc_id",
        compacted)) ===
      canon(graft.dedup.Dedup.nearDupClusters(docs, "doc_id", full)))
    // and the chained assignment maintenance over the same 3 ingests
    // equals CC over the raw accumulated edge store
    var assign = graft.dedup.Dedup.nearDupClusters(base, "doc_id",
      Clean.tieredNearDupPairsOn(base)).localCheckpoint(true)
    var idx2 = Clean.winnowIndexOf(base).localCheckpoint(true)
    var corpus = base
    for (b <- batches) {
      assign = Clean.incrementalAssignmentUpdateFrom(idx2, assign, corpus, b)
        .localCheckpoint(true)
      idx2 = Clean.indexAppend(idx2, b).localCheckpoint(true)
      corpus = corpus.unionByName(b)
    }
    assert(canon(assign) ===
      canon(graft.dedup.Dedup.nearDupClusters(docs, "doc_id", raw)))
  }

  test("assignment maintenance: a bridging ingest relabels the merged " +
      "base cluster (the routing face would leave it stale), chains " +
      "across K ingests, and equals CC over the raw accumulated edges") {
    // two base clusters A and B sharing a long core (J(A,B) < 0.8);
    // the bridge doc carries both suffixes (J >= 0.8 to each side)
    val core = "the committee reviewed quarterly submissions and " +
      "published detailed findings about regional infrastructure " +
      "spending patterns across municipal departments during the " +
      "previous fiscal year under new reporting guidelines"
    val sa = " alpha omega circuits hum quietly beneath raised floors"
    val sb = " zebras gallop across windy plateaus before autumn dusk"
    val base = docsDF(Seq(
      (10L, core + sa, "s"), (11L, core + sa + " ok", "s"),
      (20L, core + sb, "s"), (21L, core + sb + " ok", "s")))
    val batches = Seq(
      docsDF(Seq((30L, core + sa + sb, "s"))), // the bridge
      docsDF(Seq((40L, core + sb + " anyway", "s")))) // routes via B's NEW label
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val basePairs = Clean.tieredNearDupPairsOn(base)
    var assign = graft.dedup.Dedup.nearDupClusters(base, "doc_id", basePairs)
      .localCheckpoint(true)
    assert(asMap(assign) ===
      Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L),
      "fixture must start as two separate base clusters")
    var idx = Clean.winnowIndexOf(base).localCheckpoint(true)
    var corpus = base
    for (b <- batches) {
      assign = Clean.incrementalAssignmentUpdateFrom(idx, assign, corpus, b)
        .localCheckpoint(true)
      idx = Clean.indexAppend(idx, b).localCheckpoint(true)
      corpus = corpus.unionByName(b)
    }
    // the bridge merged A and B: EVERY member relabeled to the global
    // min — including b-side base rows the routing face never touches —
    // and step 2's doc routed through B's post-merge label
    assert(asMap(assign) === Map(10L -> 10L, 11L -> 10L, 20L -> 10L,
      21L -> 10L, 30L -> 10L, 40L -> 10L))
    // chained maintenance == CC over the raw accumulated edge store
    val (raw, _) = Clean.ingestLifecycleRaw(base, batches, 0.8, 16)
    assert(asMap(assign) === asMap(graft.dedup.Dedup.nearDupClusters(
      corpus, "doc_id", raw)))
  }

  test("the winnow index PERSISTS: parquet round-trip of the index " +
      "and the pair store drives an ingest + compaction to the same " +
      "rows as the in-memory lineage") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val fresh = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("winnow-idx").toString
    // what a full pass persists: the index (partitioned by a hash
    // prefix, the warehouse layout) and the adjudicated pair store
    Clean.winnowIndexOf(base)
      .withColumn("hp", substring(col("h"), 1, 1))
      .write.partitionBy("hp").mode("overwrite").parquet(s"$dir/index")
    Clean.tieredNearDupPairsOn(base)
      .write.mode("overwrite").parquet(s"$dir/pairs")
    val storedIdx = spark.read.parquet(s"$dir/index").select("doc_id", "h")
    val storedPairs = spark.read.parquet(s"$dir/pairs")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // ingest against the STORED index == against the live lineage
    assert(canon(Clean.incrementalTieredPairsFrom(storedIdx, base, fresh))
      === canon(Clean.incrementalTieredPairsOn(base, fresh)))
    // append + compact over the stored artifacts == the full pass
    val step = Clean.incrementalTieredPairsFrom(storedIdx, base, fresh)
      .select(least(col("id_base"), col("id_new")).as("id_a"),
        greatest(col("id_base"), col("id_new")).as("id_b"), col("jaccard"))
    val idx2 = Clean.indexAppend(storedIdx, fresh)
    assert(canon(Clean.compactPairs(storedPairs.unionByName(step), idx2))
      === canon(Clean.tieredNearDupPairsOn(docs)))
  }

  test("dd25 auto near-dup: the estimate statistic is exact, the " +
      "threshold flips the tier, and each tier's rows are served — " +
      "proven on a corpus where the tiers demonstrably differ") {
    // 20 near-identical template docs (> dfCap = 16): every SHARED
    // winnow fingerprint has df = 20 > cap, so the tiered gate
    // silences all pairs BY DESIGN while the exact tier keeps them —
    // the corpus where the dispatch choice is visible in the rows
    val template = ("the quick brown fox jumps over the lazy dog and " +
      "then runs far away into the deep dark forest tonight") * 3
    // per-doc suffix = one repeated letter: no 8-char gram (and so no
    // winnow fingerprint) is shared between two docs' suffixes
    val docs = docsDF(Seq.tabulate(20)(i =>
      (i.toLong, template + " " + (('a' + i).toChar.toString * 9), "s0")))
    // estimate == brute force: Σ C(df,2) over distinct trigram dfs
    val grams = docs.select(col("doc_id"),
        explode(graft.functions.HashFunctions.char_ngram_set(
          lower(trim(col("text"))), 3)).as("gram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).distinct
    val brute = grams.groupBy(_._2).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    val est = Clean.exactTierCandidateEstimate(docs)
    assert(est === brute && est > 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // estimate under the threshold -> the exact tier's pairs
    val exact = canon(Clean.nearDupAutoOn(docs,
      maxExactCandidates = est))
    assert(exact === canon(graft.dedup.Dedup.exactJaccardPairs(
      docs, "doc_id", "text", threshold = 0.8)))
    assert(exact.size === 20 * 19 / 2, "all template pairs kept")
    // estimate over the threshold -> the tiered gate's pairs (the
    // hot-template pairs silenced, dd20's documented contract)
    val tiered = canon(Clean.nearDupAutoOn(docs,
      maxExactCandidates = est - 1))
    assert(tiered === canon(Clean.tieredNearDupPairsOn(docs)))
    assert(tiered.isEmpty, "every shared fingerprint is over the cap")
    assert(exact !== tiered, "fixture must separate the tiers")
    // the caller-supplied profile number skips the probe, same flip
    assert(canon(Clean.nearDupAutoOn(docs,
      maxExactCandidates = 10L, knownCandidateEstimate = Some(5L)))
      === exact)
    // the dispatch decision is SURFACED: onDispatch fires with the
    // chosen tier and the statistic, on both branches — operators can
    // detect a threshold crossing between runs without diffing rows
    var seen = List.empty[Clean.NearDupDispatch]
    Clean.nearDupAutoOn(docs, maxExactCandidates = est,
      onDispatch = d => seen ::= d)
    Clean.nearDupAutoOn(docs, maxExactCandidates = est - 1,
      onDispatch = d => seen ::= d)
    assert(seen.reverse.map(d => (d.tier, d.estimate, d.maxExactCandidates))
      === List(("exact", est, est), ("tiered", est, est - 1)))
  }

  // ---- source overlap -----------------------------------------------

  test("ovl1: matches a brute-force distinct-chunk intersection and " +
      "is strictly upper-triangular") {
    val dir = java.nio.file.Files.createTempDirectory("ovl1").toString
    val a = (1 to 10).map(i => s"a$i").mkString(" ")
    val b = (1 to 10).map(i => s"b$i").mkString(" ")
    val c = (1 to 10).map(i => s"c$i").mkString(" ")
    docsDF(Seq(
      (1L, s"$a $b", "s0"), (2L, s"$b $c", "s1"), (3L, s"$a $c", "s2")
    )).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Clean.ovl1SourceOverlap(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(rows == Map(("s0", "s1") -> 1L, ("s0", "s2") -> 1L,
      ("s1", "s2") -> 1L))
    assert(rows.keys.forall { case (x, y) => x < y })
  }
}
