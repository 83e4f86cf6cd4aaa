package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.export.{CorpusExport, Packing}
import graft.ingest.JsonlSource

@graft.tags.Slow
class ExportSpec extends SparkSpec {
  import spark.implicits._

  test("packSequencesBucketed: per-band exact prefix placement, " +
      "bounded pack length spread, partitioning-independent") {
    import graft.export.Packing
    val docs = Tables.documents(spark, sf)
    val out = Packing.packSequencesBucketed(
        docs, "doc_id", "n_chars", budget = 4096L, bucketWidth = 256L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // every unit is in its length band
    assert(out.forall { case (_, len, b, _, _, _) => len / 256 == b })
    // within a band, starts are the exact cumsum in id order
    out.groupBy(_._3).foreach { case (_, rows) =>
      var acc = 0L
      rows.sortBy(_._1).foreach { case (_, len, _, start, seqId, off) =>
        assert(start === acc)
        assert(seqId === start / 4096 && off === start % 4096)
        acc += len
      }
    }
    // padding bound: units sharing a pack differ by < bucketWidth
    out.groupBy(r => (r._3, r._5)).foreach { case (_, rows) =>
      val lens = rows.map(_._2)
      assert(lens.max - lens.min < 256)
    }
    // input partitioning must not move any placement
    val reparted = Packing.packSequencesBucketed(
        docs.repartition(13, col("lang")), "doc_id", "n_chars",
        budget = 4096L, bucketWidth = 256L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(reparted.toSet === out.toSet)
  }

  test("pipe5 tiered prep: the tiered removal set is a SUBSET of " +
      "pipe2's exact removals and the pack replays over the " +
      "independently recomputed kept set") {
    import graft.queries.{Clean, Extensions}
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, sf)
    // recompute the shared decontamination stage once
    val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    val eval_ = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val scores = Dedup.contaminationScores(
      corpus, eval_, "doc_id", "text", k = 3)
    val clean = corpus.join(
        scores.filter(col("contamination") > 0.2).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val tiered = Clean.tieredNearDupPairsOn(clean)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.exactJaccardPairs(clean, "doc_id", "text",
        threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the tiered gate only ever MISSES pairs (the df-cap rule); it
    // must never invent one — so pipe5 keeps a superset of pipe2's
    // docs and its removals are a subset
    assert(tiered.subsetOf(exact),
      s"tiered pairs outside the exact truth: ${tiered -- exact}")
    assert(tiered.nonEmpty, "fixture must produce tiered pairs")
    // pipe5's packed output equals packing the recomputed kept set
    val kept = Dedup.keepAfterPairs(clean, "doc_id",
      Clean.tieredNearDupPairsOn(clean))
    val chunks = graft.export.Packing.chunkDocuments(
      kept, "doc_id", "text", maxTokens = 16, overlap = 4)
    val units = chunks.select(
      (col("doc_id") * lit(1048576L) + col("chunk_id")).as("cid"),
      col("n_chunk_tokens"))
    val expect = graft.export.Packing.packSequences(
        units, "cid", "n_chunk_tokens", budget = 512L)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val got = Extensions.pipe5TieredPrepOn(spark, docs)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(got === expect)
  }

  test("pipe6 auto prep: the dispatch statistic flips the composition " +
      "between pipe2 and pipe5, proven where the tiers' packs differ") {
    import graft.queries.{Clean, Extensions}
    // hot-template corpus (> dfCap near-identical docs): pipe2's exact
    // stage removes the duplicates, pipe5's capped gate keeps them —
    // the two compositions pack DIFFERENT unit sets, so the dispatch
    // choice is visible in the rows. ids avoid doc_id % 97 == 0 (the
    // pipelines' eval split).
    val template = ("boilerplate navigation header text repeated on " +
      "every scraped page of this particular web property") * 3
    val docs = Seq.tabulate(20)(i =>
        (i + 1L, template + " " + (('a' + i).toChar.toString * 9), "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val est = Clean.exactTierCandidateEstimate(docs)
    assert(est > 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val viaExact = canon(Extensions.pipe6AutoPrepOn(spark, docs, est))
    val viaTiered = canon(Extensions.pipe6AutoPrepOn(spark, docs, est - 1))
    assert(viaExact === canon(Extensions.pipe2TrainingPrepOn(spark, docs)))
    assert(viaTiered === canon(Extensions.pipe5TieredPrepOn(spark, docs)))
    assert(viaExact !== viaTiered, "fixture must separate the tiers")
  }

  test("JSONL shard export round-trips through the declared-schema source") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
    val dir = Files.createTempDirectory("graft-export").toString + "/jsonl"
    CorpusExport.writeJsonlShards(docs, dir,
      maxRecordsPerShard = 100, partitionByCols = Seq("lang"),
      numTasks = Some(4), compression = "none")

    // shard-size contract: no file exceeds the record budget
    val files = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".json"))
    assert(files.nonEmpty)
    assert(files.forall(f =>
      scala.io.Source.fromFile(f).getLines().size <= 100))

    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val back = JsonlSource("docs", dir, schema).read(spark)
    assert(back.count() === docs.count())
    def contentHash(df: org.apache.spark.sql.DataFrame): Long =
      df.select(sum(pmod(xxhash64(col("doc_id"), col("text")), lit(1000000007L))))
        .head().getLong(0)
    assert(contentHash(docs.select(col("doc_id"), col("text"))) ===
      contentHash(back))
  }

  test("packSequences: exact prefix-sum placement, budget-boundary splits, " +
      "partitioning-independence") {
    import org.apache.spark.sql.functions._
    import graft.export.Packing
    val docs = (1L to 500L).map(i => (i, 10L + (i * 7) % 90))
      .toDF("doc_id", "n_chars")
    val budget = 256L
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "start", "seq_id", "seq_offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    val packed = canon(Packing.packSequences(docs, "doc_id", "n_chars", budget))
    // reference: driver-side exact prefix sum in id order
    var acc = 0L
    val want = (1L to 500L).map { i =>
      val len = 10L + (i * 7) % 90
      val row = (i, acc, acc / budget, acc % budget)
      acc += len
      row
    }
    assert(packed === want)
    // a doc straddling a boundary continues into the next sequence:
    // offsets may exceed budget - len (split semantics, no padding)
    assert(want.exists { case (i, _, _, off) =>
      off + (10L + (i * 7) % 90) > budget })
    // identical placements from a shuffled, differently-partitioned input
    val shuffled = Packing.packSequences(
      docs.repartition(13, col("n_chars")).sortWithinPartitions(desc("doc_id")),
      "doc_id", "n_chars", budget)
    assert(canon(shuffled) === want)
  }

  test("chunkDocuments: overlap-aware reconstruction, window bounds, " +
      "and short-doc identity on the real corpus") {
    import graft.export.Packing
    val docs = Tables.documents(spark, sf)
    val chunks = Packing.chunkDocuments(docs, "doc_id", "text",
      maxTokens = 16, overlap = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4)))
      .groupBy(_._1)
    val original = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
      .toMap
    assert(chunks.keySet === original.keySet)
    chunks.foreach { case (id, cs) =>
      val ordered = cs.sortBy(_._2)
      assert(ordered.map(_._2).toSeq === (0L until ordered.length.toLong),
        s"doc $id chunk ids not dense")
      assert(ordered.forall(_._3 == ordered.length), s"doc $id n_chunks")
      val toks = ordered.map(_._4.split("\\s+").toSeq)
      // every window is at most maxTokens; all but the last exactly so
      assert(toks.forall(_.length <= 16), s"doc $id oversized chunk")
      assert(toks.dropRight(1).forall(_.length == 16),
        s"doc $id short interior chunk")
      // dropping the first `overlap` tokens of every later chunk
      // reconstructs the doc exactly
      val rebuilt = toks.head ++ toks.tail.flatMap(_.drop(4))
      assert(rebuilt === original(id), s"doc $id reconstruction")
      // short docs pass through as a single identical chunk
      if (original(id).length <= 16)
        assert(ordered.length == 1 && toks.head === original(id))
    }
  }

  test("chunkDocuments: budget-boundary edges (empty, 1, max, max+1, " +
      "exact multiple)") {
    import graft.export.Packing
    def t(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, ""), (2L, "solo"), (3L, t(16)), (4L, t(17)), (5L, t(28)),
      (6L, t(29))).toDF("doc_id", "text")
    val out = Packing.chunkDocuments(df, "doc_id", "text", 16, 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(out(1L) === Seq(""))       // empty text -> one empty chunk
    assert(out(2L) === Seq("solo"))
    assert(out(3L) === Seq(t(16)))    // exactly max -> single chunk
    // 17 tokens -> full window + remainder starting at token 13
    assert(out(4L) === Seq(t(16), (13 to 17).map(i => s"w$i").mkString(" ")))
    // 28 = 16 + 12: second window is exactly full, no empty third
    assert(out(5L) === Seq(
      (1 to 16).map(i => s"w$i").mkString(" "),
      (13 to 28).map(i => s"w$i").mkString(" ")))
    assert(out(6L).length === 3)
  }

  test("packSequences: stable under sampled range boundaries (60k rows, " +
      "many partitions)") {
    // At this size RangePartitioner's per-partition reservoir actually
    // samples (it can't see every row), which is the regime where an
    // UN-materialized assignment could re-sample different boundaries
    // between the totals job and the placement job. The eager
    // localCheckpoint in packSequences freezes one assignment; this
    // asserts the result is still the exact prefix sum in id order.
    import graft.export.Packing
    val n = 60000L
    def len(i: Long): Long = 1L + (i * 31) % 97
    val docs = spark.range(1, n + 1).toDF("doc_id")
      .withColumn("n_chars", lit(1L) + pmod(col("doc_id") * 31, lit(97L)))
      .repartition(64, pmod(col("doc_id"), lit(7)))  // scrambled input
    val budget = 2048L
    val got = Packing.packSequences(docs, "doc_id", "n_chars", budget)
      .select("doc_id", "start", "seq_id", "seq_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    var acc = 0L
    val want = (1L to n).map { i =>
      val row = (i, acc, acc / budget, acc % budget)
      acc += len(i)
      row
    }
    assert(got === want)
  }

  test("weightedInterleave: prefix ratios approximate the weights; deterministic") {
    val a = (1 to 900).map(i => (s"a$i", "web")).toDF("id", "src")
    val b = (1 to 300).map(i => (s"b$i", "code")).toDF("id", "src")
    val mixed = CorpusExport.weightedInterleave(Seq(a -> 3, b -> 1))
    val prefix = mixed.limit(400).collect().map(_.getString(1))
    val webFrac = prefix.count(_ == "web").toDouble / prefix.length
    assert(webFrac > 0.6 && webFrac < 0.9, s"webFrac=$webFrac")
    // deterministic across runs
    val again = CorpusExport.weightedInterleave(Seq(a -> 3, b -> 1))
      .limit(50).collect().map(_.getString(0)).toSeq
    val first = mixed.limit(50).collect().map(_.getString(0)).toSeq
    assert(again === first)
  }

  test("CDC chunking: chunks reassemble the doc; boundaries are " +
      "content-defined (front edit leaves downstream chunks intact, " +
      "unlike fixed-width)") {
    val docs = Tables.documents(spark, sf)
    val chunks = Packing.cdcChunkDocuments(docs, "doc_id", "text", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // lossless: concatenating a doc's chunks in chunk_id order gives
    // back the tokenized text
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").mkString(" "))
      .toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      assert(cs.sortBy(_._2).map(_._3).mkString(" ") === texts(id))
    }
    // content-defined stability: prepend one word to every doc — the
    // chunk MULTISET downstream of the first boundary is unchanged
    // (compare all-but-first chunk texts); fixed-width chunking loses
    // this on the same edit for any doc long enough to have >1 chunk
    val edited = docs.select(col("doc_id"),
      concat(lit("zzclausenovel "), col("text")).as("text"))
    val editedChunks = Packing
      .cdcChunkDocuments(edited, "doc_id", "text", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val multi = chunks.groupBy(_._1).filter(_._2.length > 1)
    assert(multi.nonEmpty, "need multi-chunk docs for the property")
    multi.foreach { case (id, cs) =>
      val tailOrig = cs.sortBy(_._2).drop(1).map(_._3).toSeq
      val tailEdit = editedChunks.filter(_._1 == id)
        .sortBy(_._2).drop(1).map(_._3).toSeq
      assert(tailEdit === tailOrig, s"doc $id downstream chunks moved")
    }
    val fixedOrig = Packing.chunkDocuments(docs, "doc_id", "text", 16, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    val fixedEdit = Packing.chunkDocuments(edited, "doc_id", "text", 16, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // every CDC doc survived above; fixed-width must lose the
    // property on MOST docs (repetitive text can coincidentally
    // realign a few, so "all shift" would be too strong)
    val fixedShifted = multi.keys.count { id =>
      fixedEdit.filter(_._1 == id).sortBy(_._2).drop(1).map(_._3).toSeq !==
        fixedOrig.filter(_._1 == id).sortBy(_._2).drop(1).map(_._3).toSeq
    }
    assert(fixedShifted * 2 > multi.size,
      s"fixed-width shifted only $fixedShifted of ${multi.size}")
  }
}
