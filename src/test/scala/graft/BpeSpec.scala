package graft

import org.apache.spark.sql.functions._
import graft.text.Bpe

/** BPE trainer vs an independent in-memory reference implementation
  * (the textbook algorithm, driver-side Scala) — merges, merged
  * symbol sequences, and applied counts must agree exactly.
  */
class BpeSpec extends SparkSpec {

  /** Reference BPE: pair stats with overlaps, merge leftmost
    * non-overlapping, ties by (a, b).
    */
  private def referenceTrain(
      words: Map[String, Long],
      nMerges: Int): (Seq[(Int, String, String, Long)], Map[String, Seq[String]]) = {
    var vocab: Map[String, Seq[String]] =
      words.keys.map(w => w -> w.map(_.toString)).toMap
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (step <- 1 to nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (w, syms) =>
        syms.sliding(2).foreach {
          case Seq(a, b) =>
            counts((a, b)) = counts.getOrElse((a, b), 0L) + words(w)
          case _ =>
        }
      }
      if (counts.nonEmpty) {
        val ((a, b), cnt) = counts.toSeq
          .minBy { case ((x, y), c) => (-c, x, y) }
        merges += ((step, a, b, cnt))
        vocab = vocab.map { case (w, syms) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2
            } else { out += syms(i); i += 1 }
          }
          w -> out.toSeq
        }
      }
    }
    (merges.toSeq, vocab)
  }

  private def wordCounts: Map[String, Long] =
    Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\s+"))
      .filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }

  test("train == reference implementation: merges and merged vocab") {
    val docs = Tables.documents(spark, sf)
    val gotMerges = Bpe.train(docs, "text", nMerges = 5)
    val (wantMerges, wantVocab) = referenceTrain(wordCounts, 5)
    assert(gotMerges === wantMerges)
    val gotSyms = Bpe.mergedVocab(docs, "text", gotMerges)
      .select("word", "syms").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gotSyms.keySet === wantVocab.keySet)
    wantVocab.foreach { case (w, syms) =>
      assert(gotSyms(w) === syms.mkString(" "), s"word '$w'")
    }
  }

  test("the merge fold is leftmost non-overlapping (aaa with pair " +
      "(a,a) -> [aa, a]; x a b a b merges both)") {
    val df = spark.createDataFrame(Seq(
      Tuple1("a a a"), Tuple1("x a b a b"), Tuple1("b a b"),
      Tuple1("a"), Tuple1("xa b"))).toDF("syms")
    val got = df.select(Bpe.mergeFold(col("syms"), "a", "b").as("m"))
      .collect().map(_.getString(0)).toSeq
    // (a,b): "a a a" no pair; "x a b a b" -> both merge; "b a b" one;
    // single symbol unchanged; "xa b" must NOT merge (xa != a)
    assert(got === Seq("a a a", "x ab ab", "b ab", "a", "xa b"))
  }

  test("mergeFold property: equals the reference leftmost-non-overlap " +
      "merge on random symbol sequences over a confusable alphabet") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // symbols deliberately prefix/suffix-confusable with the pair
    val symGen = Gen.listOfN(12,
      Gen.oneOf("a", "b", "ab", "ba", "xa", "bx", "aa", "bb"))
    val rows = (1 to 40).flatMap(i =>
      symGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    def refMerge(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    val pairs = Seq(("a", "b"), ("a", "a"), ("ab", "a"), ("b", "ba"))
    pairs.foreach { case (a, b) =>
      val df = spark.createDataFrame(
        rows.map(sy => Tuple1(sy.mkString(" ")))).toDF("syms")
      val got = df.select(Bpe.mergeFold(col("syms"), a, b))
        .collect().map(_.getString(0)).toSeq
      val want = rows.map(sy => refMerge(sy, a, b).mkString(" "))
      assert(got === want, s"pair ($a,$b)")
    }
  }

  test("applyCounts: n_bpe between n_tokens and char count, and " +
      "totals match the reference vocab") {
    val docs = Tables.documents(spark, sf)
    val merges = Bpe.train(docs, "text", nMerges = 5)
    val got = Bpe.applyCounts(docs, "text", "doc_id", merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val (_, refVocab) = referenceTrain(wordCounts, 5)
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (id, nTok, nBpe) =>
      val words = texts(id).trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      assert(nTok === words.length.toLong)
      assert(nBpe === words.map(w => refVocab(w).length.toLong).sum)
      assert(nBpe >= nTok)
    }
  }
}
