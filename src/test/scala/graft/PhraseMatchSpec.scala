package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.Dedup
import graft.functions.{AhoCorasick, PhraseMatch}
import graft.queries.Curate

/** Aho–Corasick blocklist matcher: automaton == naive contains on
  * randomized corpora, nested/overlapping output chains, codegen ==
  * interpreted, the blk1 query contract, and the pipe7 composition.
  */
class PhraseMatchSpec extends SparkSpec {
  import spark.implicits._

  private def naive(text: String, phrases: Seq[String]): Seq[String] =
    phrases.filter(text.contains)

  test("automaton == naive contains on a randomized word-soup corpus, " +
      "including nested and prefix-sharing phrases") {
    val phrases = Seq("ab", "abab", "bab", "ba", "abc", "c", "cab",
      "aa", "aab", "zz top")
    val ac = new AhoCorasick(phrases.toArray)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val text = (1 to rnd.nextInt(40)).map(_ => "abcz" (rnd.nextInt(4)))
        .mkString
      assert(ac.matchedPhraseStrings(text) == naive(text, phrases),
        s"text=$text")
    }
  }

  test("matching a long phrase reports its embedded shorter phrases " +
      "through the merged output chain") {
    val phrases = Seq("table scan", "big table scan", "scan")
    val ac = new AhoCorasick(phrases.toArray)
    assert(ac.matchedPhraseStrings("a big table scan here") == phrases)
    // order is PHRASE-LIST order, not match order
    assert(ac.matchedPhraseStrings("scan then big table scan") == phrases)
    assert(ac.matchedPhraseStrings("table scanner") ==
      Seq("table scan", "scan"))
    assert(ac.matchedPhraseStrings("nothing here") == Nil)
  }

  test("empty text, unmatched text, and full-cover early exit") {
    val ac = new AhoCorasick(Array("x", "y"))
    assert(ac.matchedPhraseStrings("") == Nil)
    assert(ac.matchedPhraseStrings("zzz") == Nil)
    // every phrase matched long before the end of a 1M-char text:
    // the scan early-exits rather than walking the tail
    val big = "xy" + ("z" * 1000000)
    val t0 = System.nanoTime()
    assert(ac.matchedPhraseStrings(big) == Seq("x", "y"))
    assert(ac.matchedPhraseStrings(big + "x") == Seq("x", "y"))
    val _ = t0 // timing not asserted — environment-dependent
  }

  test("degenerate phrase lists are rejected at construction") {
    intercept[IllegalArgumentException](new AhoCorasick(Array.empty))
    intercept[IllegalArgumentException](new AhoCorasick(Array("a", "")))
    intercept[IllegalArgumentException](new AhoCorasick(Array("a", "a")))
  }

  test("codegen and interpreted eval agree on the expression") {
    val phrases = Seq("fox", "fox jumps", "ox j", "dog", "og!", "cat")
    val texts = Seq("the quick brown fox jumps over the lazy dog!",
      "no animals here", "", "fox", "dogfox jumps")
    val df = texts.toDF("text")
      .select(col("text"),
        PhraseMatch.phrase_matches(col("text"), phrases).as("m"))
    val expected = texts.map(naive(_, phrases))
    val prior = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      for (codegen <- Seq("true", "false")) {
        spark.conf.set("spark.sql.codegen.wholeStage", codegen)
        val got = df.collect().map(r => r.getSeq[String](1)).toSeq
        assert(got == expected, s"codegen=$codegen")
      }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prior)
  }

  test("blk1 query: hit rows match a DataFrame-side naive replay on " +
      "the real sf0.001 corpus; no-hit docs are absent") {
    val d = "/root/testdata/sf0.001"
    val got = Curate.blk1BlocklistHits(spark, d).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getString(2)))).toMap
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text").as[(Long, String)].collect()
    for ((id, text) <- docs) {
      val hits = naive(text, Curate.BlocklistPhrases)
      if (hits.isEmpty) assert(!got.contains(id))
      else assert(got(id) == ((hits.length, hits.mkString(","))),
        s"doc $id")
    }
    // the never-occurring phrase really never occurs (guards the
    // blocklist's zero-match leg)
    assert(!got.values.exists(_._2.contains("llama weights")))
  }

  test("pipe7: report equals an independently recomputed composition " +
      "(naive gate -> excise -> floor -> agg)") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val got = Curate.pipe7BlocklistCurateOn(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getInt(6))).toSet

    // independent recomputation: naive contains for the gate, the
    // library excise for the rest (its own spec proves it), plain
    // Scala for floor + aggregation
    val raw = docs.select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
    val blocked = raw.filter(r =>
      Curate.BlocklistPhrases.exists(r._3.contains)).map(_._1).toSet
    val keptRows = raw.filterNot(r => blocked(r._1))
    val removedBy = Dedup.spanExciseClean(
        keptRows.toSeq.toDF("doc_id", "lang", "text"),
        "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val expected = raw.groupBy(_._2).map { case (lang, rows) =>
      val outDocs = rows.filterNot(r => blocked(r._1)).flatMap { r =>
        val nw = r._3.trim.toLowerCase.split("\\s+", -1).length
        val nTok = nw - removedBy(r._1)
        if (nTok >= 20) Some((nTok.toLong, removedBy(r._1).toLong)) else None
      }
      val tokens = outDocs.map(_._1).sum
      (lang, rows.length.toLong, rows.count(r => blocked(r._1)).toLong,
        outDocs.length.toLong, tokens, outDocs.map(_._2).sum,
        ((tokens + 2047) / 2048).toInt)
    }.toSet
    assert(got === expected)
    // the gate and the floor both actually fired on this corpus
    assert(got.exists(_._3 > 0), "no language had a blocked doc")
    assert(got.map(t => t._2 - t._3 - t._4).sum > 0,
      "the floor dropped nothing — fixture too weak to test it")
  }

  test("unicode phrases: 2/3/4-byte UTF-8, astral surrogate pairs, " +
      "and the byte-walking scan == String-based naive") {
    val phrases = Seq("naïve", "café au lait", "ü", "日本語 text", "a🜁b")
    val ac = new AhoCorasick(phrases.toArray)
    assert(ac.matchedPhraseStrings("a naïve café au lait über all") ==
      Seq("naïve", "café au lait", "ü"))
    // 3-byte CJK and a 4-byte astral char (stepped as a surrogate pair)
    assert(ac.matchedPhraseStrings("some 日本語 text with a🜁b inside") ==
      Seq("日本語 text", "a🜁b"))
    assert(ac.matchedPhraseStrings("a🜂b plain") == Nil) // different astral
    // byte-walker == String scan on mixed-width soup
    val rnd = new scala.util.Random(11)
    val alphabet = "aü日🜁 b"
    for (_ <- 1 to 300) {
      val t = (1 to rnd.nextInt(25)).map { _ =>
        val cps = alphabet.codePoints().toArray
        new String(Character.toChars(cps(rnd.nextInt(cps.length))))
      }.mkString
      assert(ac.matchedPhraseStrings(t) == naive(t, phrases), s"text=$t")
    }
  }

  test("malformed UTF-8 degrades predictably: invalid lead/continuation " +
      "bytes step one byte and reset — adjacent valid matches survive") {
    import org.apache.spark.unsafe.types.UTF8String
    val ac = new AhoCorasick(Array("spam", "ham"))
    def matchesOf(bytes: Array[Byte]): Seq[String] = {
      val arr = ac.matchedPhrases(UTF8String.fromBytes(bytes))
      (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
    }
    val spam = "spam".getBytes("UTF-8")
    val ham = "ham".getBytes("UTF-8")
    // a bare continuation byte (0x80-0xBF) between two real matches:
    // before the fix the walker consumed it as a 4-byte lead and
    // swallowed 'ham' whole
    assert(matchesOf(spam ++ Array(0x85.toByte) ++ ham) ==
      Seq("spam", "ham"))
    // invalid lead bytes 0xF8-0xFF likewise step one byte
    assert(matchesOf(spam ++ Array(0xff.toByte) ++ ham) ==
      Seq("spam", "ham"))
    // a 4-byte lead with INVALID continuations must not eat 3 good
    // bytes: 0xF0 then "ham" still matches 'ham'
    assert(matchesOf(Array(0xf0.toByte) ++ ham) == Seq("ham"))
    // ...and the bad byte resets the automaton: it can never sit
    // INSIDE a phrase match
    assert(matchesOf("sp".getBytes("UTF-8") ++ Array(0x85.toByte) ++
      "am".getBytes("UTF-8")) == Nil)
    // truncated multi-byte tails still stop cleanly
    assert(matchesOf(spam ++ Array(0xe4.toByte, 0xb8.toByte)) == Seq("spam"))
    // OVERLONG and surrogate encodings are rejected, never emitted as
    // chars: F0 80 80 80 (overlong, cp=0 — before the range check it
    // decoded to U+D7C0, a real Hangul char garbage bytes could use
    // to complete a phrase), ED A0 80 (bare surrogate U+D800),
    // C0 80 (overlong NUL), E0 80 80 (overlong) — each must reset and
    // leave adjacent real matches intact
    val jamo = new AhoCorasick(Array("aퟀ"))
    assert(jamo.matchedPhrases(UTF8String.fromBytes(
      "a".getBytes("UTF-8") ++ Array(0xf0, 0x80, 0x80, 0x80)
        .map(_.toByte))).numElements() === 0)
    for (bad <- Seq(
        Array(0xf0, 0x80, 0x80, 0x80), // overlong 4-byte
        Array(0xf5, 0x8f, 0x8f, 0x8f), // beyond U+10FFFF
        Array(0xed, 0xa0, 0x80), // surrogate D800 as 3-byte
        Array(0xe0, 0x80, 0x80), // overlong 3-byte
        Array(0xc0, 0x80))) // overlong 2-byte (modified-UTF8 NUL)
      assert(matchesOf(spam ++ bad.map(_.toByte) ++ ham) ==
        Seq("spam", "ham"), bad.map(b => f"$b%02x").mkString(","))
  }

  test("invalid phrase lists fail at analysis time, not as a runtime " +
      "task failure when the automaton is first forced") {
    import graft.functions.PhraseMatch.phrase_matches
    import spark.implicits._
    val df = Seq("some text").toDF("text")
    for (bad <- Seq(Seq.empty[String], Seq("a", ""), Seq("dup", "dup"))) {
      val ex = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(phrase_matches(col("text"), bad)).queryExecution.analyzed
      }
      assert(ex.getMessage.contains("phrase"), s"phrases=$bad: $ex")
    }
  }
}
