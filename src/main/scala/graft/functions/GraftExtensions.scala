package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration of the engine's native expressions — the
  * analogue of the reference's dataset-published
  * `CREATE OR REPLACE FUNCTION` scripts replayed at publish time
  * (`load_dataset.py:121-160,372-376`; SURVEY §2.11). Registered
  * through the public `SparkSessionExtensions.injectFunction` hook:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *
  * makes `SELECT cosine_sim(a, b)`, `minhash_sig(arr, 64)`,
  * `simhash64(toks)`, `array_dot(a, b)` valid SQL in that session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, (usage, builder)) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        guarded(name, builder)))
    }
    e.injectOptimizerRule(_ => graft.plans.PruneFrameBytes)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** Declared arity per function — checked up front so a wrong-arity
    * SQL call fails with a clear message instead of the builder's raw
    * IndexOutOfBoundsException.
    */
  private val arities: Map[String, Int] = Map(
    "cosine_sim" -> 2, "array_dot" -> 2, "minhash_sig" -> 2,
    "simhash64" -> 1, "minhash_tokens_sig" -> 3,
    "minhash_band_hashes" -> 2, "char_ngram_set" -> 2,
    "array_match_frac" -> 2, "sorted_intersect_count" -> 2,
    "normalize_unicode" -> 2,
    "bounded_topn" -> 2, "freq_items" -> 2, "split_frames" -> 3,
    "bloom_agg" -> 3, "might_contain" -> 2,
    "zorder_key" -> -1, // -1 = variadic; the expression checks 2..8
    "zorder_i64" -> 2)

  private[functions] def guarded(
      name: String,
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      val expected = arities(name)
      if (expected >= 0 && exprs.length != expected)
        throw new IllegalArgumentException(
          s"$name expects $expected arguments, got ${exprs.length}")
      b(exprs)
    }

  val builders: Map[String, (String, Seq[Expression] => Expression)] = Map(
    "cosine_sim" ->
      ("cosine_sim(a, b) - cosine similarity of two float/double arrays",
        (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))),
    "array_dot" ->
      ("array_dot(a, b) - dot product of two float/double arrays",
        (exprs: Seq[Expression]) => ArrayDot(exprs(0), exprs(1))),
    "minhash_sig" ->
      ("minhash_sig(shingles, n) - n-wide MinHash signature",
        (exprs: Seq[Expression]) => exprs(1) match {
          case Literal(n: Int, _) => MinHashSig(exprs(0), n)
          case other => throw new IllegalArgumentException(
            s"minhash_sig: numHashes must be an integer literal, got $other")
        }),
    "simhash64" ->
      ("simhash64(tokens) - 64-bit SimHash of a token array",
        (exprs: Seq[Expression]) => SimHash64Expr(exprs(0))),
    "minhash_tokens_sig" ->
      ("minhash_tokens_sig(tokens, k, n) - fused k-shingle MinHash signature",
        (exprs: Seq[Expression]) => (exprs(1), exprs(2)) match {
          case (Literal(k: Int, _), Literal(n: Int, _)) =>
            MinHashTokensSig(exprs(0), k, n)
          case other => throw new IllegalArgumentException(
            s"minhash_tokens_sig: k and numHashes must be integer literals, got $other")
        }),
    "minhash_band_hashes" ->
      ("minhash_band_hashes(sig, bands) - LSH band hashes of a signature",
        (exprs: Seq[Expression]) => exprs(1) match {
          case Literal(b: Int, _) => MinHashBandHashes(exprs(0), b)
          case other => throw new IllegalArgumentException(
            s"minhash_band_hashes: bands must be an integer literal, got $other")
        }),
    "char_ngram_set" ->
      ("char_ngram_set(s, n) - distinct character n-grams, first-occurrence order",
        (exprs: Seq[Expression]) => exprs(1) match {
          case Literal(n: Int, _) => CharNgramSet(exprs(0), n)
          case other => throw new IllegalArgumentException(
            s"char_ngram_set: n must be an integer literal, got $other")
        }),
    "array_match_frac" ->
      ("array_match_frac(a, b) - fraction of equal positions in two bigint arrays",
        (exprs: Seq[Expression]) => LongArrayMatchFrac(exprs(0), exprs(1))),
    "sorted_intersect_count" ->
      ("sorted_intersect_count(a, b) - common elements of two SORTED bigint arrays (merge scan)",
        (exprs: Seq[Expression]) => SortedLongIntersectCount(exprs(0), exprs(1))),
    "normalize_unicode" ->
      ("normalize_unicode(s, form) - Unicode normalization (NFC|NFD|NFKC|NFKD)",
        (exprs: Seq[Expression]) => exprs(1) match {
          case Literal(f: org.apache.spark.unsafe.types.UTF8String, _) =>
            NormalizeUnicode(exprs(0), f.toString)
          case other => throw new IllegalArgumentException(
            s"normalize_unicode: form must be a string literal, got $other")
        }),
    "bounded_topn" ->
      ("bounded_topn(struct, n) - array of the n smallest struct values (aggregate)",
        (exprs: Seq[Expression]) => exprs(1) match {
          case Literal(n: Int, _) => BoundedTopN(exprs(0), n)
          case other => throw new IllegalArgumentException(
            s"bounded_topn: n must be an integer literal, got $other")
        }),
    "freq_items" ->
      ("freq_items(str, k) - Misra-Gries heavy hitters, array<struct<item,est>> (aggregate)",
        (exprs: Seq[Expression]) => exprs(1) match {
          case Literal(n: Int, _) => FreqItems(exprs(0), n)
          case other => throw new IllegalArgumentException(
            s"freq_items: k must be an integer literal, got $other")
        }),
    "bloom_agg" ->
      ("bloom_agg(key, numBits, numHashes) - mergeable bloom-filter blob over integral keys (aggregate)",
        (exprs: Seq[Expression]) => (exprs(1), exprs(2)) match {
          case (Literal(m: Int, _), Literal(k: Int, _)) =>
            BloomFilterAgg(exprs(0), m, k)
          case other => throw new IllegalArgumentException(
            s"bloom_agg: numBits and numHashes must be integer literals, got $other")
        }),
    "might_contain" ->
      ("might_contain(bloom, key) - false means key definitely absent from the bloom's build set",
        (exprs: Seq[Expression]) => BloomMightContain(exprs(0), exprs(1))),
    "zorder_key" ->
      ("zorder_key(c1, c2, ...) - binary Morton layout key over 2..8 int columns",
        (exprs: Seq[Expression]) => ZOrderKey(exprs)),
    "zorder_i64" ->
      ("zorder_i64(x, y) - two-column Morton layout key as an order-equivalent BIGINT",
        (exprs: Seq[Expression]) => ZOrderKey64(exprs(0), exprs(1))),
    "split_frames" ->
      ("split_frames(payload, frameBytes, everyNth) - sampled (frame_idx, frame) rows (generator)",
        (exprs: Seq[Expression]) => (exprs(1), exprs(2)) match {
          case (Literal(fb: Int, _), Literal(n: Int, _)) =>
            SplitFrames(exprs(0), fb, n)
          case other => throw new IllegalArgumentException(
            s"split_frames: frameBytes/everyNth must be integer literals, got $other")
        }))

  /** Runtime registration on an existing session (tests, REPLs). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    builders.foreach { case (name, (_, builder)) =>
      org.apache.spark.sql.graftshim.ColumnBridge
        .registerFunction(spark, name, guarded(name, builder))
    }
    org.apache.spark.sql.graftshim.ColumnBridge
      .addOptimizerRule(spark, graft.plans.PruneFrameBytes)
    org.apache.spark.sql.graftshim.ColumnBridge
      .addPlannerStrategy(spark, graft.plans.AsOfJoinStrategy)
  }
}
