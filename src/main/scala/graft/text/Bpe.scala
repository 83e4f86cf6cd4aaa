package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer training — the
  * vocabulary-building step of a training-data pipeline, expressed in
  * the shape that scales: the corpus is reduced ONCE to a (word, freq)
  * vocabulary table (one shuffle, heavy-hitter sized — millions of
  * rows at 100 TB, not trillions), and the merge loop then runs
  * entirely on that small table: per merge one pair-count aggregate +
  * a driver-side top-1, with the winning pair baked back into the next
  * iteration's plan as literals. The corpus itself is never re-scanned
  * during training; applying the learned merges back to documents is a
  * broadcast join against the merged vocabulary.
  *
  * Merge semantics match the reference BPE algorithm (Sennrich et al.,
  * 2016, public): count ALL adjacent symbol pairs (overlaps included)
  * weighted by word frequency; merge the most frequent pair
  * left-to-right non-overlapping within each word. The fold that
  * performs the merge is a string accumulator over space-joined
  * symbols — symbols never contain whitespace (words are \s+ tokens),
  * so the space is a safe structural separator, and the fold's
  * "accumulator ends with ' '+a" test cannot false-positive on a
  * symbol that merely ends with a (the space boundary is checked).
  * Ties on pair frequency break by (a, b) codepoint order — both
  * engines' binary collation — so training is deterministic.
  */
object Bpe {

  /** The corpus -> vocabulary reduction: lower/trim/\s+ tokens (the
    * t1/t10 tokenization), one groupBy(word) shuffle. `syms` is the
    * word's character sequence joined by ' ' (regexp_extract_all '.',
    * unicode-safe in both engines).
    */
  def vocab(docs: DataFrame, textCol: String): DataFrame =
    // fan-out below the tokenize+explode (guide §2): the corpus's one
    // reduction pass otherwise runs single-core over a few-row-group
    // scan; no-op at warehouse scale. Keyed by the text itself — the
    // only column present — which is deterministic under retry
    graft.ops.Ops.fanOutForCompute(
        docs.select(col(textCol).as("__txt")), col("__txt"))
      .select(explode(split(lower(trim(col("__txt"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        concat_ws(" ", regexp_extract_all(col("word"), lit("."), lit(0))))

  /** Adjacent-pair frequencies over the current symbol sequences,
    * weighted by word freq: pairs built WITHIN each row (zip_with over
    * two slices — no window, no extra shuffle beyond the groupBy).
    */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val syms = split(col("syms"), " ")
    vocab
      .select(col("freq"), explode(zip_with(
        slice(syms, lit(1), size(syms) - 1),
        slice(syms, lit(2), size(syms) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("freq"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("freq")).as("w"))
  }

  /** Left-to-right non-overlapping merge of pair (a, b) -> a+b inside
    * a space-joined symbol string: a sequential fold (aggregate) whose
    * accumulator is the merged prefix. Non-overlap falls out of the
    * fold: once a pair merges, the accumulator's tail is a+b, which no
    * longer equals a, so the next element starts a fresh window —
    * exactly the reference algorithm's scan.
    */
  def mergeFold(symsCol: Column, a: String, b: String): Column = {
    val ab = a + b
    val aLen = a.length
    val syms = split(symsCol, " ")
    val endsWithA = (acc: Column) =>
      length(acc) > aLen &&
        acc.substr(length(acc) - lit(aLen), lit(aLen + 1)) === lit(" " + a)
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      element_at(syms, 1),
      (acc, x) =>
        when(x === lit(b) && (acc === lit(a) || endsWithA(acc)),
          when(acc === lit(a), lit(ab))
            .otherwise(concat(
              acc.substr(lit(1), length(acc) - lit(aLen + 1)),
              lit(" " + ab))))
          .otherwise(concat(acc, lit(" "), x)))
  }

  /** Train `nMerges` merges. Per iteration: one pair-count aggregate
    * over the (persisted) vocab, a 1-row driver collect, and a
    * projection applying the winning merge — the winner becomes plan
    * literals, so nothing about the merge list ever shuffles.
    * Returns the merges, each (step, a, b, weight); every vocab it
    * persisted is unpersisted before it returns.
    */
  def train(
      docs: DataFrame,
      textCol: String,
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var v = vocab(docs, textCol).persist()
    // v's parent stays cached until the next pair-count job, which reads
    // (and so materializes) v from it
    var parent: Option[DataFrame] = None
    var more = nMerges > 0
    while (more) {
      val top = pairCounts(v)
        .orderBy(col("w").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      parent.foreach(_.unpersist())
      more = top.nonEmpty // no pairs left (degenerate)
      if (more) {
        val (a, b, w) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((merges.size + 1, a, b, w))
        more = merges.size < nMerges
        if (more) {
          parent = Some(v)
          v = merge(v, a, b).persist()
        }
      }
    }
    v.unpersist()
    merges.toSeq
  }

  private def merge(v: DataFrame, a: String, b: String): DataFrame =
    v.withColumn("syms", mergeFold(col("syms"), a, b))

  /** The corpus vocabulary with `merges` applied in order: [[vocab]]
    * plus one merge-fold projection per merge.
    */
  def mergedVocab(
      docs: DataFrame,
      textCol: String,
      merges: Seq[(Int, String, String, Long)]): DataFrame =
    merges.foldLeft(vocab(docs, textCol)) { case (v, (_, a, b, _)) =>
      merge(v, a, b)
    }

  /** Apply trained merges back to the corpus: per-document token and
    * symbol counts via a broadcast join word -> n_syms against the
    * merged vocabulary (it is small; the corpus scans once, no shuffle
    * before the per-doc aggregate).
    */
  def applyCounts(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val perWord = mergedVocab(docs, textCol, merges).select(col("word"),
      size(split(col("syms"), " ")).cast("bigint").as("n_syms"))
    docs
      .select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(perWord), "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_syms")).as("n_bpe"))
  }
}
