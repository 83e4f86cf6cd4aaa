package graft.export

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus export: write a cleaned dataset as sharded JSONL with
  * controlled shard sizes — the delivery end of a training-data
  * pipeline (downstream loaders want many same-sized shards, not one
  * file per reducer of whatever size the last shuffle produced).
  *
  * Shard-size control uses `maxRecordsPerFile` (per-writer-task file
  * rolling — no extra shuffle) plus an optional `repartition(n)` to
  * bound the file COUNT; both are plain Spark mechanisms that behave
  * identically on a 1000-executor cluster. Hive-style `partitionBy`
  * (e.g. by language) gives partition-pruned reads back.
  */
object CorpusExport {

  def writeJsonlShards(
      df: DataFrame,
      path: String,
      maxRecordsPerShard: Long,
      partitionByCols: Seq[String] = Nil,
      numTasks: Option[Int] = None,
      compression: String = "gzip"): Unit = {
    val shaped = numTasks.map(df.repartition).getOrElse(df)
    val writer = shaped.write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerShard)
      .option("compression", compression)
    (if (partitionByCols.nonEmpty) writer.partitionBy(partitionByCols: _*)
     else writer).json(path)
  }

  /** Deterministic weighted interleave of several corpora (e.g. 3
    * parts web : 1 part code): each row gets a seeded pseudo-uniform
    * position in [0,1) scaled DOWN by its source's weight, and the mix
    * is the global sort by that position — so any prefix of the output
    * approximates the target ratios (until a lighter source exhausts).
    * Fully distributed: the sort is an ordinary range-partitioned
    * TakeOrdered-style exchange; no per-source global row numbering
    * (which would funnel each corpus through one partition).
    */
  def weightedInterleave(
      sources: Seq[(DataFrame, Int)],
      seed: Long = 42L): DataFrame = {
    require(sources.nonEmpty && sources.forall(_._2 > 0),
      "weightedInterleave: positive weights required")
    val tagged = sources.zipWithIndex.map { case ((df, w), i) =>
      // uniform in [0,1) from a seeded row hash, then density-scaled:
      // weight w packs w rows per unit position -> prefix ratio ~ w
      val u = (pmod(xxhash64(to_json(struct(df.columns.map(col): _*)),
        lit(seed), lit(i)), lit(1000000007L)).cast("double") / 1000000007.0)
      df.withColumn("__src", lit(i)).withColumn("__pos", u / w)
    }
    tagged.reduce(_ unionByName _)
      .orderBy(col("__pos"), col("__src"))
      .drop("__src", "__pos")
  }
}
