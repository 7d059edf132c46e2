package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding tokenizer TRAINING at corpus scale (Sennrich,
 * Haddow & Birch 2016 — the subword-vocabulary induction step every
 * LLM-pretraining pipeline runs before token counting; no reference
 * analog, part of graft's training-data surplus).
 *
 * The classic formulation trains on the WORD-FREQUENCY DICTIONARY, not
 * the raw corpus: the corpus shuffles exactly once (a word count whose
 * result is vocabulary-bounded), and every merge round after that runs
 * on the distinct-word table — millions of rows at 100 TB, not
 * billions. Each round is one pair-count aggregate over the dictionary
 * (map-side partial), a one-row argmax collect, and a codegen'd
 * left-to-right fold that applies the merge inside each word's symbol
 * array. Driver state is one (left, right) pair per round.
 *
 * Determinism: ties on pair frequency break lexicographically, so the
 * learned merge table is a pure function of the corpus.
 */
object Bpe {

  /** end-of-word marker (Sennrich's `</w>`): merges cannot cross word
    * boundaries and a trailing symbol is distinct from an interior one */
  val Eow = "</w>"

  /** Train `merges` BPE merge rules over the corpus.
    *
    * After the ONE corpus-scale word count, the dictionary is
    * vocabulary-bounded — when it fits under
    * [[graft.ops.Placement.BpeDict]] distinct words, the merge loop
    * runs DRIVER-LOCAL with incremental pair-count updates (the classic
    * trainer loop: one argmax scan + delta updates on the words that
    * contain the merged pair, what subword-nmt does) — a real 32k-merge
    * vocabulary is 32k driver rounds over an in-memory dict, not 32k
    * Spark jobs. Past the threshold the distributed per-round aggregate
    * below runs instead; BpeSpec proves both paths produce the identical
    * merge table.
    *
    * @return (rank INT 0.., left, right, merged, pairCount LONG) — the
    *         merge table, highest-frequency pair first
    */
  def train(df: DataFrame, merges: Int, textCol: String = "text",
      lowercase: Boolean = true): DataFrame = {
    require(merges >= 1, s"need merges >= 1: $merges")
    val spark = df.sparkSession
    import spark.implicits._
    val base = if (lowercase) lower(col(textCol)) else col(textCol)
    // the ONE corpus-scale pass: word frequencies (vocabulary-bounded)
    val dict0 = df
      .select(explode(TextFunctions.tokens(base)).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cnt"))
      // initial symbols = characters, with the end-of-word marker
      .select(col("__cnt"),
        concat(split(col("__w"), ""), array(lit(Eow))).as("__s"))
    for (rows <- graft.ops.Placement.local(dict0, graft.ops.Placement.BpeDict))
      return localTrain(spark,
        rows.map(r => (r.getLong(0), r.getSeq[String](1).toArray)), merges)
    var words = dict0.localCheckpoint(false)
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    while (rank < merges) {
      // adjacent symbol pairs weighted by word count; zip_with over the
      // array and its tail keeps this a narrow map before the aggregate
      val best = words
        .select(col("__cnt"), explode(zip_with(
          slice(col("__s"), lit(1), size(col("__s")) - 1),
          slice(col("__s"), lit(2), size(col("__s")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("__cnt")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) rank = merges // dictionary fully merged
      else {
        val (l, r, n) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        val m = l + r
        out += ((rank, l, r, m, n))
        // leftmost-first non-overlapping merge: left fold over symbols
        val merged = aggregate(col("__s"),
          array().cast("array<string>"),
          (acc, s) => when(size(acc) > 0 &&
              element_at(acc, -1) === l && s === r,
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
            .otherwise(concat(acc, array(s))))
        words = words.select(col("__cnt"), merged.as("__s"))
          .localCheckpoint(false)
        rank += 1
      }
    }
    out.result().toDF("rank", "left", "right", "merged", "pairCount")
  }

  /** The classic driver-local merge loop over the collected dictionary:
    * exact pair counts maintained incrementally (remove a changed word's
    * pair contributions, merge in place, re-add), a lazily-pruned
    * pair→words index, and the same (count desc, left asc, right asc)
    * argmax and leftmost-non-overlapping merge walk as the distributed
    * fold — the two paths are bit-identical by construction. */
  private def localTrain(spark: org.apache.spark.sql.SparkSession,
      words: Array[(Long, Array[String])], merges: Int): DataFrame = {
    import spark.implicits._
    import scala.collection.mutable
    val cnts = words.map(_._1)
    val syms = words.map(w => mutable.ArrayBuffer.from(w._2))
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def touch(i: Int, sign: Long, index: Boolean): Unit = {
      val s = syms(i); val c = cnts(i) * sign
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val n = pairCount.getOrElse(p, 0L) + c
        if (n == 0L) pairCount.remove(p) else pairCount(p) = n
        if (index) pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += i
        j += 1
      }
    }
    var i = 0
    while (i < words.length) { touch(i, 1L, index = true); i += 1 }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    while (rank < merges && pairCount.nonEmpty) {
      var bestP: (String, String) = null
      var bestN = 0L
      pairCount.foreach { case (p, n) =>
        if (bestP == null || n > bestN || (n == bestN &&
            (p._1 < bestP._1 || (p._1 == bestP._1 && p._2 < bestP._2)))) {
          bestP = p; bestN = n
        }
      }
      val (l, r) = bestP
      val m = l + r
      out += ((rank, l, r, m, bestN))
      // stale index entries (words whose pair was merged away earlier)
      // fall out here: the exact pairCount said the pair still exists
      // somewhere, and re-adding re-indexes under the new symbols
      pairWords.remove(bestP).foreach(_.foreach { w =>
        val s = syms(w)
        var has = false
        var j = 0
        while (!has && j < s.length - 1) {
          has = s(j) == l && s(j + 1) == r; j += 1
        }
        if (has) {
          touch(w, -1L, index = false)
          val merged = new mutable.ArrayBuffer[String](s.length)
          s.foreach { sym =>
            if (merged.nonEmpty && merged.last == l && sym == r)
              merged(merged.length - 1) = m
            else merged += sym
          }
          syms(w) = merged
          touch(w, 1L, index = true)
        }
      })
      rank += 1
    }
    out.result().toDF("rank", "left", "right", "merged", "pairCount")
  }

  /** First-round adjacent character-pair statistics (the argmax input of
    * merge 0) — exactly replayable relationally, so this is the oracle
    * window into [[train]]'s loop. Includes the end-of-word marker pair.
    *
    * @return (l, r, n LONG) for the `k` most frequent pairs (ties broken
    *         lexicographically, like the trainer)
    */
  def pairStats(df: DataFrame, k: Int, textCol: String = "text",
      lowercase: Boolean = true): DataFrame = {
    val base = if (lowercase) lower(col(textCol)) else col(textCol)
    df.select(explode(TextFunctions.tokens(base)).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cnt"))
      .select(col("__cnt"),
        concat(split(col("__w"), ""), array(lit(Eow))).as("__s"))
      .select(col("__cnt"), explode(zip_with(
        slice(col("__s"), lit(1), size(col("__s")) - 1),
        slice(col("__s"), lit(2), size(col("__s")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("__p"))
      .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
      .agg(sum(col("__cnt")).as("n"))
      .orderBy(col("n").desc, col("l").asc, col("r").asc)
      .limit(k)
  }

  /** Segment `textCol` with a learned merge table: applies the merges in
    * rank order inside each word — the encode side of [[train]] (useful
    * for token-count estimates with the induced vocabulary). The merge
    * table is collected (merges are by construction a small driver-side
    * artifact) and the folds compose as one codegen'd expression chain.
    *
    * @return input + `tokensCol` ARRAY<STRING> of subword units
    */
  def encode(df: DataFrame, mergeTable: Seq[(String, String)],
      textCol: String = "text", tokensCol: String = "bpe",
      lowercase: Boolean = true): DataFrame = {
    val base = if (lowercase) lower(col(textCol)) else col(textCol)
    def applyMerge(sym: Column, l: String, r: String): Column =
      aggregate(sym, array().cast("array<string>"),
        (acc, s) => when(size(acc) > 0 &&
            element_at(acc, -1) === l && s === r,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(s))))
    def encodeWord(w: Column): Column = {
      val init = concat(split(w, ""), array(lit(Eow)))
      mergeTable.foldLeft(init) { case (sym, (l, r)) => applyMerge(sym, l, r) }
    }
    df.withColumn(tokensCol,
      flatten(transform(TextFunctions.tokens(base), encodeWord(_))))
  }
}
