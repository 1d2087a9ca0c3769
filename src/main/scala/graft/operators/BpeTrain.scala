package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge learning (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units" — the
  * public BPE algorithm every modern tokenizer vocabulary derives from):
  * learn the `numMerges` most frequent adjacent symbol pairs, each
  * chosen merge rewriting the vocabulary before the next count.
  *
  * Scale shape — the classic BPE factorization, plus incremental pair
  * counts (round 10): the corpus collapses ONCE to the distinct-word
  * frequency table (one shuffle; pair statistics are word-frequency-
  * weighted, so the iterations never touch the corpus again), and the
  * pair-frequency table is MAINTAINED across merges rather than
  * recounted — merging (l, r) only changes the pair profile of words
  * that contain (l, r) adjacent, so each iteration (a) filters the
  * vocabulary with a map-only contains predicate (no explode, no
  * shuffle of untouched words), (b) aggregates the ± pair deltas of
  * the touched words only, (c) folds them into the standing pair table
  * (a shuffle sized by the PAIR vocabulary, not the corpus's total
  * pair occurrences), and (d) takes the 1-row argmax — the merge
  * table IS a driver-side artifact, like every tokenizer vocabulary.
  * A 32k-merge production run therefore pays per merge for the pairs
  * it touches, not 32k full corpus recounts. Each iteration's
  * vocabulary and pair table are materialized and their predecessors
  * unpersisted, so lineage stays one step deep regardless of
  * `numMerges`.
  *
  * Determinism: ties on pair frequency break lexicographically (left
  * symbol, then right), so merge tables reproduce across runs,
  * partitionings, and engines — the same discipline as
  * [[Mixing]]'s hash ranking.
  */
object BpeTrain {

  /** End-of-word marker: keeps word-final subwords distinct from
    * word-internal ones (the Sennrich convention). */
  val EndOfWord = "</w>"

  /** Adjacent symbol pairs of a symbol array (empty below 2 symbols). */
  private def pairsOf(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(0), size(syms) - 2), i =>
        struct(element_at(syms, i + 1).as("left"),
          element_at(syms, i + 2).as("right"))))
      .otherwise(array().cast("array<struct<left:string,right:string>>"))

  /** Sentinel appended to every fold input: never a corpus symbol,
    * never a rule side — its only job is to flush the pending symbol
    * INSIDE the fold. NUL is NOT whitespace, so a corpus "\u0000"
    * WOULD survive the whitespace split — the flush branch would
    * silently swallow it while the native kernel keeps it, diverging
    * the two formulations the differential spec equates. Every BPE
    * text entry point therefore raises loudly on NUL via [[nulGuard]]
    * (the GraftFunctions.bpeEncode separator posture). */
  private val FlushSentinel = "\u0000"

  /** Loud NUL screen riding the referenced text column (branches
    * differ, so neither pruning class drops the raise — NOTES guard
    * taxonomy). */
  private def nulGuard(text: Column, where: String): Column =
    when(contains(text, lit("\u0000")), raise_error(lit(
      s"BpeTrain.$where: text contains U+0000 (reserved as the BPE " +
        "fold flush sentinel; NUL is not whitespace and survives " +
        "tokenization) — scrub NUL before BPE")).cast("string"))
      .otherwise(text)

  /** One merge rule applied to a symbol array — left-to-right,
    * non-overlapping, via a pending-symbol fold ("a a a" under (a,a)
    * becomes ["aa","a"], the BPE contract).
    *
    * The trailing-pend fix-up rides the fold itself via
    * [[FlushSentinel]] so the fold RESULT is referenced exactly once:
    * CollapseProject has no common-subexpression elimination (NOTES),
    * and the old 3-reference tail turned an 8-rule [[encode]] chain
    * into a 3⁸-node expression tree (measured: a 6-word encode spent
    * ~7 MINUTES in analysis/codegen; this form is milliseconds). */
  private[operators] def applyMerge(syms: Column, left: String,
      right: String): Column = {
    val zero = struct(array().cast("array<string>").as("out"),
      lit(null).cast("string").as("pend"))
    val folded = aggregate(concat(syms, array(lit(FlushSentinel))),
      zero, (st, s) => {
        val hit = st.getField("pend") === left && s === right
        struct(
          when(hit,
            concat(st.getField("out"), array(lit(left + right))))
            .otherwise(when(st.getField("pend").isNotNull,
              concat(st.getField("out"), array(st.getField("pend"))))
              .otherwise(st.getField("out"))).as("out"),
          when(hit || s === FlushSentinel, lit(null).cast("string"))
            .otherwise(s).as("pend"))
      })
    folded.getField("out")
  }

  /** The word-frequency vocabulary of `textCol` as symbol sequences:
    * (syms = chars + [[EndOfWord]], freq). Single-space lowercase
    * tokenization — the corpus contract shared with [[Chunking]] and
    * [[LineDedup]]. */
  def vocabulary(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(filter(split(lower(nulGuard(col(textCol),
        "vocabulary")), " "),
        w => length(w) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))),
        array(lit(EndOfWord))).as("syms"), col("freq"))

  /** Frequency-weighted adjacent-pair counts of a (syms, freq) table. */
  private def pairCounts(v: DataFrame): DataFrame = v
    .select(col("freq"), explode(pairsOf(col("syms"))).as("p"))
    .groupBy(col("p.left").as("left"), col("p.right").as("right"))
    .agg(sum("freq").as("pfreq"))

  /** Learn the top `numMerges` merge rules. Returns (rank, left, right,
    * freq), rank 1-based in merge order; stops early when no pair is
    * left to merge.
    *
    * Delta algebra (the incremental invariant, asserted by
    * BpeTrainSpec against a full recount): after merging (l, r),
    * `pc' = pc − pairs(touched) + pairs(merge(touched))` where
    * `touched` = words with (l, r) adjacent — untouched words have
    * identical pair profiles before and after, so their terms cancel
    * exactly. Counts are exact longs; pairs whose count reaches zero
    * are dropped (a surviving zero-count row could win a late argmax). */
  def learnMerges(df: DataFrame, textCol: String, numMerges: Int)
      : DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    // vocab and pc feed MULTIPLE consumers per iteration (touched /
    // untouched / delta), so a cache alone leaves the logical plan
    // doubling per iteration — localCheckpoint truncates it (the
    // Graph.pageRank discipline; state is small (syms, freq) /
    // (left, right, pfreq) rows)
    var vocab = vocabulary(df, textCol).localCheckpoint()
    var pc = pairCounts(vocab).localCheckpoint()
    val merges = ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = pc
        .orderBy(col("pfreq").desc, col("left").asc, col("right").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, f) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, f))
        // map-only containment predicate — untouched words are never
        // exploded, re-counted, or rewritten
        val hit = array_contains(pairsOf(col("syms")),
          struct(lit(l).as("left"), lit(r).as("right")))
        val touched = vocab.filter(hit)
        val rewritten = touched
          .select(applyMerge(col("syms"), l, r).as("syms"), col("freq"))
        val delta = pairCounts(rewritten).union(
          pairCounts(touched)
            .select(col("left"), col("right"), (-col("pfreq")).as("pfreq")))
        pc = pc.union(delta)
          .groupBy("left", "right").agg(sum("pfreq").as("pfreq"))
          .filter(col("pfreq") > 0)
          .localCheckpoint()
        // union CONCATENATES partition lists (untouched N + touched N),
        // and nothing downstream reshuffles vocab — without the narrow
        // coalesce back to the incoming count the partition total
        // DOUBLES per merge (2^k growth: by merge ~15 a stage carries
        // ~100k near-empty tasks and scheduling dwarfs the work)
        val nPart = vocab.rdd.getNumPartitions
        vocab = vocab.filter(!hit).union(rewritten)
          .coalesce(nPart).localCheckpoint()
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "freq")
  }

  /** Encode `textCol`'s words with an ORDERED merge list (the
    * driver-side artifact [[learnMerges]] produces): applies rules in
    * rank order — the standard BPE encode. Returns the input plus a
    * `syms` array column. Plan depth grows with the rule count; encode
    * with the learned table, not with thousands of speculative rules. */
  def encode(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    df.withColumn("syms",
      graft.functions.GraftFunctions.bpeEncode(
        lower(nulGuard(col(textCol), "encode")), merges))
  }

  /** The HOF-fold formulation of [[encode]] — kept as the independent
    * reference the differential spec checks the native kernel against
    * (the AsOfJoin.windowed role). Expression tree is linear in the
    * rule count since the round-12 applyMerge fix, but the interpreted
    * array churn still costs ~50× the kernel: reference only. */
  private[operators] def encodeReference(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = filter(split(lower(nulGuard(col(textCol),
      "encodeReference")), " "), w => length(w) > 0)
    val enc = transform(words, w => merges.foldLeft(
      concat(transform(sequence(lit(1), length(w)),
        i => w.substr(i, lit(1))), array(lit(EndOfWord)))) {
      case (acc, (l, r)) => applyMerge(acc, l, r)
    })
    df.withColumn("syms", flatten(enc))
  }
}
