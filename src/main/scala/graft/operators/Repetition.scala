package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repetition / duplication quality signals over a text corpus — the
  * Gopher-style "repetitious document" filters and the RefinedWeb-style
  * corpus-level duplicated-span fraction every LLM data pipeline applies
  * before training.
  *
  * Scale shapes:
  *  - [[signals]]: ONE map-only projection over the scan — every
  *    statistic (duplicate fractions AND the top-bigram share) comes
  *    from the [[graft.functions.NgramRepStats]] kernel; no gram
  *    string, no explode, no shuffle.
  *  - [[dupSpanFraction]]: runs on the native
  *    [[graft.functions.NgramHashes]] byte-range kernel (the
  *    decontamination kernel) — spans shuffle as 8-byte hashes, text
  *    never leaves the scan.
  */
object Repetition {

  /** Within-doc repetition signals per doc:
    *  - `dup_bigram_frac` / `dup_trigram_frac`: fraction of the doc's
    *    n-grams that repeat an earlier n-gram (1 − distinct/total);
    *  - `top_bigram_frac`: share of the single most frequent bigram;
    *  - `keep`: both configured thresholds respected — the filter bit a
    *    pipeline anti-joins on.
    *
    * One projection over the scan: every statistic comes from the
    * [[graft.functions.NgramRepStats]] kernel's [total, distinct,
    * maxRun] triple — no gram string, no explode, no shuffle (the
    * explode+groupBy mode formulation measured ~10 s at sf0.1; the
    * kernel runs the query sub-second). */
  def signals(df: DataFrame, idCol: String, textCol: String,
      maxDupBigramFrac: Double = 0.3, maxTopBigramFrac: Double = 0.2)
      : DataFrame = {
    def stats(n: Int) = graft.functions.GraftFunctions
      .ngramRepStats(lower(col(textCol)), n)
    def dupFrac(s: Column): Column =
      when(element_at(s, 1) > 0,
        round(lit(1) - element_at(s, 2).cast("double") / element_at(s, 1), 6))
        .otherwise(lit(0.0))
    def topFrac(s: Column): Column =
      when(element_at(s, 1) > 0,
        round(element_at(s, 3).cast("double") / element_at(s, 1), 6))
        .otherwise(lit(0.0))
    df.select(col(idCol).as("doc_id"), stats(2).as("__s2"),
        stats(3).as("__s3"))
      .select(col("doc_id"),
        dupFrac(col("__s2")).as("dup_bigram_frac"),
        dupFrac(col("__s3")).as("dup_trigram_frac"),
        topFrac(col("__s2")).as("top_bigram_frac"))
      .withColumn("keep",
        col("dup_bigram_frac") <= maxDupBigramFrac &&
          col("top_bigram_frac") <= maxTopBigramFrac)
  }

  /** Corpus-level duplicated-span REMOVAL — the transform behind the
    * [[dupSpanFraction]] signal (the exact-substring dedup of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * at token granularity): every occurrence of an `n`-token span that
    * appears in more than one document is deleted from every document
    * except the one with the smallest id containing it (one surviving
    * copy corpus-wide), and documents are reassembled from their
    * remaining tokens. Documents shorter than `n` tokens pass through
    * unchanged. Returns (idCol, clean_text, n_tokens, n_removed) where
    * `clean_text` re-joins kept tokens with single spaces and
    * `n_removed` counts deleted token positions (overlapping duplicated
    * spans union their coverage).
    *
    * Scale shape: span hashes are built in one map-only projection and
    * explode as (doc_id, pos, hash) — text never enters the frequency
    * shuffle. The survivor/count aggregate and the coverage explode
    * carry ids, ints, and hashes only; full documents ride exactly one
    * id-keyed join against the per-doc removal sets (only docs that
    * LOSE spans appear there, so AQE broadcasts it on real corpora
    * where duplication is sparse) and are rewritten in a final
    * projection.
    *
    * Tokenization is `\s+` (runs of any whitespace), matching the driver
    * oracle's `regexp_split_to_array(..., '\s+')` — a superset of the
    * single-space contract the [[graft.functions.NgramHashes]] kernel
    * behind [[dupSpanFraction]] uses; identical on corpora whose
    * whitespace is single spaces (this testdata).
    *
    * @param hasher span-string → hash column. The default xxhash64 is
    *               the production posture (8-byte shuffle keys); pass
    *               `md5` when the removal set must be reproducible
    *               outside the JVM (the driver oracle does). Results
    *               are hash-agnostic short of collisions. */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, hasher: Column => Column = xxhash64(_)): DataFrame = {
    require(n >= 2, s"span length must be >= 2 tokens, got $n")
    val base = df.select(col(idCol),
      split(lower(col(textCol)), "\\s+").as("__tk"))
    // sequence(0, size-n) flips to a DESCENDING range when size < n —
    // short docs must be filtered out before the positions materialize
    val spans = base.filter(size(col("__tk")) >= n)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("__tk")) - n),
        i => hasher(concat_ws(" ", slice(col("__tk"), i + 1, lit(n)))))))
      .withColumnRenamed("pos", "__p")
      .withColumnRenamed("col", "__h")
    // survivor + document frequency per span: distinct (doc, hash) first,
    // so within-doc repeats don't inflate the cross-doc count
    val dup = spans.select(col(idCol), col("__h")).distinct()
      .groupBy("__h")
      .agg(min(col(idCol)).as("__keeper"), count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1)
    val removal = spans.join(dup, "__h")
      .filter(col(idCol) =!= col("__keeper"))
      .select(col(idCol),
        explode(sequence(col("__p"), col("__p") + (n - 1))).as("__rp"))
      .groupBy(idCol)
      .agg(collect_set(col("__rp")).as("__rm"))
    // rewrite: docs with no removal set (the vast majority on a real
    // corpus) pass through untouched; losers run the purge_positions
    // kernel — one O(tokens + removed) two-pointer merge per doc (the
    // per-token array_contains form was O(tokens × removed), quadratic
    // in doc length for boilerplate-heavy docs)
    base.join(removal, Seq(idCol), "left")
      .select(col(idCol),
        concat_ws(" ", when(col("__rm").isNull, col("__tk"))
          .otherwise(graft.functions.GraftFunctions.purgePositions(
            col("__tk"), sort_array(col("__rm")))))
          .as("clean_text"),
        size(col("__tk")).as("n_tokens"),
        when(col("__rm").isNull, 0).otherwise(size(col("__rm")))
          .as("n_removed"))
  }

  /** Corpus-level duplicated-span fraction per doc: the share of a doc's
    * distinct `n`-token spans that appear in at least one OTHER doc.
    * Docs shorter than `n` tokens emit no row (they have no spans).
    * Per-doc spans are distinct (kernel contract, same one
    * [[Decontam.overlapHashed]] relies on), so the per-hash group count
    * IS the number of docs containing the span — no distinct aggregate
    * needed. */
  def dupSpanFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val spans = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.GraftFunctions.ngramHashes(
        lower(col(textCol)), n)).as("h"))
    val docsPerSpan = spans.groupBy("h").agg(count(lit(1)).as("nd"))
    spans.join(docsPerSpan, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd") > 1, 1).otherwise(0)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6)
          .as("dup_span_frac"))
  }
}
