package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination (training-data pipeline): find corpus
  * documents sharing word n-grams with a benchmark/eval set — the
  * standard "13-gram collision" test-set-leakage check, parameterized.
  *
  * Two tiers:
  *  - [[overlap]]: joins on the n-gram STRINGS. The bench side of a
  *    decontamination run is small (an eval suite), so it broadcasts and
  *    the corpus-side strings never shuffle at all.
  *  - [[overlapHashed]]: joins on `xxhash64` of the n-gram — the shape for
  *    a big bench side, where the shuffle must carry 8-byte keys, not
  *    n-gram strings. Collision probability at 64 bits is negligible for
  *    any real corpus (~1e-8 at a billion distinct n-grams); the spec
  *    asserts equivalence with the string path on real data.
  */
object Decontam {

  /** Distinct word n-grams of a text column; single-space tokenization so
    * the DuckDB oracle (`string_split`) matches exactly. Documents shorter
    * than `n` tokens contribute nothing. The text is split once and the
    * n-grams come from one [[graft.functions.WordNgrams]] pass over that
    * array. */
  def ngrams(text: Column, n: Int): Column = {
    val toks = split(lower(text), " ")
    array_distinct(when(size(toks) >= n,
      graft.functions.GraftFunctions.wordNgrams(toks, n))
      .otherwise(array().cast("array<string>")))
  }

  /** (doc_id, n_overlap): distinct n-grams of each corpus doc that also
    * appear anywhere in `bench`. Docs with zero overlap are absent. */
  def overlap(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    val c = corpus.select(col(idCol).as("doc_id"),
      explode(ngrams(col(textCol), n)).as("ng"))
    val b = bench.select(explode(ngrams(col(textCol), n)).as("ng")).distinct()
    // per-doc n-grams and the bench set are both distinct, so each
    // (doc_id, ng) joins at most once: count(*) IS the distinct overlap
    c.join(broadcast(b), Seq("ng"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
  }

  /** Join-free decontamination via a Bloom filter
    * ([[graft.functions.BloomAgg]]): the bench n-gram set compresses to
    * `mBits` bits that broadcast to every executor, so probing the corpus
    * is a MAP-ONLY scan — no corpus-side shuffle at all, the shape for a
    * 100 TB corpus where even 8-byte hashed-join keys are too much
    * traffic. Returns (doc_id, n_ngrams, n_flagged, contaminated); the
    * flag is one-sided — `contaminated = false` is certain, `true` may
    * include Bloom false positives (fp ≈ (1−e^(−k·n/m))^k; size mBits ≥
    * 15–20 bits per bench n-gram for ~1e-4). Docs shorter than `n`
    * tokens carry no n-grams and drop out, like [[overlap]]. */
  def bloomDecontam(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5, mBits: Int = 1 << 20, k: Int = 3)
      : DataFrame = {
    import graft.functions.GraftFunctions
    val bf = bench
      .select(explode(ngrams(col(textCol), n)).as("ng")).distinct()
      .agg(GraftFunctions.bloomAgg(col("ng"), mBits, k).as("bf"))
    val c = corpus.select(col(idCol).as("doc_id"),
      explode(ngrams(col(textCol), n)).as("ng"))
    // 1-row filter side: broadcast nested-loop, zero corpus movement
    c.join(broadcast(bf))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(GraftFunctions.bloomContains(
          col("bf"), col("ng"), mBits, k), 1L).otherwise(0L))
          .as("n_flagged"))
      .withColumn("contaminated", col("n_flagged") > 0L)
  }

  /** Embedding-space decontamination — the SEMANTIC tier the n-gram
    * forms can't see (a paraphrased eval question shares no 5-gram with
    * its source; SemDeDup, Abbas et al. 2023, applies the same
    * cosine-threshold rule across sets): flag corpus vectors whose
    * cosine to ANY bench vector reaches `threshold`.
    *
    * Scale shape: the bench side collapses to ONE row (an eval suite is
    * thousands of vectors, not billions) that broadcasts to every
    * executor, and the per-row max-cosine fold runs INSIDE the corpus
    * scan — map-only, no corpus-side shuffle, same posture as
    * [[bloomDecontam]]. A bench too large for one broadcast row belongs
    * in [[graft.operators.AnnSearch]] bucketed search instead.
    *
    * Returns (idCol, contaminated) for every corpus row. Verdicts are
    * exact (brute-force over the bench, no LSH recall loss); the cosine
    * itself is float arithmetic, so gate on the BOOLEAN at a threshold
    * the fixture keeps far from any real pair (see the driver gate). */
  def semanticOverlap(corpus: DataFrame, bench: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    import graft.functions.GraftFunctions
    val benchRow = bench.agg(collect_list(col(vecCol)).as("__bvecs"))
    corpus.select(col(idCol), col(vecCol).as("__v"))
      .join(broadcast(benchRow))
      .select(col(idCol),
        exists(col("__bvecs"),
          b => GraftFunctions.cosineSim(col("__v"), b) >= threshold)
          .as("contaminated"))
  }

  /** [[bloomDecontam]] keyed on 64-bit n-gram hashes — the REAL 100 TB
    * shape: the native `ngram_hashes` kernel hashes byte ranges of the
    * text (no token arrays, no n-gram strings materialized — profiling
    * showed string materialization was 6.4 of the string tier's 10 s/SF),
    * and membership bits remix the long directly ([[graft.functions
    * .BloomLong]]). Map-only probe, broadcast filter, corpus never
    * shuffles. Same output columns as [[bloomDecontam]]; verdicts differ
    * only in WHICH false positives the filter admits (different bit
    * recipe) — the spec pins one-sidedness and large-filter agreement
    * with the exact join. */
  def bloomDecontamHashed(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5, mBits: Int = 1 << 20, k: Int = 3)
      : DataFrame = {
    import graft.functions.GraftFunctions
    val hashes = GraftFunctions.ngramHashes(lower(col(textCol)), n)
    val bf = bench.select(explode(hashes).as("ngh")).distinct()
      .agg(GraftFunctions.bloomAgg(col("ngh"), mBits, k).as("bf"))
    val c = corpus.select(col(idCol).as("doc_id"),
      explode(hashes).as("ngh"))
    c.join(broadcast(bf))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(GraftFunctions.bloomContains(
          col("bf"), col("ngh"), mBits, k), 1L).otherwise(0L))
          .as("n_flagged"))
      .withColumn("contaminated", col("n_flagged") > 0L)
  }

  /** Same result keyed on 64-bit n-gram hashes — the large-bench AND
    * large-corpus shape: the native [[graft.functions.NgramHashes]]
    * kernel hashes each n-gram as a byte range of the text, so the scan
    * materializes no token arrays and no n-gram strings, and the join
    * carries 8-byte keys. Spec-checked equivalent to [[overlap]]. */
  def overlapHashed(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    // unbound column — resolves against whichever frame selects it
    val hashes = graft.functions.GraftFunctions
      .ngramHashes(lower(col(textCol)), n)
    val c = corpus.select(col(idCol).as("doc_id"),
      explode(hashes).as("ngh"))
    val b = bench.select(explode(hashes).as("ngh")).distinct()
    c.join(b, Seq("ngh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
  }
}
