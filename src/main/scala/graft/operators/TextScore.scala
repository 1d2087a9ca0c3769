package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical text quality scoring — the CCNet-style language-model
  * filter of corpus assembly: score each document by its mean token
  * surprisal under a unigram model of the corpus itself, then threshold
  * or bucket on the score (gibberish and boilerplate sit in the tails;
  * typical prose in the middle).
  *
  * Scale shape: one token-count aggregate (shuffle key = token, the
  * classic word-count), one single-row global-stats broadcast, and one
  * token→count join whose shuffle carries (doc id, token) pairs —
  * nothing else. At 100 TB the count table is itself large but
  * id+count-shaped; a production variant hashes tokens to 8-byte keys
  * (exactly the [[Decontam]] tier) — kept as strings here so the DuckDB
  * oracle reproduces the score bit-for-bit.
  */
object TextScore {

  /** Compressibility quality signal (Gopher-class filter): deflated/raw
    * byte ratio per doc — template spam deflates to almost nothing,
    * hash dumps and noise barely deflate, prose sits in a stable mid
    * band; `flagLow`/`flagHigh` bound the keep band. The band is
    * LENGTH-SENSITIVE: short documents carry fixed deflate overhead
    * (measured: 600-byte prose ≈ 0.59, corpus-median 306-byte docs span
    * 0.39-0.91), so the defaults flag only unambiguous extremes —
    * template repetition (< 0.3) and base64/binary-dump content
    * (> 0.7); tune per corpus for tighter bands on long documents.
    * Map-only over the scan (native [[graft.functions.DeflateLen]]
    * kernel, one ThreadLocal deflater per executor thread) — at 100 TB
    * this costs one pass of CPU, zero shuffle. */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String,
      flagLow: Double = 0.3, flagHigh: Double = 0.7): DataFrame = {
    df.select(col(idCol),
        octet_length(col(textCol)).as("n_bytes"),
        graft.functions.GraftFunctions.deflateLen(col(textCol))
          .as("n_deflated"))
      .withColumn("ratio",
        col("n_deflated").cast("double") / col("n_bytes"))
      .withColumn("too_repetitive", col("ratio") < flagLow)
      .withColumn("too_random", col("ratio") > flagHigh)
  }

  /** Per-doc mean unigram surprisal `avg(-ln p(tok))` with add-alpha
    * smoothing `p = (c + α) / (T + α·V)` over corpus counts c, total
    * tokens T, vocabulary size V. Returns (idCol, n_tokens,
    * avg_surprisal): lower = more typical of the corpus. */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, "smoothing alpha must be positive")
    // same tokenizer as the vocabulary/encode contract (one definition)
    val toks = df.select(col(idCol),
        explode(Tokenize.tokenCol(textCol)).as("tok"))
      .filter(col("tok") =!= "")
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val global = counts.agg(sum("c").cast("double").as("total"),
      count(lit(1)).cast("double").as("v"))
    toks.join(counts, "tok")
      .crossJoin(broadcast(global))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log((col("c") + alpha)
          / (col("total") + lit(alpha) * col("v")))), 6).as("avg_surprisal"))
  }

  /** Per-doc token-distribution diagnostics: Shannon entropy of the
    * doc's own token frequencies plus type/token ratio — the two
    * degenerate-text tells ([[compressionRatio]]'s model-free cousins):
    * low entropy = a few tokens dominate (keyword stuffing, boilerplate),
    * low TTR = small vocabulary for the length.
    *
    * Entropy uses the factored form `H = ln n − (Σ c·ln c)/n`, which
    * needs only per-(doc, token) counts and ONE per-doc aggregate — no
    * join back against a per-doc total. Every input to the closed form
    * is an exact integer count, so the doubles are a fixed IEEE tree per
    * doc (the [[graft.operators.Regression]] discipline); `H` is still
    * rounded at 6dp because Σ c·ln c is a float sum whose order varies
    * with partitioning (ln outputs are off the decimal grid, so 6dp
    * absorbs it — the avg-surprisal precedent). TTR ships raw: one
    * integer division, bit-identical anywhere.
    *
    * Returns (idCol, n_tokens, n_types, ttr, entropy). */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = df.select(col(idCol),
        explode(Tokenize.tokenCol(textCol)).as("tok"))
      .filter(col("tok") =!= "")
    toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("__s"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        round(log(col("n_tokens").cast("double"))
          - col("__s") / col("n_tokens").cast("double"), 6).as("entropy"))
  }

  /** Per-doc mean INTERPOLATED bigram surprisal — the next LM-filter rung
    * above [[unigramSurprisal]] (word-order sensitivity: shuffled prose
    * scores like gibberish under a bigram model but identically under a
    * unigram one):
    * `avg(-ln(λ·p(cur|prev) + (1−λ)·p(cur)))` over a doc's bigrams, with
    * add-α conditionals `p(cur|prev) = (c(prev,cur)+α)/(c(prev)+α·V)`.
    * Default λ = 0.75 deliberately: its complement 0.25 is exact in
    * binary, so an external oracle writing `1 - λ` or `0.25` gets the
    * identical double (λ = 0.7 would leave 1−λ = 0.30000000000000004 vs
    * a literal 0.3 mismatch).
    *
    * Scale shape: bigrams are built POSITIONALLY from each doc's token
    * array (one projection + explode — no window, no self-join), then
    * one bigram-count aggregate and three count joins whose shuffles
    * carry (doc, token-ish string) pairs; same hashed-key production
    * tier as the unigram form. Docs with fewer than two tokens have no
    * bigrams and drop out (the oracle does the same).
    *
    * Returns (idCol, n_bigrams, avg_bigram_surprisal). */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5, lambda: Double = 0.75): DataFrame = {
    require(alpha > 0, "smoothing alpha must be positive")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0,1]")
    val tk = filter(Tokenize.tokenCol(textCol), t => t =!= "")
    // (doc, prev, cur) rows — sequence(2, n) flips descending when n < 2,
    // so short docs are filtered BEFORE the sequence builds
    val bi = df.select(col(idCol), tk.as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(2, size(__tk)), " +
          "i -> struct(element_at(__tk, i - 1) AS prev, " +
          "element_at(__tk, i) AS cur))")).as("bg"))
      .select(col(idCol), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val toks = df.select(col(idCol),
        explode(Tokenize.tokenCol(textCol)).as("tok"))
      .filter(col("tok") =!= "")
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("cu"))
    val big = bi.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    val global = uni.agg(sum("cu").cast("double").as("total"),
      count(lit(1)).cast("double").as("v"))
    val pCond = (col("cb") + alpha) /
      (col("c_prev") + lit(alpha) * col("v"))
    val pUni = (col("c_cur") + alpha) /
      (col("total") + lit(alpha) * col("v"))
    bi.join(big, Seq("prev", "cur"))
      .join(uni.select(col("tok").as("prev"), col("cu").as("c_prev")), "prev")
      .join(uni.select(col("tok").as("cur"), col("cu").as("c_cur")), "cur")
      .crossJoin(broadcast(global))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(lit(lambda) * pCond + lit(1 - lambda) * pUni)), 6)
          .as("avg_bigram_surprisal"))
  }

  /** Kneser–Ney smoothed bigram language-model surprisal (round 10) —
    * the industry-standard n-gram smoothing (Kneser & Ney 1995, the
    * KenLM default) as a corpus-quality scorer: unlike
    * [[bigramSurprisal]]'s additive/interpolated smoothing, absolute
    * discounting reserves mass via the DISCOUNT and backs off to the
    * CONTINUATION distribution (how many distinct contexts a word
    * follows, not how often it occurs) — "francisco" is frequent but
    * follows only "san", so KN correctly scores it unlikely elsewhere.
    *
    *   P(w|v) = max(c(v,w) − D, 0)/c(v) + D·N1+(v,·)/c(v) · P_cont(w)
    *   P_cont(w) = N1+(·,w) / N1+(··)
    *
    * Trained and scored on the SAME corpus here (the self-perplexity /
    * outlier-detection use; every scored bigram exists in the model so
    * no OOV branch). Scale shape: one positional bigram explode, pair
    * counts, then three VOCAB-sized aggregates off the pair-TYPE table
    * (c(v) and N1+(v,·) by prev, N1+(·,w) by cur, 1-row N1+(··)) and
    * count joins back onto doc bigrams — the [[bigramSurprisal]] cost
    * class exactly. Per-bigram P is a fixed chain of IEEE ops over
    * exact longs (identical both engines); the per-doc AVERAGE is
    * order-summed, so it ships rounded 6dp.
    *
    * Returns (idCol, n_bigrams, avg_kn_surprisal); docs with < 2
    * tokens have no bigrams and drop out (oracle mirrors). */
  def knBigramSurprisal(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0,1)")
    val tk = filter(Tokenize.tokenCol(textCol), t => t =!= "")
    val bi = df.select(col(idCol), tk.as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(2, size(__tk)), " +
          "i -> struct(element_at(__tk, i - 1) AS prev, " +
          "element_at(__tk, i) AS cur))")).as("bg"))
      .select(col(idCol), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val big = bi.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy("prev")
      .agg(sum("cb").as("cv"), count(lit(1)).as("n1v"))
    val cont = big.groupBy("cur").agg(count(lit(1)).as("n1w"))
    val types = big.agg(count(lit(1)).as("n1t"))
    val d = lit(discount)
    val pKn = greatest(col("cb") - d, lit(0.0)) / col("cv") +
      d * col("n1v") / col("cv") * (col("n1w") / col("n1t"))
    bi.join(big, Seq("prev", "cur"))
      .join(ctx, Seq("prev"))
      .join(cont, Seq("cur"))
      .crossJoin(broadcast(types))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(pKn)), 6).as("avg_kn_surprisal"))
  }

  /** Collocation extraction by pointwise mutual information — the
    * corpus-analysis dual of [[bigramSurprisal]]: instead of scoring
    * documents against the bigram model, surface the PAIRS the model
    * says are glued together. `pmi(x,y) = ln(T · c(x,y) / (c(x)·c(y)))`
    * over corpus counts (T = total bigram tokens): multiword entities
    * and idioms score high, chance co-occurrences of frequent words
    * score near zero or negative. Standard vocabulary-building /
    * tokenizer-seeding signal (Church & Hanks 1990).
    *
    * `minCount` prunes the hapax tail BEFORE the count joins — PMI's
    * known pathology is that a pair seen once between two rare words
    * maxes the score, and at 100 TB the hapax tail IS most of the pair
    * vocabulary, so the filter rides the first aggregate and everything
    * downstream touches only surviving pair types (vocab-sized, not
    * corpus-sized).
    *
    * Scale shape: one positional bigram explode (map-side), one pair
    * count and one unigram count (word-count shuffles), then pair→count
    * joins on the PRUNED pair table and a 1-row broadcast of T. The PMI
    * itself is one log per surviving pair — per-row math over exact
    * integers, no summation order anywhere.
    *
    * Returns (prev, cur, c_pair, c_prev, c_cur, pmi) for every pair
    * with `c(x,y) >= minCount`. */
  def pmiCollocations(df: DataFrame, textCol: String,
      minCount: Long = 5): DataFrame = {
    require(minCount >= 1, "minCount must be at least 1")
    val tk = filter(Tokenize.tokenCol(textCol), t => t =!= "")
    val bi = df.select(tk.as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(__tk)), " +
          "i -> struct(element_at(__tk, i - 1) AS prev, " +
          "element_at(__tk, i) AS cur))")).as("bg"))
      .select(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val uni = df.select(explode(Tokenize.tokenCol(textCol)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val pairs = bi.groupBy("prev", "cur").agg(count(lit(1)).as("c_pair"))
    val total = bi.agg(count(lit(1)).cast("double").as("t_bigrams"))
    pairs.filter(col("c_pair") >= minCount)
      .join(uni.select(col("tok").as("prev"), col("cu").as("c_prev")), "prev")
      .join(uni.select(col("tok").as("cur"), col("cu").as("c_cur")), "cur")
      .crossJoin(broadcast(total))
      .select(col("prev"), col("cur"), col("c_pair"), col("c_prev"),
        col("c_cur"),
        // denominators cast BEFORE the product: c(x)·c(y) over a
        // 100 TB corpus exceeds int64 (1e12 · 1e12), and DuckDB would
        // promote to hugeint while Spark wraps — double on both sides
        round(log(col("t_bigrams") * col("c_pair")
          / (col("c_prev").cast("double") * col("c_cur").cast("double"))), 6)
          .as("pmi"))
  }

  /** Corpus-comparison term scoring — "Fightin' Words" (Monroe, Colaresi
    * & Quinn 2008): per-term log-odds DELTA between two corpus slices
    * under an informative Dirichlet prior drawn from the pooled corpus
    * (`α_w = α0·p_w`), z-scored by the estimate's variance
    * (`1/(y_a+α_w) + 1/(y_b+α_w)`) — the statistically-honest "which
    * terms distinguish slice A from slice B" (raw log-odds overweight
    * rare terms; the prior shrinks them). The term-drift complement of
    * the distributional [[Drift.psi]].
    *
    * Scale: one (slice, term) count shuffle; per-term math is map-only
    * over the |vocab|-row table with 1-row totals broadcast. Counts
    * exact; δ and z involve ln/sqrt → rounded 6dp (transcendental,
    * boundary-free). Returns one row per term with count ≥ `minCount`
    * in the pooled slices: (term, y_a, y_b, delta, z). */
  def logOddsDirichlet(df: DataFrame, textCol: String, sliceCol: String,
      sliceA: String, sliceB: String, alpha0: Double = 100.0,
      minCount: Long = 5): DataFrame = {
    require(alpha0 > 0, "alpha0 must be positive")
    val tk = filter(Tokenize.tokenCol(textCol), t => t =!= "")
    val toks = df
      .filter(col(sliceCol).isin(sliceA, sliceB))
      .select(col(sliceCol).as("__s"), explode(tk).as("__w"))
    val counts = toks.groupBy("__w").agg(
      sum(when(col("__s") === sliceA, 1L).otherwise(0L)).as("y_a"),
      sum(when(col("__s") === sliceB, 1L).otherwise(0L)).as("y_b"))
    val totals = counts.agg(sum("y_a").as("__na"), sum("y_b").as("__nb"))
    val na = col("__na").cast("double")
    val nb = col("__nb").cast("double")
    val aw = lit(alpha0) *
      ((col("y_a") + col("y_b")).cast("double") / (na + nb))
    val delta =
      log((col("y_a") + aw) / (na + alpha0 - col("y_a") - aw)) -
        log((col("y_b") + aw) / (nb + alpha0 - col("y_b") - aw))
    val variance =
      lit(1.0) / (col("y_a") + aw) + lit(1.0) / (col("y_b") + aw)
    counts.filter(col("y_a") + col("y_b") >= minCount)
      .crossJoin(broadcast(totals))
      .select(col("__w").as("term"), col("y_a"), col("y_b"),
        round(delta, 6).as("delta"),
        round(delta / sqrt(variance), 6).as("z"))
  }

  /** Dunning log-likelihood-ratio keyness (G²) — the frequentist
    * corpus-comparison companion to [[logOddsDirichlet]]'s Bayesian
    * shrinkage: `G² = 2·(a·ln(a/E_a) + b·ln(b/E_b))` with expectations
    * from the pooled rate, the classic "which terms distinguish corpus
    * A from corpus B" screen (Dunning 1993) used to audit a training
    * mix against a reference corpus.
    *
    * Shape: one (term) shuffle to per-slice counts, totals a 1-row
    * broadcast, per-term map-only arithmetic, top-k by
    * TakeOrderedAndProject (per-partition heaps — no global sort).
    * Zero-count sides contribute an exact `0.0` term (the x·ln x → 0
    * limit), so every term in either corpus scores.
    *
    * FP: counts exact longs; each G² is division + ln per side —
    * transcendental, rounded 6dp (NOTES taxonomy); the direction flag
    * compares exact integer cross-products (a·N_b vs b·N_a in
    * DECIMAL), never floats. Ties at the cut break on term. An empty
    * slice raises loudly (expectations are 0/0).
    *
    * @param dir +1 = overrepresented in `sliceA`, -1 = in `sliceB`
    * @return topK rows: (term, y_a, y_b, llr, dir) */
  def llrKeyness(df: DataFrame, textCol: String, sliceCol: String,
      sliceA: String, sliceB: String, minCount: Long = 5,
      topK: Int = 50): DataFrame = {
    require(topK >= 1, "llrKeyness: topK must be >= 1")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val tk = filter(Tokenize.tokenCol(textCol), t => t =!= "")
    val toks = df
      .filter(col(sliceCol).isin(sliceA, sliceB))
      .select(col(sliceCol).as("__s"), explode(tk).as("__w"))
    val counts = toks.groupBy("__w").agg(
      sum(when(col("__s") === sliceA, 1L).otherwise(0L)).as("y_a"),
      sum(when(col("__s") === sliceB, 1L).otherwise(0L)).as("y_b"))
    val totals = counts.agg(
      coalesce(sum("y_a"), lit(0L)).as("__ta"),
      coalesce(sum("y_b"), lit(0L)).as("__tb"))
    // the raise rides the REFERENCED total column (the pruned-guard
    // lesson): it fires while the broadcast side is built
    val guarded = totals.select(
      when(col("__ta") === 0 || col("__tb") === 0, raise_error(lit(
        "TextScore.llrKeyness: empty slice — expectations are 0/0")))
        .otherwise(col("__ta")).as("__ta"),
      col("__tb"))
    val na = col("__ta").cast("double")
    val nb = col("__tb").cast("double")
    val yab = (col("y_a") + col("y_b")).cast("double")
    val ea = na * yab / (na + nb)
    val eb = nb * yab / (na + nb)
    val ta = when(col("y_a") > 0,
      col("y_a").cast("double") * log(col("y_a").cast("double") / ea))
      .otherwise(lit(0.0))
    val tb = when(col("y_b") > 0,
      col("y_b").cast("double") * log(col("y_b").cast("double") / eb))
      .otherwise(lit(0.0))
    counts.filter(col("y_a") + col("y_b") >= minCount)
      .crossJoin(broadcast(guarded))
      .select(col("__w").as("term"), col("y_a"), col("y_b"),
        round(lit(2.0) * (ta + tb), 6).as("llr"),
        when(col("y_a").cast(dec) * col("__tb").cast(dec) >=
          col("y_b").cast(dec) * col("__ta").cast(dec), lit(1))
          .otherwise(lit(-1)).as("dir"))
      .orderBy(col("llr").desc, col("term"))
      .limit(topK)
  }

  /** Bucketed Jensen–Shannon divergence between two corpora's unigram
    * distributions — the single symmetric, bounded-in-[0, ln 2]
    * "how different are these two token mixes" number (the corpus-pair
    * companion to [[graft.operators.Drift]]'s PSI, which tracks ONE
    * feature across snapshots): `JSD = ½·KL(p‖m) + ½·KL(q‖m)` with
    * `m = (p+q)/2`.
    *
    * Terms are HASHED into a fixed bucket grid (the [[Splits]] md5
    * scheme — deterministic cross-engine) and the divergence is
    * computed over the bucket distributions. That makes the reduction
    * a BOUNDED SORTED FOLD (buckets × one transcendental term each,
    * folded in bucket order — bit-identical to the oracle's
    * list_reduce) instead of a vocab-sized float sum whose order no
    * engine guarantees; statistically it's JSD under a random
    * partition — a lower bound on the unbucketed JSD that preserves
    * the 0-iff-identical property on the grid.
    *
    * FP: counts exact longs; each bucket term is division + ln,
    * transcendental, so the folded jsd rounds 6dp (NOTES taxonomy; the
    * value is ≤ ln 2, far from any magnitude hazard). Empty-side
    * buckets contribute the exact `x·ln(x/m)` with the other side 0
    * (ln 2 factor), absent buckets nothing. An empty corpus raises.
    *
    * @return one row: (n_a, n_b, n_buckets, jsd) */
  def jsdBuckets(a: DataFrame, b: DataFrame, textCol: String,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val tk = filter(Tokenize.tokenCol(textCol), t => t =!= "")
    def cnt(df: DataFrame, tag: String) = df
      .select(explode(tk).as("__w"))
      .select(Splits.bucketOfKey(Splits.saltedKey(col("__w"), "jsd"),
        buckets).as("__bk"))
      .groupBy("__bk").agg(count(lit(1)).as(s"__c$tag"))
    val merged = cnt(a, "a")
      .join(cnt(b, "b").withColumnRenamed("__bk", "__bk2"),
        col("__bk") <=> col("__bk2"), "full_outer")
      .select(coalesce(col("__bk"), col("__bk2")).as("__bk"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val totals = merged.agg(
      coalesce(sum("__ca"), lit(0L)).as("__na"),
      coalesce(sum("__cb"), lit(0L)).as("__nb"))
    val guarded = totals.select(
      when(col("__na") === 0 || col("__nb") === 0, raise_error(lit(
        "TextScore.jsdBuckets: empty corpus — JSD is undefined")))
        .otherwise(col("__na")).as("__na"),
      col("__nb"))
    val p = col("__ca").cast("double") / col("__na").cast("double")
    val q = col("__cb").cast("double") / col("__nb").cast("double")
    val mm = (p + q) / lit(2.0)
    val term =
      when(col("__ca") > 0, p / lit(2.0) * log(p / mm)).otherwise(0.0) +
        when(col("__cb") > 0, q / lit(2.0) * log(q / mm)).otherwise(0.0)
    val terms = merged.crossJoin(broadcast(guarded))
      .select(col("__na"), col("__nb"), col("__bk"), term.as("__t"))
    terms
      .groupBy(col("__na"), col("__nb"))
      .agg(count(lit(1)).as("n_buckets"),
        sort_array(collect_list(struct(col("__bk"), col("__t"))))
          .as("__terms"))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        col("n_buckets"),
        round(aggregate(transform(col("__terms"),
          x => x.getField("__t")), lit(0.0), (acc, x) => acc + x), 6)
          .as("jsd"))
  }

  /** Mixed-script token detection — the spoofing/quality screen web
    * corpora need before dedup and search: a token mixing Latin with
    * Cyrillic or Greek letters ("pаypal" with U+0430) is near-always
    * confusable spam, OCR damage, or an evasion attempt, and it
    * poisons exact dedup and retrieval (the spoof never matches the
    * clean form). Per document: token count, tokens mixing
    * Latin+Cyrillic, tokens mixing Latin+Greek. Map-only; per-token
    * regex membership, no shuffle.
    *
    * @return (idCol, n_tokens, n_latin_cyrillic, n_latin_greek) */
  def scriptMix(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tk = filter(Tokenize.tokenCol(textCol), t => t =!= "")
    def mixed(range: String) = size(filter(tk, t =>
      t.rlike("[A-Za-z]") && t.rlike(range))).cast("long")
    df.select(col(idCol),
      size(tk).cast("long").as("n_tokens"),
      mixed("[\u0400-\u04FF]").as("n_latin_cyrillic"),
      mixed("[\u0370-\u03FF]").as("n_latin_greek"))
  }

  /** Zipf-law fit over the corpus rank–frequency curve — the
    * vocabulary-shape diagnostic a corpus monitor tracks next to
    * type/token counts: OLS slope of ln(freq) on ln(rank) over the
    * `topK` most frequent terms (natural text sits near −1; template
    * spam and boilerplate floods flatten it, OCR noise steepens it).
    *
    * Scale shape: one (term) count shuffle; the top-K cut is a
    * TakeOrderedAndProject on (count desc, term) — per-partition heaps,
    * never a vocabulary sort; ranks then ride a window over the
    * BOUNDED K rows (single partition by construction, K ≤ 10⁴ by
    * require). The OLS sums are over K ln-pairs.
    *
    * Gate tier: ln is transcendental, so slope/intercept round 6dp
    * (the llrKeyness/dsir tier); n_terms is exact.
    *
    * @return one row: (n_terms, slope, intercept) */
  def zipfFit(df: DataFrame, textCol: String, topK: Int = 1000)
      : DataFrame = {
    require(topK >= 3 && topK <= 10000,
      s"zipfFit: topK must be in [3, 10000]: $topK")
    import org.apache.spark.sql.expressions.Window
    val tk = filter(Tokenize.tokenCol(textCol), t => t =!= "")
    val counts = df.select(explode(tk).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w")).limit(topK)
    // the rank window is bounded at K rows by the limit above — the
    // constPart marker declares that (the PlanShapeSpec sweep contract)
    val ranked = counts.withColumn("__r",
      row_number().over(Window
        .partitionBy(Bounded.constPart(col("__c")))
        .orderBy(col("__c").desc, col("__w"))))
    val xy = ranked.select(log(col("__r").cast("double")).as("__x"),
      log(col("__c").cast("double")).as("__y"))
    val agg = xy.agg(count(lit(1)).as("n_terms"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__x") * col("__y")).as("__sxy"))
    val nD = col("n_terms").cast("double")
    val denom = nD * col("__sxx") - col("__sx") * col("__sx")
    agg.select(
      when(col("n_terms") < 3, raise_error(lit(
        "TextScore.zipfFit: fewer than 3 distinct terms — the fit is " +
          "degenerate")))
        .otherwise(col("n_terms")).as("n_terms"),
      round((nD * col("__sxy") - col("__sx") * col("__sy")) / denom, 6)
        .as("slope"),
      round((col("__sy") - (nD * col("__sxy") - col("__sx") *
        col("__sy")) / denom * col("__sx")) / nD, 6).as("intercept"))
  }

  /** Heaps-law fit over the vocabulary GROWTH curve — the companion
    * diagnostic to [[zipfFit]]'s static rank–frequency shape: OLS of
    * ln V(N) on ln N, where V(N) is the distinct-type count after the
    * first N tokens in `orderCol` order (natural text sits near
    * β ≈ 0.4–0.6; β → 1 means the vocabulary never saturates — ids /
    * hashes / OCR noise flooding the token stream; a β collapse means
    * template spam). The ingest monitor that catches a vocabulary
    * regime change between corpus snapshots.
    *
    * Scale shape: NO global cumulative sum over docs — the curve is
    * sampled at `gridSize` checkpoints on the order-value range. Two
    * grouped scans (per-doc token counts; per-TYPE first order value
    * via min — types shuffle once), each crossed with the broadcast
    * G-row grid into G conditional partial-agg cells. The OLS rides a
    * bounded sorted fold over ≤ G points.
    *
    * Gate tier: checkpoint counts are exact longs (grid cut points are
    * exact integer arithmetic); ln is transcendental, so beta and
    * intercept round 6dp (the [[zipfFit]] tier).
    *
    * Loud degenerates: a non-integral order value, a single distinct
    * order value (no curve), an order range so wide the exact grid
    * arithmetic would overflow, fewer than 3 non-empty checkpoints,
    * and zero token growth across the grid (the fit is 0/0).
    *
    * @param orderCol integer-ish ingest-order column (a doc id, an
    *                 epoch day); checkpoints are VALUE-range cuts, so
    *                 gaps in the id space shift sample points but not
    *                 the curve itself
    * @return one row: (n_points, n_tokens, n_types, beta, intercept) */
  def heapsFit(df: DataFrame, orderCol: String, textCol: String,
      gridSize: Int = 16): DataFrame = {
    require(gridSize >= 3 && gridSize <= 64,
      s"heapsFit: gridSize must be in [3, 64]: $gridSize")
    val o0 = col(orderCol).cast("long")
    val o = when(o0.isNull && col(orderCol).isNotNull, raise_error(lit(
        s"TextScore.heapsFit: $orderCol is not integer-castable")))
      .otherwise(o0)
    val tk = filter(Tokenize.tokenCol(textCol), t => t =!= "")
    val base = df.filter(col(orderCol).isNotNull)
    val perDoc = base.select(o.as("__o"), size(tk).cast("long").as("__nt"))
    val firsts = base.select(o.as("__o"), explode(tk).as("__w"))
      .groupBy("__w").agg(min("__o").as("__f"))
    val bounds = perDoc.agg(min("__o").as("__lo"), max("__o").as("__hi"))
    val grid = bounds.select(
        col("__lo"), col("__hi"),
        explode(sequence(lit(1), lit(gridSize))).as("__i"))
      .withColumn("__rng",
        when(col("__hi") <=> col("__lo"), raise_error(lit(
          "TextScore.heapsFit: order column has a single value — no " +
            "growth curve to fit")))
          .when(col("__hi") - col("__lo") > Long.MaxValue / gridSize,
            raise_error(lit(
              "TextScore.heapsFit: order range overflows the exact " +
                "grid arithmetic — rescale the order column")))
          .otherwise(col("__hi") - col("__lo")))
      .withColumn("__c",
        col("__lo") + expr(s"(__rng * __i) div $gridSize"))
      .select(col("__i"), col("__c"))
    val nAt = perDoc.crossJoin(broadcast(grid))
      .groupBy(col("__i"))
      .agg(sum(when(col("__o") <= col("__c"), col("__nt"))
        .otherwise(0L)).as("__n"))
    val vAt = firsts.crossJoin(broadcast(
        grid.select(col("__i").as("__vi"), col("__c").as("__vc"))))
      .groupBy(col("__vi"))
      .agg(sum(when(col("__f") <= col("__vc"), 1L).otherwise(0L))
        .as("__v"))
    val pts = nAt.join(vAt, col("__i") === col("__vi"))
      .filter(col("__n") > 0 && col("__v") > 0)
      .select(col("__i"), col("__n"), col("__v"),
        log(col("__n").cast("double")).as("__x"),
        log(col("__v").cast("double")).as("__y"))
    val folded = pts.agg(count(lit(1)).as("n_points"),
      max(col("__n")).as("n_tokens"), max(col("__v")).as("n_types"),
      sort_array(collect_list(struct(col("__i"), col("__x"), col("__y"))))
        .as("__p"))
    def fld(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      aggregate(col("__p"), lit(0.0), (acc, s) => acc + f(s))
    val agg = folded.select(col("n_points"), col("n_tokens"),
      col("n_types"),
      fld(_.getField("__x")).as("__sx"), fld(_.getField("__y")).as("__sy"),
      fld(s => s.getField("__x") * s.getField("__x")).as("__sxx"),
      fld(s => s.getField("__x") * s.getField("__y")).as("__sxy"))
    val nD = col("n_points").cast("double")
    val denom = nD * col("__sxx") - col("__sx") * col("__sx")
    agg.select(
      when(col("n_points") < 3, raise_error(lit(
        "TextScore.heapsFit: fewer than 3 non-empty checkpoints — the " +
          "fit is degenerate")))
        .otherwise(col("n_points")).as("n_points"),
      col("n_tokens"), col("n_types"),
      when(denom <= 0.0, raise_error(lit(
        "TextScore.heapsFit: zero token growth across the grid — the " +
          "fit is 0/0")))
        .otherwise(round((nD * col("__sxy") - col("__sx") * col("__sy"))
          / denom, 6)).as("beta"),
      round((col("__sy") - (nD * col("__sxy") - col("__sx") *
        col("__sy")) / denom * col("__sx")) / nD, 6).as("intercept"))
  }
}
