package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis / training-data-pipeline queries over `documents`
  * (SURVEY §2B E24, E34, E39 + north-star text ops).
  *
  * All token work routes through explode/groupBy — distributed, partial-agg
  * friendly, no driver materialization. Content hashing uses md5/sha2 so
  * the DuckDB oracle computes identical digests.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Exact-dup detection by content hash (E34): groups identical texts,
    * keeps min doc_id as the canonical survivor. At 100 TB the groupBy key
    * is the 256-bit digest, not the document — shuffle carries 32 bytes +
    * ids per doc, never the text. */
  val dedupExact: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Dedup summary per source (E34). */
  val dedupStats: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(sha2(col("text"), 256)).as("n_unique"))

  /** Token counting per language (E39): whitespace tokens, avg doc length. */
  val textTokens: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 6).as("avg_tokens"),
        sum("n_chars").as("total_chars"))

  /** Global term frequencies, top-30 (E39): explode → partial-agg count →
    * top-k. The explode fan-out happens map-side; only (token, partial
    * count) pairs shuffle. */
  val textTopTerms: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(30)

  /** Per-doc quality scoring (north star): length stats + punctuation and
    * stopword ratios from pure portable string ops. */
  val textQuality: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val nTok = size(split(col("text"), " "))
    val nPunct = length(col("text")) -
      length(translate(col("text"), ".,!?;:", ""))
    val stopwords = Seq("the", "a", "of", "and", "to")
    val toks = split(lower(col("text")), " ")
    val nStop = stopwords.map(w =>
      size(filter(toks, t => t === w))).reduce(_ + _)
    doc.select(
      col("doc_id"), col("lang"),
      length(col("text")).as("len_chars"),
      nTok.as("n_tokens"),
      round(length(col("text")).cast("double") / nTok, 6).as("chars_per_tok"),
      nPunct.as("n_punct"),
      round(nStop.cast("double") / nTok, 6).as("stopword_ratio"))
  }

  /** Content fingerprint (E34/E39): normalization + md5, the cheap
    * near-exact-dup key (casefold/squeeze-whitespace then digest). */
  val textFingerprint: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))

  /** Deterministic REALISTIC text corpus (r13 verdict "what's wrong"
    * #3: the driver's synthetic documents are lowercase word-soup — no
    * uppercase, digits, punctuation, code or multi-script text — so
    * several text-quality gates were verified on worst-case-unrealistic
    * data). One row per documents doc_id, text built from literals +
    * md5-derived words + id arithmetic ONLY, so the DuckDB oracle
    * reproduces it byte-identically (the planted-twin rule): sentences
    * with case/digits/punctuation/dates/currency, an email + phone
    * (PII), per-lang marker sentences, Cyrillic/Greek snippets with
    * planted Latin-confusable tokens, a blocklist sentence, a fenced
    * python block, and near-dup twins (every 13th doc, one appended
    * sentence, offset +10^7). The *_rich gates run the SAME operators
    * as their word-soup twins over this corpus — both stay registered
    * (word-soup = regression floor, rich = production-shaped proof). */
  def richDocs(s: SparkSession, d: String): DataFrame = {
    val b = col("doc_id")
    def w(tag: String) =
      substring(md5(concat(b.cast("string"), lit(tag))), 1, 6)
    val name = element_at(array(lit("Alice Smith"), lit("Bob Jones"),
      lit("Carol White"), lit("Dan Brown")), (b % 4 + 1).cast("int"))
    val city = element_at(array(lit("Berlin"), lit("Paris"),
      lit("London")), (b % 3 + 1).cast("int"))
    val lang = element_at(array(lit("en"), lit("de"), lit("fr")),
      (b % 3 + 1).cast("int"))
    val nl = lit("\n")
    val text = concat(
      lit("Dr. "), name, lit(" wrote about "), w("_w1"),
      lit(" on 2024-03-"), (b % 28 + 1).cast("string"), lit(". "),
      lit("The order #"), b.cast("string"), lit(" cost $"),
      (b * 7 % 90 + 10).cast("string"), lit("."),
      lpad((b % 100).cast("string"), 2, "0"), lit(" in "), city,
      lit("! Contact user"), b.cast("string"),
      lit("@example.com or call +1-202-555-"),
      lpad((b % 10000).cast("string"), 4, "0"),
      lit(". The size of "), w("_w2"), lit(" and the rest of it. "),
      when(b % 3 === 1, lit("Die Daten und der Bericht. "))
        .otherwise(lit("")),
      when(b % 3 === 2, lit("Le chat et la maison. "))
        .otherwise(lit("")),
      // Cyrillic sentence with a Latin-Cyrillic confusable token
      // (p + U+0430 + ypal), then a Greek one (U+03B1 + lpha) — \u
      // escapes so the confusables are explicit in source
      when(b % 7 === 0,
        lit("\u0434\u0430 p\u0430ypal \u0434\u0430. "))
        .otherwise(lit("")),
      when(b % 11 === 0,
        lit("\u03b2\u03ae\u03c4\u03b1 \u03b1lpha. "))
        .otherwise(lit("")),
      when(b % 5 === 0,
        lit("Never drop table in prod; a slow scan hurts. "))
        .otherwise(lit("")),
      when(b % 4 === 0, concat(nl, lit("```python"), nl, w("_w1"),
        lit(" = 42"), nl, lit("```"))).otherwise(lit("")))
    val base = Tables.documents(s, d)
      .select(b.as("doc_id"), lang.as("lang"), text.as("text"))
    base.unionAll(base.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
        concat(col("text"), lit(" Regards team.")).as("text")))
  }

  /** [[graft.operators.TextScore.scriptMix]] over the realistic corpus
    * — confusable tokens embedded in real multi-script sentences, not
    * appended to word soup. */
  val scriptMixRich: Q = (s, d) =>
    graft.operators.TextScore.scriptMix(richDocs(s, d), "doc_id", "text")

  /** [[graft.operators.Pii.detect]] over the realistic corpus — the
    * email/phone sit inside a real contact sentence with competing
    * digit runs (dates, currency) the regexes must NOT count. */
  val piiRich: Q = (s, d) =>
    graft.operators.Pii.detect(richDocs(s, d), "doc_id", "text")

  /** The Aho–Corasick blocklist screen over the realistic corpus —
    * terms inside real sentences (mixed case, punctuation-adjacent). */
  val blocklistRich: Q = (s, d) => {
    richDocs(s, d).select(col("doc_id"),
        graft.functions.GraftFunctions.blockTermHits(
          lower(coalesce(col("text"), lit(""))),
          graft.functions.GraftFunctions.BlockTerms).as("__h"))
      .select(col("doc_id"), concat_ws("|", col("__h")).as("hits"),
        size(col("__h")).cast("long").as("n_hits"))
  }

  /** [[graft.operators.Markup.codeFences]] over the realistic corpus —
    * the fence sits after prose ending in punctuation, with real
    * newlines. */
  val codeFencesRich: Q = (s, d) =>
    graft.operators.Markup.codeFences(richDocs(s, d), "doc_id", "text")

  /** Language-marker scoring over the realistic corpus — markers
    * appear sentence-embedded (case-folded by the operator) next to
    * cross-lang English scaffolding, so per-lang scores separate on
    * the de/fr marker sentences, not on corpus purity. */
  val langMarkersRich: Q = (s, d) => langMarkersOf(richDocs(s, d))

  /** Exact near-dup pairs over the realistic corpus: the planted
    * +10^7 twins (one appended sentence) land at trigram J ≈ 0.93 and
    * every pair carries its exact Jaccard — the rich-corpus form of
    * the near-dup structure the verdict asked the fixture to plant.
    * Threshold 0.7, NOT the chain's 0.6: the rich corpus is
    * boilerplate-heavy by design (every doc shares the sentence
    * scaffolding), which is exactly prefix filtering's hard case —
    * at 0.6 the prefixes reach ~0.4·n tokens deep into shared
    * scaffold shingles and candidates blow up (measured 14 s at
    * sf0.1 vs 1.3 s at 0.7), while the planted twins sit far above
    * either cut. */
  val neardupRich: Q = (s, d) =>
    DedupQueries.cachedPairs(s, d, new java.io.File(d).getCanonicalPath,
        "rich-pairs|trigram|j=0.7")(
      graft.operators.SetSimJoin.joinByJaccard(
        DedupQueries.shingled(richDocs(s, d).select("doc_id", "text"),
          "shingles"),
        "doc_id", "shingles", minJaccard = 0.7))

  /** Offline build for [[neardupRich]]'s pair artifact (the
    * ensureSetsimPairs pattern — Bench prebuilds so the gate measures
    * artifact consumption, the production posture: the pair graph is
    * computed once per corpus snapshot). */
  def ensureRichPairs(s: SparkSession, d: String): Unit = {
    neardupRich(s, d); ()
  }

  /** Language-marker scoring (north star lang-ID): counts hits of per-lang
    * marker tokens; a real lang-ID runs exactly this shape with n-gram
    * profiles instead of word lists. */
  val textLangMarkers: Q = (s, d) => langMarkersOf(Tables.documents(s, d))

  /** Shared marker-scoring body of [[textLangMarkers]] and
    * [[langMarkersRich]]. */
  private def langMarkersOf(docs: DataFrame): DataFrame = {
    // tokenize ONCE behind a projection boundary — inlining the split into
    // all nine marker filters re-splits every document nine times
    def hits(words: Seq[String]) =
      words.map(w => size(filter(col("toks"), t => t === w))).reduce(_ + _)
    docs
      .select(col("lang"), split(lower(col("text")), " ").as("toks"))
      .select(col("lang"),
        hits(Seq("the", "and", "of")).as("en_hits"),
        hits(Seq("der", "und", "die")).as("de_hits"),
        hits(Seq("le", "la", "et")).as("fr_hits"))
      .groupBy("lang")
      .agg(sum("en_hits").as("en_score"),
        sum("de_hits").as("de_score"),
        sum("fr_hits").as("fr_score"))
  }

  /** Per-doc language-ID (north star): argmax over the marker scores
    * with a fixed tie preference (en > de > fr), `unknown` when no
    * marker hits, plus a confidence share. Map-only: tokenize once,
    * nine in-array filters, no shuffle. */
  val langId: Q = (s, d) => langIdOf(Tables.documents(s, d))

  /** DataFrame form of [[langId]] (also driven by the scale drill). */
  def langIdOf(docs: DataFrame): DataFrame = {
    // ONE fold over the token array scoring all languages at once — the
    // per-marker `size(filter(...))` form walked the array 9× per doc
    // (pure map work, so the waste scaled linearly with the corpus:
    // 32× drill measured the 9-pass form at the full linear bound)
    val scores = aggregate(col("toks"),
      struct(lit(0).as("en"), lit(0).as("de"), lit(0).as("fr")),
      (acc, t) => struct(
        (acc.getField("en") + when(t.isin("the", "and", "of"), 1)
          .otherwise(0)).as("en"),
        (acc.getField("de") + when(t.isin("der", "und", "die"), 1)
          .otherwise(0)).as("de"),
        (acc.getField("fr") + when(t.isin("le", "la", "et"), 1)
          .otherwise(0)).as("fr")))
    docs
      // null text → empty token list → all-zero scores → 'unknown';
      // without the coalesce every CASE branch is null and the argmax
      // falls through to the LAST language
      .select(col("doc_id"), col("lang"),
        split(lower(coalesce(col("text"), lit(""))), " ").as("toks"))
      .select(col("doc_id"), col("lang"), scores.as("__s"))
      .select(col("doc_id"), col("lang"),
        col("__s.en").as("en_score"),
        col("__s.de").as("de_score"),
        col("__s.fr").as("fr_score"))
      .withColumn("predicted",
        when(col("en_score") + col("de_score") + col("fr_score") === 0,
          "unknown")
          .when(col("en_score") >= col("de_score") &&
            col("en_score") >= col("fr_score"), "en")
          .when(col("de_score") >= col("fr_score"), "de")
          .otherwise("fr"))
      .withColumn("confidence",
        when(col("predicted") === "unknown", lit(0.0))
          .otherwise(round(greatest(col("en_score"), col("de_score"),
            col("fr_score")).cast("double") /
            (col("en_score") + col("de_score") + col("fr_score")), 6)))
      .withColumn("hit", col("predicted") === col("lang"))
  }

  /** N-gram (token bigram) extraction + counts (E39): top-20 bigrams. */
  val textBigrams: Q = (s, d) => {
    val toks = split(lower(col("text")), " ")
    Tables.documents(s, d)
      .select(explode(zip_with(toks, slice(toks, 2, 1000000),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .filter(col("bigram").contains(" "))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** Token-set Jaccard similarity between probe docs and same-lang
    * candidates (E35 oracle-able variant): explode to (doc, token) pairs,
    * self-join on token — the distributed set-similarity join. Probe side
    * is filtered FIRST so the join fan-out is bounded by probe tokens. */
  val ngramJaccard: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
      .filter(col("tok") =!= "")
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // both sides derive from `toks`, so probe("tok") and cand("tok")
    // resolve to the SAME attribute id — Catalyst logs its "trivially
    // true equals predicate" WARN while silently disambiguating (the r9
    // 'lang == lang' finding class). Rename one side before joining.
    val probe = toks.filter(col("doc_id") < 10)
      .select(col("doc_id").as("a"), col("lang").as("l1"),
        col("tok").as("ptok"))
    val cand = toks
      .select(col("doc_id").as("b"), col("lang").as("l2"), col("tok"))
    val inter = probe.join(cand,
        col("ptok") === col("tok") && col("l1") === col("l2")
          && col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("sza") + col("szb") - col("inter")), 6))
      .filter(col("jaccard") >= 0.05)
      .select("a", "b", "jaccard")
  }

  /** BPE-ish regex tokenization (north star): letter runs, digit runs and
    * punctuation as separate tokens — the pre-tokenizer shape every BPE
    * vocabulary uses. */
  val tokenRegex: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks",
        expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks"))).as("n_tokens"),
        round(avg(size(col("toks"))), 6).as("avg_tokens"))

  /** Polynomial rolling-hash fingerprint (north star): h = (h*31 + c) mod
    * 1e9+7 over the characters — the Rabin-Karp document fingerprint, all
    * codegen'd HOFs. */
  val rollingHash: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      aggregate(transform(split(col("text"), ""), c => ascii(c).cast("long")),
        lit(0L), (acc, c) => (acc * 31 + c) % 1000000007L).as("rollhash"))

  /** Winnowing fingerprints (round 10, [[graft.operators.Winnow]]):
    * the MOSS k-gram/window-min selection over each document — shared
    * polynomial hash, packed (hash, pos) window min, SQL-reproducible. */
  val winnowFingerprints: Q = (s, d) =>
    graft.operators.Winnow.fingerprints(
      Tables.documents(s, d), "doc_id", "text", k = 5, w = 4)

  /** Vocabulary statistics per source (E39): distinct tokens and hapax
    * legomena (tokens occurring exactly once) — the standard corpus-health
    * metrics. Two keyed aggregations, both partial-agg friendly. */
  val vocabStats: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("n"))
    counts.groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("n") === 1, 1).otherwise(0)).as("hapax"),
        sum("n").as("tokens"))
  }

  /** TF-IDF (E39): classic sparse term weighting, pure relational algebra —
    * term frequencies per doc, document frequencies per term, smooth-idf
    * weighting, top-scoring term per document. At 100 TB the DF side is a
    * broadcastable aggregate (vocabulary-sized) while TF stays scan-side. */
  val tfidf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val terms = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.count() // vocabulary-free scalar; computed once
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(df_, "term")
      .withColumn("score", round(col("tf")
        * log(lit(nDocs.toDouble + 1) / (col("df") + 1)), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("score"))
  }

  /** The end-to-end training-corpus builder (north star composite):
    * language filter → quality gates (token count, chars/token) → exact
    * dedup keeping min doc_id per normalized fingerprint → survivor set
    * with metadata. Every stage is a scan-side filter or a digest-keyed
    * shuffle; document text never shuffles. Fully SQL-expressible, so the
    * whole pipeline is hash-matched against the oracle. */
  val corpusBuild: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    Tables.documents(s, d)
      .filter(col("lang").isin("en", "de", "fr"))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .filter(col("n_tokens").between(20, 1000))
      .withColumn("chars_per_tok",
        length(col("text")).cast("double") / col("n_tokens"))
      .filter(col("chars_per_tok") < 12)
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
  }

  /** Hashing-trick featurization (north-star text→vector bridge): each doc
    * becomes a fixed 64-dim integral count vector via
    * [[graft.operators.TextFeatures.hashingTf]] — exact counts, so the
    * driver gate hash-matches the full vector with no float contract.
    * The gate ships the vector as a canonical comma-joined string: the
    * driver's canonicalizer can only sort scalar columns, and a CSV of
    * exact integers carries the identical equality contract. */
  val hashingTf: Q = (s, d) =>
    graft.operators.TextFeatures.hashingTf(
        Tables.documents(s, d), "doc_id", "text", dim = 64)
      .select(col("doc_id"), concat_ws(",", col("tf")).as("tf"))

  /** N-gram CONTAINMENT similarity (round 6): `|ngrams(A)∩ngrams(B)| /
    * |ngrams(A)|` — the asymmetric cousin of [[ngramJaccard]] that
    * catches subset duplication (a doc quoted inside a larger one scores
    * ~1 against it while Jaccard stays low). Same distributed
    * set-similarity join shape: probe side filtered FIRST, join fans out
    * on shared trigrams only, shuffles carry (id, ngram) pairs. The
    * ratio ships raw — one integer division, bit-identical anywhere. */
  val ngramContainment: Q = (s, d) => {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.operators.Decontam.ngrams(col("text"), 3)).as("ng"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sza"))
    val probe = grams.filter(col("doc_id") < 10)
      .select(col("doc_id").as("a"), col("lang").as("l1"), col("ng"))
    val cand = grams
      .select(col("doc_id").as("b"), col("lang").as("l2"), col("ng"))
    probe.join(cand,
        probe("ng") === cand("ng") && col("l1") === col("l2")
          && col("a") =!= col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "a"), "a")
      .select(col("a"), col("b"), col("inter"), col("sza"),
        (col("inter").cast("double") / col("sza").cast("double"))
          .as("containment"))
  }

  /** Per-doc token entropy + type/token ratio (round 6): the model-free
    * degenerate-text tells. See [[graft.operators.TextScore.tokenEntropy]]
    * for the factored closed form that keeps it one aggregate. */
  val tokenEntropy: Q = (s, d) =>
    graft.operators.TextScore.tokenEntropy(
      Tables.documents(s, d), "doc_id", "text")

  /** Unicode canonicalization (round 5): NFC-normalize + accent-fold each
    * doc with a DECOMPOSED accented prefix spliced in, so composed and
    * decomposed forms must converge for the digests to hash-match DuckDB's
    * nfc_normalize/strip_accents. The char-count delta (raw vs NFC) proves
    * real composition happened — 4 combining marks fold per doc. */
  val utf8Normalize: Q = (s, d) => {
    import graft.functions.GraftFunctions.{utf8Normalize => norm, stripAccents}
    // combining marks (U+0301 U+0308 U+030A), NOT precomposed chars
    val pre = "Café naïve Ångström "
    val raw = concat(lit(pre), col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(norm(raw).cast("binary")).as("nfc_digest"),
      md5(stripAccents(raw).cast("binary")).as("folded_digest"),
      length(raw).as("n_chars_raw"),
      length(norm(raw)).as("n_chars_nfc"))
  }

  /** Blocklist screen (round 13,
    * [[graft.functions.GraftFunctions.blockTermHits]]): which block
    * terms (including multi-word phrases and an overlapping
    * prefix pair) occur in each doc — ONE Aho–Corasick walk per row
    * regardless of dictionary size, where a regex alternation pays
    * O(terms) per char. Map-only, stays in whole-stage codegen. */
  val blocklistHits: Q = (s, d) => {
    val terms = graft.functions.GraftFunctions.BlockTerms
    Tables.documents(s, d).select(col("doc_id"),
        graft.functions.GraftFunctions.blockTermHits(
          lower(coalesce(col("text"), lit(""))), terms).as("__h"))
      .select(col("doc_id"),
        concat_ws("|", col("__h")).as("hits"),
        size(col("__h")).cast("long").as("n_hits"))
  }

  /** Markup extraction (round 5): each doc wrapped in a realistic HTML
    * shell (head/style/comment/attributes/entities/script-with-nested-
    * tags), then stripped back to text. The digests hash-match DuckDB
    * running the byte-identical RE2-safe chain; the recovered text must
    * contain the original doc body. */
  val stripMarkup: Q = (s, d) => {
    val wrapped = concat(
      lit("<html><head><title>T</title><style>p{color:red}</style>" +
        "</head><body><!-- boilerplate --><p class=\"x\">"),
      col("text"),
      lit(" &amp; more &lt;tags&gt;&nbsp;here</p>" +
        "<script type=\"text/javascript\">var x = \"<p>nested</p>\";" +
        "</script></body></html>"))
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(graft.operators.Markup.stripHtml(wrapped).cast("binary"))
        .as("clean_digest"),
      length(graft.operators.Markup.stripHtml(wrapped)).as("n_chars_clean"),
      length(wrapped).as("n_chars_raw"))
  }

  /** URL decomposition + normalization (round 5): three synthetic URL
    * shapes per corpus (mixed-case https with userinfo/default port/
    * tracking params/fragment; http with explicit port and no query;
    * scheme-less — every component empty), parsed and canonicalized.
    * The DuckDB oracle replays the byte-identical RE2 chain. */
  val urlParse: Q = (s, d) => {
    import graft.operators.Urls
    val u = when(col("doc_id") % 3 === 0,
        concat(lit("HTTPS://User:Pw@WWW."), col("source"),
          lit(".Example.COM:443/Docs/"), col("doc_id"),
          lit("?utm_source=feed&id="), col("doc_id"),
          lit("&utm_campaign=x#sec-"), col("lang")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("http://cdn."), col("source"), lit(".example.org:8080/a/"),
          col("doc_id")))
      .otherwise(concat(lit("www."), col("source"), lit(".example.net/"),
        col("doc_id")))
    Tables.documents(s, d).select(
      col("doc_id"),
      Urls.scheme(u).as("scheme"),
      Urls.host(u).as("host"),
      Urls.port(u).as("port"),
      Urls.path(u).as("path"),
      Urls.query(u).as("query_str"),
      Urls.registeredDomain(u).as("reg_domain"),
      Urls.normalize(u).as("norm_url"))
  }

  /** Multimodal metadata plumbing (E40): treat text bytes as an opaque
    * binary payload with typed metadata — byte length + digest, the schema
    * every image/audio column uses (decode stubs live in
    * [[graft.operators.Multimodal]]). */
  val multimodalMeta: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      octet_length(col("text")).as("n_bytes"),
      md5(col("text").cast("binary")).as("digest"),
      col("source").as("modality_source"))

  /** Exact positional phrase search (round 8,
    * [[graft.operators.TextSearch.phraseSearch]]): every document
    * containing the adjacent bigram "table hash", with occurrence count
    * and first 0-based position — the positional-inverted-index
    * intersection; postings shuffle as (doc, anchor) longs only.
    * Integer output → exact gate. */
  val phraseSearch: Q = (s, d) =>
    graft.operators.TextSearch.phraseSearch(
      Tables.documents(s, d), "doc_id", "text",
      Seq("table", "hash"))
}
