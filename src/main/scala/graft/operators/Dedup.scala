package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2B
  * E34/E35; north-star mandate).
  *
  * Every variant is expressed in shuffle-aware DataFrame primitives:
  *
  *  - '''exact''': group on a 256-bit content digest — the shuffle carries
  *    32 bytes + ids per doc, never the text. At 100 TB this is the only
  *    acceptable exact-dedup shape (a global `dropDuplicates` on raw text
  *    would shuffle the corpus).
  *  - '''MinHash + LSH''': signatures are computed scan-side with a
  *    native single-pass kernel (no UDF, no driver state); banding
  *    turns near-dup search into an equi-join on (band, bandHash) — the
  *    classic O(n·b) candidate generation instead of O(n²) pairs.
  *  - '''SimHash''': 64-bit signature; candidate pairs by the pigeonhole
  *    principle over 16-bit chunks (≤3 differing bits ⇒ some chunk equal),
  *    verified with `bit_count(a^b)`.
  *
  * Skew note: pathological buckets (boilerplate-heavy corpora) fan out the
  * candidate join; AQE skew-join splitting handles moderate skew, and
  * `maxBucket` hard-caps degenerate buckets (dropping a bucket of near-
  * identical boilerplate loses no information a sampled representative
  * doesn't keep).
  */
object Dedup {

  /** Exact dedup by content digest: one survivor (min id) per distinct
    * content. Returns (hash, keep_id, n_copies). */
  def exactByContent(df: DataFrame, idCol: String, contentCol: String)
      : DataFrame =
    df.groupBy(sha2(col(contentCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word `n`-gram shingles of a text column (lower-cased,
    * whitespace-tokenized). Falls back to the whole text when shorter than
    * `n` tokens. The text is split once and the n-grams come from one
    * [[graft.functions.WordNgrams]] pass over that array. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(lower(text), "\\s+")
    array_distinct(when(size(toks) < n, array(lower(text)))
      .otherwise(graft.functions.GraftFunctions.wordNgrams(toks, n)))
  }

  /** Estimated Jaccard similarity from two MinHash signatures. */
  def minhashEstimate(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) =>
        when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(sigA)

  /** MinHash-LSH near-duplicate pairs.
    *
    * @param df        input
    * @param idCol     unique id column
    * @param textCol   text column
    * @param numHashes signature length (r·b)
    * @param bands     LSH bands; r = numHashes/bands rows per band
    * @param threshold estimated-Jaccard cutoff for emitted pairs
    * @param maxBucket candidate buckets larger than this are dropped
    *                  (degenerate boilerplate guard)
    * @return (a, b, est_jaccard) with a < b
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 300): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // signatures are reused by the banding pass and twice by the verify
    // join-back — materialize once (tiny: id + numHashes longs per doc; at
    // production scale this is the persisted signature table)
    val sigs = df.select(col(idCol).as("id"),
        graft.functions.GraftFunctions.minhashText(col(textCol), numHashes)
          .as("sig"))
      .cache()
    // candidate generation carries ONLY (band, band_hash, id): the shuffle
    // payload must never include signatures or text
    val banded = sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          j => xxhash64(slice(col("sig"), j * r + 1, lit(r))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    // guard degenerate buckets before the self-join fans out
    val bucketSizes = banded.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucket))
    val pruned = banded.join(bucketSizes, Seq("band", "band_hash"))
    val pairs = pruned.select(col("band"), col("band_hash"), col("id").as("a"))
      .join(pruned.select(col("band"), col("band_hash"), col("id").as("b")),
        Seq("band", "band_hash"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct() // a pair can collide in several bands
    // verify: join signatures back by id (long-keyed, array payload flows
    // exactly once per side)
    pairs
      .join(sigs.select(col("id").as("a"), col("sig").as("sig_a")), "a")
      .join(sigs.select(col("id").as("b"), col("sig").as("sig_b")), "b")
      .withColumn("est_jaccard",
        round(minhashEstimate(col("sig_a"), col("sig_b")), 6))
      .filter(col("est_jaccard") >= threshold)
      .select("a", "b", "est_jaccard")
  }

  /** 64-bit SimHash of a text column: per-bit majority vote over token
    * hashes (native single-pass [[graft.functions.SimHash64]] kernel). */
  def simhash(text: Column): Column =
    graft.functions.GraftFunctions.simhash64(
      array_distinct(split(lower(text), "\\s+")))

  /** SimHash near-duplicate pairs with Hamming distance ≤ maxHamming,
    * candidates via pigeonholed 16-bit chunks. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 2000): DataFrame = {
    require(maxHamming <= 3, "4 chunks pigeonhole supports <= 3 bit flips")
    val sigs = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sim"))
      .cache()
    // candidates on (chunk, chunk_val, id, sim) — sim is one long, cheap
    // enough to carry, saving the verify join-back
    val chunked = sigs.select(col("id"), col("sim"),
        posexplode(transform(sequence(lit(0), lit(3)), j =>
          call_function("shiftright", col("sim"), j * 16)
            .bitwiseAND(lit(0xffffL)))))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    val bucketSizes = chunked.groupBy("chunk", "chunk_val")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucket))
    val pruned = chunked.join(bucketSizes, Seq("chunk", "chunk_val"))
    val a = pruned.select(col("chunk"), col("chunk_val"),
      col("id").as("a"), col("sim").as("sim_a"))
    val b = pruned.select(col("chunk"), col("chunk_val"),
      col("id").as("b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("a") < col("b"))
      // verify BEFORE distinct: hamming on two longs is nearly free and
      // shrinks the distinct's input by orders of magnitude
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming").distinct()
  }

  /** (id, rep) pairs where rep = min id among byte-identical contents —
    * the exact-collapse preamble of the min-id dedup rules. Running LSH
    * on ONE representative per content is exactly equivalent for min-id
    * survivorship (copies are J=1 neighbors of their representative:
    * they are doomed either way, and a representative's smallest LSH
    * neighbor id is always another representative) while shrinking
    * candidate pairs by d² per exact-dup cluster — the dominant cost on
    * scraped corpora, where exact duplication is the common case.
    * `maxBucket` consequently counts DISTINCT contents rather than
    * copies — the better boilerplate semantics (a bucket of one
    * million identical pages is one representative, not a dropped
    * bucket). Shuffles 32-byte digests + ids only. */
  private def exactReps(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val h = df.select(col(idCol).as("__id"),
      sha2(col(textCol), 256).as("__h"))
    h.join(h.groupBy("__h").agg(min("__id").as("__rep")), "__h")
      .select(col("__id"), col("__rep"))
  }

  /** Greedy near-dup removal: returns the corpus minus every row that
    * appears as the greater id of a near-dup pair. Under connected pair
    * coverage each duplicate cluster keeps exactly its minimum id — the
    * deterministic survivor rule. Exact copies collapse to one
    * representative before LSH (see [[exactReps]] — equivalent survivor
    * set, d²-fewer candidate pairs per dup cluster). The anti-join keys
    * on ids only; document payloads stream through untouched. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 300): DataFrame = {
    val m = exactReps(df, idCol, textCol)
    val repRows = df.join(m.filter(col("__id") === col("__rep"))
      .select(col("__id").as(idCol)), Seq(idCol), "left_semi")
    val pairDoomed = minhashLsh(repRows, idCol, textCol, numHashes, bands,
      threshold, maxBucket).select(col("b").as(idCol))
    val copyDoomed = m.filter(col("__id") =!= col("__rep"))
      .select(col("__id").as(idCol))
    val doomed = pairDoomed.union(copyDoomed).distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Quality-aware near-dup removal: of every near-dup pair, the LOWER
    * `qualityCol` side is dropped (ties keep the smaller id) — "keep the
    * best copy", the survivor rule real training pipelines want instead of
    * min-id. The pair join carries only (id, quality) scalars; document
    * payloads ride the final anti-join untouched, exactly like
    * [[minhashDedup]]. */
  def minhashDedupKeepBest(df: DataFrame, idCol: String, textCol: String,
      qualityCol: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 300): DataFrame = {
    val q = df.select(col(idCol), col(qualityCol))
    val pairs = minhashLsh(df, idCol, textCol, numHashes, bands, threshold,
        maxBucket)
      .join(q.select(col(idCol).as("a"), col(qualityCol).as("qa")), "a")
      .join(q.select(col(idCol).as("b"), col(qualityCol).as("qb")), "b")
    val doomed = pairs.select(
        when(col("qa") < col("qb") ||
          (col("qa") === col("qb") && col("a") > col("b")),
          col("a")).otherwise(col("b")).as(idCol))
      .distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Greedy SimHash dedup: like [[minhashDedup]] but keyed on hamming
    * proximity — drops the greater id of every pair within `maxHamming`. */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 2000): DataFrame = {
    val doomed = simhashNearDup(df, idCol, textCol, maxHamming, maxBucket)
      .select(col("b").as(idCol)).distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Transitive duplicate components from a near-dup pair list:
    * iterative min-label propagation (each node repeatedly adopts the
    * smallest id reachable through its edges — the DataFrame form of the
    * classic distributed connected-components loop). Returns
    * (node, component) where `component` is the minimum id in the node's
    * component.
    *
    * Why it exists: the greedy pair rule ([[minhashDedup]]) drops the
    * greater side of each PAIR, which over-deletes on chains — A~B, B~C
    * with A≁C kills both B and C even though keeping C (dup only of the
    * killed B) can be the wrong policy for cluster-level survivorship.
    * Component labeling makes "one survivor per transitive cluster"
    * exact.
    *
    * Scale shape: per iteration one join edges⋈labels (both id-only) and
    * one groupBy-min — everything shuffled is pairs of longs. Lineage is
    * truncated each round (`localCheckpoint`) so plans stay flat; rounds
    * needed = component diameter (tiny for dup clusters), bounded by
    * `maxIters` with an early-exit convergence check. */
  def clusterComponents(pairs: DataFrame, maxIters: Int = 20,
      numPartitions: Option[Int] = None): DataFrame = {
    // Loop-state parallelism is an explicit per-call knob, NOT a session
    // conf: callers with fixture-scale graphs clamp the checkpointed
    // round state (and thereby each round's task count) without mutating
    // spark.sql.shuffle.partitions globally — a global set is a race if
    // two queries ever build concurrently, and the restore races the
    // loop itself.
    def clamp(df: DataFrame, key: String): DataFrame =
      numPartitions.fold(df)(n => df.repartition(n, col(key)))
    val edges = clamp(pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b"))), "a")
      .localCheckpoint()
    // seed labels at min(self, direct neighbors): round 0 of the
    // propagation folded into the init aggregate (same fixpoint, one
    // fewer checkpoint+convergence round; the symmetrized edge list
    // guarantees every node appears as `a`)
    var labels = clamp(edges.groupBy(col("a"))
      .agg(min(col("b")).as("__mb"))
      .select(col("a").as("node"),
        least(col("a"), col("__mb")).as("component")), "node")
      .localCheckpoint()
    var i = 0
    var converged = false
    while (!converged && i < maxIters) {
      val candidates = edges
        .join(labels.select(col("node").as("a"),
          col("component").as("cand")), "a")
        .select(col("b").as("node"), col("cand"))
      // the convergence flag rides the propagation aggregate itself
      // (every group row carries the node's old label, so min == old):
      // checking it is a scan of the checkpointed round, not a second
      // label-set join per round
      val next = clamp(labels
        .join(candidates, Seq("node"), "left")
        .groupBy("node")
        .agg(min(least(col("component"), col("cand"))).as("component"),
          (min(least(col("component"), col("cand"))) =!=
            min(col("component"))).as("__changed")), "node")
        .localCheckpoint()
      converged = next.filter(col("__changed")).isEmpty
      labels = next.drop("__changed")
      i += 1
    }
    // a silent non-converged exit would hand back non-minimal labels and
    // quietly break the one-survivor-per-cluster guarantee downstream
    require(converged,
      s"component labeling did not converge in $maxIters rounds — " +
        "raise maxIters (components wider than the round budget exist)")
    labels
  }

  /** Cluster-exact near-dup removal: one survivor (the component-minimum
    * id) per TRANSITIVE duplicate cluster. Exact copies collapse to one
    * representative before LSH and label propagation ([[exactReps]]):
    * each representative is already the minimum of its content group, so
    * the component minimum over representatives IS the component minimum
    * over all member ids — identical survivor set, and both the pair
    * graph and the propagation rounds shrink by the duplication factor. */
  def minhashDedupTransitive(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 300): DataFrame = {
    val m = exactReps(df, idCol, textCol)
    val repRows = df.join(m.filter(col("__id") === col("__rep"))
      .select(col("__id").as(idCol)), Seq(idCol), "left_semi")
    val pairs = minhashLsh(repRows, idCol, textCol, numHashes, bands,
      threshold, maxBucket)
    val pairDoomed = clusterComponents(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    val copyDoomed = m.filter(col("__id") =!= col("__rep"))
      .select(col("__id").as(idCol))
    val doomed = pairDoomed.union(copyDoomed).distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Embedding-space (semantic) near-duplicate pairs at corpus scale:
    * candidates from multi-table hyperplane-LSH buckets (the sign
    * pattern of `bits` random hyperplanes per table), cosine-verified.
    *
    * Why hyperplanes and not k-means lists for the default: the scan
    * cost is O(n·tables·bits·dim) — LINEAR in the corpus — whereas any
    * coarse-quantizer candidate scheme pays an O(n·C) assignment argmax
    * with C forced to grow alongside n to keep lists bounded, i.e.
    * O(n^1.5) at best (measured 45× wall at 32× data in ScaleBench; the
    * k-means variant survives as [[semanticNearDupKmeans]] for bounded
    * corpora). Identical and near-identical vectors share every sign
    * bit, so true copies are always candidates; recall for looser pairs
    * tunes with (tables, bits). Ids-only discipline throughout: the
    * bucket self-join carries (table, bucket, id), `maxBucket` caps
    * degenerate buckets like [[minhashLsh]], and vectors re-attach by
    * id exactly once per side for the verify.
    *
    * Returns (a, b, cos) with a < b. */
  /** Candidate (a, b) id pairs of the hyperplane-LSH semantic path —
    * the pre-verification stage of [[semanticNearDup]], exposed so
    * [[graft.DedupQualityBench]] can measure candidate fraction
    * (pairs scored / all pairs) alongside recall. */
  def semanticCandidates(df: DataFrame, idCol: String, vecCol: String,
      tables: Int = 4, bits: Int = 12, dim: Int = 64, seed: Long = 42L,
      maxBucket: Int = 2000): DataFrame = {
    val planes = AnnSearch.hyperplanes(tables, bits, dim, seed)
    val bucketed = df.select(col(idCol).as("id"),
        posexplode(array((0 until tables).map(t =>
          AnnSearch.bucketExpr(col(vecCol), planes(t))): _*)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
    val sizes = bucketed.groupBy("table", "bucket")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucket))
    val pruned = bucketed.join(sizes, Seq("table", "bucket"))
    pruned.select(col("table"), col("bucket"), col("id").as("a"))
      .join(pruned.select(col("table"), col("bucket"), col("id").as("b")),
        Seq("table", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  def semanticNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 4, bits: Int = 12,
      dim: Int = 64, seed: Long = 42L, maxBucket: Int = 2000): DataFrame = {
    val pairs = semanticCandidates(df, idCol, vecCol, tables, bits,
      dim, seed, maxBucket)
    val v = df.select(col(idCol).as("__vid"), col(vecCol).as("__v"))
    pairs
      .join(v.select(col("__vid").as("a"), col("__v").as("va")), Seq("a"))
      .join(v.select(col("__vid").as("b"), col("__v").as("vb")), Seq("b"))
      .select(col("a"), col("b"), round(graft.functions.GraftFunctions
        .cosineSim(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** The SemDeDup-shaped k-means-list variant of [[semanticNearDup]]:
    * candidates form only within a coarse-quantizer list. Assignment
    * costs O(n·C); with C sized √n (to bound list size) total work is
    * O(n^1.5) — use for bounded corpora or where list artifacts are
    * shared with an IVF index; the hyperplane default is the
    * linear-scan path. */
  def semanticNearDupKmeans(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numLists: Int = 200, kmeansIters: Int = 2,
      maxList: Int = 2000): DataFrame = {
    val cents = AnnSearch.kmeansCentroids(df, vecCol, idCol,
      numLists, kmeansIters).cache()
    val centArr = AnnSearch.centroidRow(cents)
    // per-row argmax over the broadcast centroid row — ids only leave;
    // THE shared tie rule (AnnSearch.argmaxCentroid), so list
    // assignment can never diverge from the centroids it trained with
    val assigned = df
      .select(col(idCol).as("id"), col(vecCol).as("__vec"))
      .join(broadcast(centArr))
      .select(col("id"), AnnSearch.argmaxCentroid(col("__vec"))
        .getField("centroid_id").as("list"))
    val listSizes = assigned.groupBy("list")
      .agg(count(lit(1)).as("lsz"))
      .filter(col("lsz").between(2, maxList))
    val pruned = assigned.join(listSizes, Seq("list"))
    val pairs = pruned.select(col("list"), col("id").as("a"))
      .join(pruned.select(col("list"), col("id").as("b")), Seq("list"))
      .filter(col("a") < col("b"))
      .select("a", "b")
    val v = df.select(col(idCol).as("__vid"), col(vecCol).as("__v"))
    pairs
      .join(v.select(col("__vid").as("a"), col("__v").as("va")), Seq("a"))
      .join(v.select(col("__vid").as("b"), col("__v").as("vb")), Seq("b"))
      .select(col("a"), col("b"), round(graft.functions.GraftFunctions
        .cosineSim(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Greedy semantic dedup: drops the greater id of every
    * [[semanticNearDup]] pair — "one copy per embedding-space
    * duplicate". */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 4, bits: Int = 12,
      dim: Int = 64, seed: Long = 42L, maxBucket: Int = 2000): DataFrame = {
    val doomed = semanticNearDup(df, idCol, vecCol, threshold,
      tables, bits, dim, seed, maxBucket)
      .select(col("b").as(idCol)).distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Edit-distance (Levenshtein) near-duplicate pairs — the
    * character-level dedup family (vs token-level MinHash/SimHash):
    * catches small byte edits (typo fixes, boilerplate suffix swaps,
    * version stamps) that barely move a shingle signature but matter to
    * exact-match decontamination.
    *
    * Candidate generation is a PREFIX-BUCKET equi-join: two texts within
    * edit distance `maxDist` that are longer than `prefixLen + maxDist`
    * share their first `prefixLen` characters unless an edit lands in
    * the prefix — the cheap high-recall blocker for the append/suffix
    * edit class this operator targets (prefix-edited pairs need a
    * second pass with a reversed-prefix bucket; same cost shape). A
    * length filter (`abs(len_a - len_b) <= maxDist`, a Levenshtein
    * lower bound) prunes inside each bucket before any distance is
    * computed, and `maxBucket` caps degenerate buckets exactly like
    * [[minhashLsh]].
    *
    * Scale shape: the bucket join shuffles (bucket hash, id, length)
    * only; full text flows once per surviving candidate side through
    * the verify join, and the quadratic Levenshtein kernel runs ONLY on
    * length-filtered in-bucket pairs. Fully SQL-expressible (substr +
    * levenshtein), so the driver gate is a complete DuckDB hash match —
    * no tolerance, no planted twin needed. */
  def editDistanceNearDup(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, prefixLen: Int = 16, maxBucket: Int = 300)
      : DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    val keyed = df.select(col(idCol).as("id"),
      substring(col(textCol), 1, prefixLen).as("__pfx"),
      length(col(textCol)).as("__len"),
      md5(col(textCol)).as("__fp"))
    val bucketSizes = keyed.groupBy("__pfx")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(2, maxBucket))
    val pruned = keyed.join(bucketSizes, "__pfx")
    val pairs = pruned.select(col("__pfx"), col("id").as("a"),
        col("__len").as("la"), col("__fp").as("__fpa"))
      .join(pruned.select(col("__pfx"), col("id").as("b"),
        col("__len").as("lb"), col("__fp").as("__fpb")), Seq("__pfx"))
      .filter(col("a") < col("b") &&
        abs(col("la") - col("lb")) <= maxDist)
      .select(col("a"), col("b"),
        least(col("__fpa"), col("__fpb")).as("__f1"),
        greatest(col("__fpa"), col("__fpb")).as("__f2"))
    // the quadratic Levenshtein kernel runs ONCE PER DISTINCT TEXT PAIR,
    // not once per id pair: under duplicate-dense corpora (the 32×-copy
    // drill blew past linear on the per-id form — O(copies²) identical
    // distance computations) the kernel count stays at the distinct-text
    // level while only 32-byte digests ride the expansion joins
    val repText = df.select(md5(col(textCol)).as("__fp"),
        col(textCol).as("__t"))
      .groupBy("__fp").agg(min("__t").as("__t"))
    val distinctPairs = pairs.select("__f1", "__f2").distinct()
      .join(repText.select(col("__fp").as("__f1"), col("__t").as("__t1")),
        "__f1")
      .join(repText.select(col("__fp").as("__f2"), col("__t").as("__t2")),
        "__f2")
      .withColumn("edit_dist", when(col("__f1") === col("__f2"), 0)
        .otherwise(levenshtein(col("__t1"), col("__t2"))))
      .filter(col("edit_dist") <= maxDist)
      .select("__f1", "__f2", "edit_dist")
    pairs.join(distinctPairs, Seq("__f1", "__f2"))
      .select("a", "b", "edit_dist")
  }

  /** Embedding-cosine near-duplicate pairs among a bounded probe set —
    * the exact/verification path (LSH-bucketed variant in
    * [[AnnSearch.hyperplaneBuckets]]). */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      probeMax: Long, threshold: Double): DataFrame = {
    val a = df.filter(col(idCol) < probeMax)
      .select(col(idCol).as("a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("b"), col(vecCol).as("vb"))
    b.join(broadcast(a), col("a") < col("b"))
      .withColumn("cos", round(
        graft.functions.GraftFunctions.cosineSim(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }
}
