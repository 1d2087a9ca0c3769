package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.call_function

/** Public function surface of the engine.
  *
  * `builders` is the one function table: [[graft.api.GraftExtensions]]
  * injects it into every graft session, so every function is callable
  * from SQL (`SELECT cosine_sim(a, b) ...`) and from the DataFrame API via
  * the `Column` helpers below (which route through `call_function`,
  * keeping us off private Column internals).
  */
object GraftFunctions {

  private def intArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case s: Short => s.toInt
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal parameter, got $other")
  }

  private def longArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String): Long = e.eval() match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal parameter, got $other")
  }

  private def strArg(e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String): String = e.eval() match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case s: String => s
    case other => throw new IllegalArgumentException(
      s"$fn expects a string literal parameter, got $other")
  }

  private[graft] val builders: Map[String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression] = Map(
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "vec_dot" -> (es => DotProduct(es(0), es(1))),
    "vec_l2" -> (es => L2Distance(es(0), es(1))),
    "vec_norm" -> (es => VecNorm(es(0))),
    "riff_encode" -> (es => RiffEncode(es(0), es(1))),
    "riff_decode" -> (es => RiffDecode(es(0))),
    "minhash_sig" -> (es => MinHashSig(es(0),
      intArg(es(1), "minhash_sig"))),
    "simhash64" -> (es => SimHash64(es(0))),
    "minhash_text" -> (es => MinHashText(es(0),
      intArg(es(1), "minhash_text"), intArg(es(2), "minhash_text"))),
    "bleu_stats" -> (es => BleuStats(es(0), es(1),
      intArg(es(2), "bleu_stats"))),
    "bpe_encode" -> (es => BpeEncode(es(0), strArg(es(1), "bpe_encode"))),
    "block_term_hits" -> (es => MultiMatchTerms(es(0),
      strArg(es(1), "block_term_hits"))),
    "kmv_distinct" -> (es => KmvDistinct(es(0),
      intArg(es(1), "kmv_distinct")).toAggregateExpression()),
    "kmv_sketch" -> (es => KmvSketchAgg(es(0),
      intArg(es(1), "kmv_sketch")).toAggregateExpression()),
    "hll_distinct" -> (es => HllDistinct(es(0)).toAggregateExpression()),
    "vec_mean" -> (es => VecMean(es(0)).toAggregateExpression()),
    "vec_moments" -> (es => VecMoments(es(0),
      intArg(es(1), "vec_moments"),
      maxAbsQ = if (es.length > 2) intArg(es(2), "vec_moments").toLong
        else 512L).toAggregateExpression()),
    "cms_sketch" -> (es => CmsSketch(es(0), intArg(es(1), "cms_sketch"),
      intArg(es(2), "cms_sketch")).toAggregateExpression()),
    "cms_query" -> (es => CmsQuery(es(0), es(1),
      intArg(es(2), "cms_query"), intArg(es(3), "cms_query"))),
    "cms_inner" -> (es => CmsInnerProduct(es(0), es(1),
      intArg(es(2), "cms_inner"), intArg(es(3), "cms_inner"))),
    "pq_encode" -> (es => PqEncode(es(0), es(1),
      intArg(es(2), "pq_encode"), intArg(es(3), "pq_encode"))),
    "pq_dist_table" -> (es => PqDistTable(es(0), es(1),
      intArg(es(2), "pq_dist_table"), intArg(es(3), "pq_dist_table"))),
    "pq_adc" -> (es => PqAdc(es(0), es(1), intArg(es(2), "pq_adc"))),
    "winnow_fps" -> (es => WinnowFps(es(0),
      intArg(es(1), "winnow_fps"), intArg(es(2), "winnow_fps"))),
    "ngram_hashes" -> (es => NgramHashes(es(0),
      intArg(es(1), "ngram_hashes"))),
    "ngram_hashes_gen" -> (es => NgramHashGen(es(0),
      intArg(es(1), "ngram_hashes_gen"))),
    "ngram_rep_stats" -> (es => NgramRepStats(es(0),
      intArg(es(1), "ngram_rep_stats"))),
    "word_ngrams" -> (es => WordNgrams(es(0),
      intArg(es(1), "word_ngrams"))),
    "purge_positions" -> (es => PurgePositions(es(0), es(1))),
    "rand_project" -> (es => SignedProject(es(0), es(1),
      intArg(es(2), "rand_project"))),
    "vec_quant8" -> (es => VecQuant8(es(0))),
    "vec_dequant8" -> (es => VecDequant8(es(0), es(1))),
    "segment_tokens" -> (es => SegmentTokens(es(0),
      intArg(es(1), "segment_tokens"))),
    "chunk_windows" -> (es => ChunkWindows(es(0),
      intArg(es(1), "chunk_windows"), intArg(es(2), "chunk_windows"))),
    "cluster_assign" -> (es => ClusterAssign(es(0), es(1))),
    "sentence_split" -> (es => SentenceSplit(es(0))),
    "greedy_chunks" -> (es => GreedyChunks(es(0),
      intArg(es(1), "greedy_chunks"))),
    "hist_quantiles" -> (es => LogHistQuantiles(es(0),
      intArg(es(1), "hist_quantiles"),
      es(2).eval() match {
        // SQL numeric-array literals arrive as DECIMAL elements; the
        // DataFrame helper sends DOUBLE — accept any numeric element
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          val et = es(2).dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
          (0 until a.numElements()).map { i =>
            et match {
              case org.apache.spark.sql.types.DoubleType => a.getDouble(i)
              case org.apache.spark.sql.types.FloatType =>
                a.getFloat(i).toDouble
              case dt: org.apache.spark.sql.types.DecimalType =>
                a.getDecimal(i, dt.precision, dt.scale).toDouble
              case org.apache.spark.sql.types.IntegerType =>
                a.getInt(i).toDouble
              case org.apache.spark.sql.types.LongType =>
                a.getLong(i).toDouble
              case other => throw new IllegalArgumentException(
                s"hist_quantiles probes must be numeric, got $other")
            }
          }
        case other => throw new IllegalArgumentException(
          s"hist_quantiles expects an array probes literal, got $other")
      }).toAggregateExpression()),
    "bloom_agg" -> (es => BloomAgg(es(0), intArg(es(1), "bloom_agg"),
      intArg(es(2), "bloom_agg")).toAggregateExpression()),
    "bloom_contains" -> (es => BloomContains(es(0), es(1),
      intArg(es(2), "bloom_contains"), intArg(es(3), "bloom_contains"))),
    "utf8_normalize" -> (es => Utf8Normalize(es(0), es(1).eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"utf8_normalize expects a string-literal form, got $other")
    })),
    "strip_accents" -> (es => StripAccents(es(0))),
    "jaro_winkler" -> (es => JaroWinkler(es(0), es(1))),
    "damerau_levenshtein" -> (es => DamerauLevenshteinExpr(es(0), es(1))),
    "deflate_len" -> (es => DeflateLen(es(0))),
    "misra_gries" -> (es => MisraGries(es(0),
      intArg(es(1), "misra_gries")).toAggregateExpression()),
    "bitmap_agg" -> (es => BitmapAgg(es(0), longArg(es(1), "bitmap_agg"),
      longArg(es(2), "bitmap_agg")).toAggregateExpression()),
    "bitmap_count" -> (es => BitmapCount(es(0))),
    "bitmap_and_count" -> (es => BitmapAndCount(es(0), es(1))),
    "bitmap_or_count" -> (es => BitmapOrCount(es(0), es(1))),
  )

  /** The one late-attach seam, for a session built without
    * [[graft.api.GraftExtensions]] (the driver's own, say): registers this
    * table and applies the extension's strategies and rules. A no-op when
    * the session's own function registry already resolves every name, as
    * it does on every `Engine.session`. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!builders.keys.forall(n => registry.functionExists(FunctionIdentifier(n)))) {
      builders.foreach { case (name, b) =>
        registry.createOrReplaceTempFunction(name, b, "built-in")
      }
      GraftPlanBridge.attach(new graft.api.GraftExtensions, spark)
    }
  }

  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def vecL2(a: Column, b: Column): Column = call_function("vec_l2", a, b)
  def vecNorm(a: Column): Column = call_function("vec_norm", a)
  def riffEncode(headers: Column, payload: Column): Column =
    call_function("riff_encode", headers, payload)
  def riffDecode(frame: Column): Column = call_function("riff_decode", frame)
  def minhashSig(elems: Column, k: Int): Column =
    call_function("minhash_sig", elems, org.apache.spark.sql.functions.lit(k))
  def simhash64(elems: Column): Column = call_function("simhash64", elems)
  def kmvDistinct(c: Column, k: Int = 256): Column =
    call_function("kmv_distinct", c, org.apache.spark.sql.functions.lit(k))
  /** The KMV sketch itself (sorted min-hash array) for set algebra —
    * see [[graft.operators.KmvAlgebra]]. */
  def kmvSketch(c: Column, k: Int = 256): Column =
    call_function("kmv_sketch", c, org.apache.spark.sql.functions.lit(k))
  /** Own-HLL estimate as ONE aggregate (m = 256; the oracle-exact
    * md5 recipe of [[graft.operators.Hll]]) — key must be STRING. */
  def hllDistinct(c: Column): Column = call_function("hll_distinct", c)
  /** Misra–Gries heavy-hitter candidates: ≤ k (key, count) pairs, count
    * desc; exact when the group has ≤ k distinct keys. */
  /** Dense per-group distinct-key bitmap over a bounded domain — see
    * [[BitmapIndex]]; combine with [[bitmapCount]]/[[bitmapAndCount]]
    * for exact audience counts and overlap matrices. */
  def bitmapAgg(key: Column, lo: Long, hi: Long): Column =
    call_function("bitmap_agg", key,
      org.apache.spark.sql.functions.lit(lo),
      org.apache.spark.sql.functions.lit(hi))
  def bitmapCount(bm: Column): Column = call_function("bitmap_count", bm)
  def bitmapAndCount(a: Column, b: Column): Column =
    call_function("bitmap_and_count", a, b)
  def bitmapOrCount(a: Column, b: Column): Column =
    call_function("bitmap_or_count", a, b)
  def misraGries(c: Column, k: Int): Column =
    call_function("misra_gries", c, org.apache.spark.sql.functions.lit(k))
  /** Element-wise mean of an array<float|double> column, as array<double>. */
  def vecMean(c: Column): Column = call_function("vec_mean", c)
  /** Exact quantized second moments [n, d, sums, upper cross] — the
    * [[graft.operators.EmbedStats.covariance]] accumulator. Raises
    * loudly when any component quantizes beyond |xq| ≤ maxAbsQ (the
    * long-exactness bound) or is NULL. */
  def vecMoments(c: Column, grid: Int, maxAbsQ: Int = 512): Column =
    call_function("vec_moments", c,
      org.apache.spark.sql.functions.lit(grid),
      org.apache.spark.sql.functions.lit(maxAbsQ))
  /** Count-min sketch aggregate: depth×width counters, row-major. */
  def cmsSketch(item: Column, width: Int, depth: Int): Column =
    call_function("cms_sketch", item,
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(depth))
  /** Point estimate from a [[cmsSketch]] (one-sided: ≥ true count). */
  def cmsQuery(sketch: Column, item: Column, width: Int, depth: Int): Column =
    call_function("cms_query", sketch, item,
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(depth))
  /** Join-size estimate from two [[cmsSketch]]es over the join keys
    * (one-sided: ≥ the true join cardinality). */
  def cmsInner(a: Column, b: Column, width: Int, depth: Int): Column =
    call_function("cms_inner", a, b,
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(depth))
  /** Mergeable log-bucket quantile sketch over non-negative longs:
    * one estimate (bucket lower bound, rel. err ≤ 2^-subBits) per probe. */
  def histQuantiles(c: Column, subBits: Int, probes: Seq[Double]): Column =
    call_function("hist_quantiles", c,
      org.apache.spark.sql.functions.lit(subBits),
      org.apache.spark.sql.functions.array(
        probes.map(org.apache.spark.sql.functions.lit): _*))
  /** Bloom filter aggregate: ⌈mBits/64⌉ words, k md5 hash rows. */
  def bloomAgg(item: Column, mBits: Int, k: Int): Column =
    call_function("bloom_agg", item,
      org.apache.spark.sql.functions.lit(mBits),
      org.apache.spark.sql.functions.lit(k))
  /** Membership probe against a [[bloomAgg]] filter (one-sided). */
  def bloomContains(filter: Column, item: Column, mBits: Int, k: Int): Column =
    call_function("bloom_contains", filter, item,
      org.apache.spark.sql.functions.lit(mBits),
      org.apache.spark.sql.functions.lit(k))
  /** Unicode normalization (NFC/NFD/NFKC/NFKD) — canonicalize before any
    * digest-keyed dedup/decontam so composed and decomposed forms agree. */
  def utf8Normalize(text: Column, form: String = "NFC"): Column =
    call_function("utf8_normalize", text,
      org.apache.spark.sql.functions.lit(form))
  /** Accent folding: NFD + drop combining marks + NFC. */
  def stripAccents(text: Column): Column = call_function("strip_accents", text)
  /** zlib-deflated byte count — compressibility quality signal. */
  def deflateLen(c: Column): Column = call_function("deflate_len", c)
  /** Per-pair clipped n-gram overlap stats for BLEU — 2·maxN+1 longs:
    * candN_1..candN_maxN, ov_1..ov_maxN, refN_1 (see
    * [[TextHashExpressions.bleuStatsOf]]). */
  def bleuStats(cand: Column, ref: Column, maxN: Int): Column =
    call_function("bleu_stats", cand, ref,
      org.apache.spark.sql.functions.lit(maxN))

  def minhashText(text: Column, k: Int, shingle: Int = 3): Column =
    call_function("minhash_text", text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(shingle))
  /** Apply an ORDERED BPE merge table to every word of `text` — the
    * native kernel behind BpeTrain.encode. Symbols must be free of
    * the \u0001/\u0002 spec separators (whitespace-split corpus
    * symbols always are; enforced here). */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    merges.foreach { case (l, r) =>
      require(!(l + r).exists(c =>
          c == '\u0000' || c == '\u0001' || c == '\u0002'),
        s"bpeEncode: rule ($l, $r) carries a NUL/spec separator char")
      require(l.nonEmpty && r.nonEmpty, "bpeEncode: empty rule side")
    }
    val spec = merges.map { case (l, r) => l + "\u0001" + r }
      .mkString("\u0002")
    call_function("bpe_encode", text,
      org.apache.spark.sql.functions.lit(spec))
  }
  /** THE blocklist term list shared by the batch gate
    * (q_blocklist_hits), the streaming gate (q_stream_blocklist), the
    * ScaleBench drill, and both DuckDB oracle strings — hoisted here
    * (r14, ADVICE) so batch, stream, drill and oracle can never
    * diverge on a term: every site references this one constant or its
    * [[blockTermsSqlList]] rendering. */
  val BlockTerms: Seq[String] = Seq("slow scan", "big query",
    "fast merge", "vector", "drop table", "slow")

  /** [[BlockTerms]] rendered as a DuckDB list literal (single-quoted,
    * same order) for the oracle SQL strings. Raises at build time on a
    * term that would need escaping — the oracle literal must stay
    * byte-predictable. */
  def blockTermsSqlList: String = {
    BlockTerms.foreach(t => require(!t.contains("'"),
      s"blockTermsSqlList: term '$t' carries a quote"))
    BlockTerms.map(t => s"'$t'").mkString("[", ", ", "]")
  }

  /** Distinct blocklist terms found as substrings of `text`, in the
    * order of `terms` — ONE Aho–Corasick walk per row regardless of
    * dictionary size (see [[AcAutomaton]]). Case-sensitive exact
    * substring: `lower()` both sides for a case-folded screen. */
  def blockTermHits(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "blockTermHits: empty term list")
    require(terms.distinct.size == terms.size,
      "blockTermHits: duplicate terms")
    terms.foreach { t =>
      require(t.nonEmpty, "blockTermHits: empty term")
      require(!t.contains('\u0001'),
        "blockTermHits: term carries the spec separator U+0001")
    }
    call_function("block_term_hits", text,
      org.apache.spark.sql.functions.lit(terms.mkString("\u0001")))
  }

  /** Distinct packed (gramhash·10⁶ + pos) winnowing selections — the
    * [[graft.operators.Winnow]] kernel. */
  def winnowFps(text: Column, k: Int, w: Int): Column =
    call_function("winnow_fps", text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))
  def pqEncode(vec: Column, codebook: Column, m: Int, k: Int): Column =
    call_function("pq_encode", vec, codebook,
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(k))
  def pqDistTable(vec: Column, codebook: Column, m: Int, k: Int): Column =
    call_function("pq_dist_table", vec, codebook,
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(k))
  def pqAdc(dtable: Column, codes: Column, k: Int): Column =
    call_function("pq_adc", dtable, codes,
      org.apache.spark.sql.functions.lit(k))
  def ngramHashes(text: Column, n: Int): Column =
    call_function("ngram_hashes", text,
      org.apache.spark.sql.functions.lit(n))
  /** Generator (UDTF) form — one row per distinct n-gram hash. */
  def ngramHashesGen(text: Column, n: Int): Column =
    call_function("ngram_hashes_gen", text,
      org.apache.spark.sql.functions.lit(n))
  /** [total, distinct, maxRun] of a doc's word n-grams in one pass. */
  def ngramRepStats(text: Column, n: Int): Column =
    call_function("ngram_rep_stats", text,
      org.apache.spark.sql.functions.lit(n))
  /** Space-joined n-grams of consecutive tokens, in order, duplicates
    * kept — one kernel pass over an already tokenized array. */
  def wordNgrams(toks: Column, n: Int): Column =
    call_function("word_ngrams", toks,
      org.apache.spark.sql.functions.lit(n))
  /** Tokens minus the SORTED 0-based positions, one linear merge. */
  def purgePositions(toks: Column, sortedPos: Column): Column =
    call_function("purge_positions", toks, sortedPos)
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)
  def damerauLevenshtein(a: Column, b: Column): Column =
    call_function("damerau_levenshtein", a, b)
  /** JL ±1 projection: signs is the flat outDim×inDim matrix. */
  def randProject(vec: Column, signs: Column, outDim: Int): Column =
    call_function("rand_project", vec, signs,
      org.apache.spark.sql.functions.lit(outDim))
  /** Int8 quantization: struct(sq_scale, sq_codes). */
  def vecQuant8(vec: Column): Column = call_function("vec_quant8", vec)
  /** Int8 reconstruction: codes · scale, array<double>. */
  def vecDequant8(codes: Column, scale: Column): Column =
    call_function("vec_dequant8", codes, scale)
  /** Consecutive width-token windows of the single-space tokenization. */
  def segmentTokens(text: Column, width: Int): Column =
    call_function("segment_tokens", text,
      org.apache.spark.sql.functions.lit(width))
  /** Generator: one row per overlapping token-window chunk. */
  def chunkWindows(text: Column, width: Int, stride: Int): Column =
    call_function("chunk_windows", text,
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(stride))
  /** Argmax-cosine centroid assignment: struct(centroid_id, sim). */
  def clusterAssign(vec: Column, cents: Column): Column =
    call_function("cluster_assign", vec, cents)
  /** Sentences split on `[.!?]+` + one consumed space, empties dropped. */
  def sentenceSplit(text: Column): Column =
    call_function("sentence_split", text)
  /** Greedy no-straddle chunk ids over per-element token counts. */
  def greedyChunks(counts: Column, maxTokens: Int): Column =
    call_function("greedy_chunks", counts,
      org.apache.spark.sql.functions.lit(maxTokens))
}
