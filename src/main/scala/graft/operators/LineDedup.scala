package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level duplicated-LINE removal — the CCNet/RefinedWeb line-dedup
  * pass of web-corpus assembly: navigation menus, cookie banners, and
  * other boilerplate recur verbatim as whole lines across many pages;
  * removing repeated lines (rather than whole near-dup documents) keeps
  * the unique prose while stripping the chrome.
  *
  * Granularity is the caller's: the input carries an `array<string>`
  * lines column, segmented however the corpus warrants — newline split
  * for web text, sentences or fixed-size token windows for flat corpora
  * (the driver gate segments 10-token lines; see
  * [[graft.queries.PipelineQueries.lineDedup]]). The operator never
  * tokenizes, mirroring the [[Packing.packBySize]] contract: semantics
  * stay faithful to the caller's segmentation.
  *
  * Two removal policies:
  *  - `keepFirst = true` (default): one surviving copy corpus-wide, in
  *    the smallest-id document containing the line — the same survivor
  *    rule as [[Repetition.removeDupSpans]]. The keeper doc keeps ALL its
  *    occurrences; every other doc loses every occurrence.
  *  - `keepFirst = false`: boilerplate mode — a line duplicated across
  *    `minDocs` documents is deleted from every document including the
  *    first (CCNet drops repeated lines everywhere; with a high
  *    `minDocs` this is a pure boilerplate filter).
  *
  * Scale shape: lines leave the scan as (doc id, position, 8-byte hash)
  * — no line text enters the frequency shuffle. The duplicate aggregate
  * and the removal sets carry ids, ints, and hashes only; full documents
  * ride exactly one id-keyed join against the per-doc removal sets (only
  * docs that lose lines appear there — sparse on real corpora, so AQE
  * broadcasts it) and are rewritten by the O(lines + removed)
  * purge_positions kernel in a final projection.
  *
  * @param minDocs a line counts as duplicated when it occurs in at least
  *                this many distinct documents (within-doc repeats do not
  *                inflate the count)
  * @param sep     separator re-joining kept lines into `clean_text`
  * @param hasher  line → hash column. Default xxhash64 (8-byte shuffle
  *                keys, the production posture); pass `md5` when the
  *                removal set must be reproducible outside the JVM (the
  *                driver oracle does). Results are hash-agnostic short of
  *                collisions.
  */
object LineDedup {

  /** Returns (idCol, clean_text, n_lines, n_removed): kept lines
    * re-joined with `sep`, original line count, and deleted line count.
    * Documents losing every line emit `clean_text = ""`. */
  def removeDupLines(df: DataFrame, idCol: String, linesCol: String,
      minDocs: Int = 2, keepFirst: Boolean = true, sep: String = "\n",
      hasher: Column => Column = xxhash64(_)): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = df.select(col(idCol), col(linesCol).as("__ln"))
    // (id, position, hash) — the only shape line content ever shuffles in
    val lines = base
      .select(col(idCol), posexplode(transform(col("__ln"), l => hasher(l))))
      .withColumnRenamed("pos", "__p")
      .withColumnRenamed("col", "__h")
    // document frequency per line hash: distinct (doc, hash) first, so
    // within-doc repeats don't count as cross-doc duplication
    val dup = lines.select(col(idCol), col("__h")).distinct()
      .groupBy("__h")
      .agg(min(col(idCol)).as("__keeper"), count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
    val loses =
      if (keepFirst) col(idCol) =!= col("__keeper") else lit(true)
    val removal = lines.join(dup, "__h")
      .filter(loses)
      .groupBy(idCol)
      .agg(collect_set(col("__p")).as("__rm"))
    base.join(removal, Seq(idCol), "left")
      .select(col(idCol),
        concat_ws(sep, when(col("__rm").isNull, col("__ln"))
          .otherwise(graft.functions.GraftFunctions.purgePositions(
            col("__ln"), sort_array(col("__rm")))))
          .as("clean_text"),
        size(col("__ln")).as("n_lines"),
        when(col("__rm").isNull, 0).otherwise(size(col("__rm")))
          .as("n_removed"))
  }

  /** Fixed-size token-window segmentation for flat corpora (no newlines):
    * consecutive `width`-token windows of `textCol`, the last one ragged.
    * Appends `linesCol` (array<string>); empty docs get an empty array.
    * The gate uses this so both engines segment identically. */
  def segmentByTokens(df: DataFrame, textCol: String, linesCol: String,
      width: Int): DataFrame = {
    require(width >= 1, s"window width must be >= 1, got $width")
    // drop empty tokens: split("") is [""], not [] — without this an
    // empty doc would segment into one empty line
    val tk = filter(split(lower(col(textCol)), " "),
      t => length(t) > 0)
    // the tokens are one column, handed to the lambda as its element
    // (array_repeat): a lambda that read them from outside would get the
    // tokenizer inlined into its body and re-split the text per window
    df.withColumn("__tk", tk)
      .withColumn(linesCol, transform(
        array_repeat(col("__tk"),
          ceil(size(col("__tk")) / lit(width.toDouble)).cast("int")),
        (t, i) => array_join(slice(t, i * width + 1, lit(width)), " ")))
      .drop("__tk")
  }
}
