package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken,
  * SIGMOD'03 — the MOSS local-fingerprinting algorithm): hash every
  * k-gram, slide a window of `w` consecutive k-gram hashes, and keep
  * each window's minimum — guaranteeing any match of length
  * ≥ k + w − 1 shares a fingerprint, at an expected density of
  * 2/(w+1). The plagiarism / near-copy detection primitive whose
  * selected-position evidence exact dedup (which needs identical
  * docs) and MinHash (which loses positions) both lack.
  *
  * Determinism / oracle: the k-gram hash is the repo's shared
  * polynomial `(h·31 + c) mod 1e9+7` (the q_text_rollhash recipe,
  * reproducible in SQL), and the window minimum is taken over the
  * single long `hash·10⁶ + pos` — a lexicographic (hash, pos) min, so
  * ties select the LEFTMOST minimal position (the original algorithm's
  * "robust winnowing" picks the rightmost; any fixed rule preserves
  * the guarantee — ours is chosen to be one comparison in both
  * engines). Requires positions < 10⁶, loudly guarded.
  *
  * Scale shape (round 11, the NATIVE kernel): the whole selection is
  * doc-LOCAL, so nothing ever leaves its document row until the final
  * explode of SELECTED fingerprints (expected density 2/(w+1) of
  * positions). The selection itself is one codegen'd expression
  * ([[graft.functions.TextHashExpressions.winnowFpsOf]]): a single
  * O(n) pass per doc — rolling polynomial gram hashes + a monotonic
  * deque for the window minima, zero per-position allocation. The
  * round-10 HOF form re-sliced and re-split the text once per exploded
  * position and shuffled every position into a window (6.3 s at
  * sf0.1); a first per-doc array-HOF rewrite (slice + aggregate per
  * position) cut that to 2.2 s but still allocated a k-array per gram
  * and drilled 19.8× at 32× — the native kernel is scan-bound, no
  * shuffle at all before the explode. Docs never compare to each
  * other here; downstream equi-joins on fp_hash find the cross-doc
  * matches.
  */
object Winnow {

  private val PosBase = 1000000L

  /** @return (idCol, fp_hash, fp_pos) — the selected fingerprints;
    *         docs shorter than k + w − 1 chars have no full window and
    *         emit nothing (mirrored by the oracle's length filter).
    *         A ≥ 10⁶-char doc would corrupt the pos packing silently,
    *         so the kernel refuses it loudly. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    val t = col(textCol)
    df.filter(length(t) >= k + w - 1)
      .select(col(idCol),
        explode(graft.functions.GraftFunctions.winnowFps(t, k, w))
          .as("__sel"))
      .select(col(idCol), expr(s"__sel div $PosBase").as("fp_hash"),
        (col("__sel") % PosBase).as("fp_pos"))
  }
}
