package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Decontam, Dedup, SetSimJoin}
import graft.queries.DedupQueries

/** The `word_ngrams` kernel and the three shingling helpers built on it
  * (`DedupQueries.shingled`, `Dedup.shingles`, `Decontam.ngrams`). Each
  * helper must return exactly the arrays of the higher-order-function
  * form it replaced, kept below verbatim as the reference, and none of
  * their plans may leave the tokenizer inside a lambda body, where it
  * runs once per n-gram. */
class WordNgramsSpec extends SparkSpec {

  import spark.implicits._

  /** The former `DedupQueries.shingled`, verbatim. */
  private def refShingled(docs: DataFrame, outCol: String): DataFrame = {
    val tk = filter(split(lower(col("text")), " "), t => length(t) > 0)
    docs
      .select(col("doc_id"), tk.as("tk"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        when(size(col("tk")) < 3, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(col("tk")) - 2),
            i => concat_ws(" ", element_at(col("tk"), i),
              element_at(col("tk"), i + 1),
              element_at(col("tk"), i + 2)))).as(outCol))
  }

  /** The former `Dedup.shingles`, verbatim. */
  private def refShingles(text: Column, n: Int = 3): Column = {
    val toks = split(lower(text), "\\s+")
    val grams = transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    array_distinct(when(size(toks) < n, array(lower(text))).otherwise(grams))
  }

  /** The former `Decontam.ngrams`, verbatim. */
  private def refNgrams(text: Column, n: Int): Column = {
    val toks = split(lower(text), " ")
    array_distinct(when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - n + 1),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>")))
  }

  private val texts: Seq[(Long, String)] = Seq(
    1L -> "",
    2L -> "one",
    3L -> "Two words",
    4L -> "a b c",
    5L -> "a b c d e",
    6L -> "x y x y x y x y",
    7L -> "the cat the cat the cat",
    8L -> "a  b   c d",
    9L -> "  lead and trail  ",
    10L -> " a b c",
    11L -> "a b c ",
    12L -> "tab\tsep line\nsep and\r\nmore \t mixed",
    13L -> "\t\n",
    14L -> " ",
    15L -> "Ärger über Ökonomie — naïve café 東京 東京 東京 ß SS",
    16L -> "İstanbul ΣΊΣΥΦΟΣ ǅemal x")
  // a null text: its own frame (toDF cannot infer from a bare null)
  private def docs: DataFrame = texts.toDF("doc_id", "text")
    .unionByName(Seq((17L, Option.empty[String])).toDF("doc_id", "text"))

  /** `docs` as a local relation (the optimizer folds the projection:
    * interpreted eval) and behind an exchange (generated code). */
  private def bothPaths: Seq[(String, DataFrame)] =
    Seq("interpreted" -> docs, "codegen" -> docs.repartition(2))

  private def rows(df: DataFrame): Map[Long, Seq[String]] =
    df.collect().map(r => r.getLong(0) ->
      Option(r.getSeq[String](1)).orNull).toMap

  test("shingled equals the former element_at form on every edge case") {
    for ((path, d) <- bothPaths) {
      val got = rows(DedupQueries.shingled(d, "sh"))
      assert(got === rows(refShingled(d, "sh")), path)
      assert(got(4L) === Seq("a b c"), path)
      assert(got(6L).size === 6, s"$path: duplicates are kept")
      assert(got(8L) === Seq("a b c", "b c d"), s"$path: empty tokens drop")
      assert(got(3L).isEmpty && got(13L).isEmpty, path)
    }
  }

  test("Dedup.shingles equals the former slice form (\\s+ tokens, " +
      "whole text below n, distinct)") {
    for ((path, d) <- bothPaths; n <- Seq(1, 2, 3, 5)) {
      val got = rows(d.select(col("doc_id"), Dedup.shingles(col("text"), n)))
      assert(got === rows(d.select(col("doc_id"),
        refShingles(col("text"), n))), s"$path n=$n")
    }
    val three = rows(docs.select(col("doc_id"), Dedup.shingles(col("text"))))
    assert(three(3L) === Seq("two words"))
    assert(three(6L) === Seq("x y x", "y x y"))
  }

  test("Decontam.ngrams equals the former slice form (single-space " +
      "tokens, empty below n, distinct)") {
    for ((path, d) <- bothPaths; n <- Seq(1, 2, 3, 5)) {
      val got = rows(d.select(col("doc_id"), Decontam.ngrams(col("text"), n)))
      assert(got === rows(d.select(col("doc_id"),
        refNgrams(col("text"), n))), s"$path n=$n")
    }
    val three = rows(docs.select(col("doc_id"), Decontam.ngrams(col("text"), 3)))
    assert(three(3L).isEmpty && three(17L).isEmpty)
    assert(three(11L) === Seq("a b c", "b c "))
  }

  test("word_ngrams skips null tokens as concat_ws does, keeps " +
      "duplicates, is empty below n and null for a null array") {
    val arrs = Seq(
      Seq("a", null, "b", "c"), Seq(null, null, "x"), Seq("", "a", ""),
      Seq("r", "r", "r", "r"), Seq("solo"), Seq.empty[String], null)
    val d = arrs.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "toks")
    for (src <- Seq(d, d.repartition(2)); n <- 1 to 4) {
      val ref = when(col("toks").isNull, lit(null))
        .when(size(col("toks")) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(col("toks")) - n + 1),
          i => concat_ws(" ", slice(col("toks"), i, lit(n)))))
      val got = rows(src.select(col("id"),
        GraftFunctions.wordNgrams(col("toks"), n)))
      assert(got === rows(src.select(col("id"), ref)), s"n=$n")
    }
    val two = rows(d.select(col("id"), GraftFunctions.wordNgrams(col("toks"), 2)))
    assert(two(0L) === Seq("a", "b", "b c"))
    assert(two(1L) === Seq("", "x"))
    assert(two(3L) === Seq("r r", "r r", "r r"))
    assert(two(4L).isEmpty && two(5L).isEmpty)
    assert(two(6L) == null)
  }

  test("word_ngrams runs from SQL on an extension-only session") {
    val fresh = spark.newSession()
    val r = fresh.sql("SELECT word_ngrams(split(t, ' '), 3) AS g " +
      "FROM VALUES ('a b c d'), ('a b') AS v(t)").collect()
    assert(r.map(_.getSeq[String](0)).toSeq ===
      Seq(Seq("a b c", "b c d"), Seq.empty[String]))
    assert(intercept[Exception](fresh.sql(
      "SELECT word_ngrams('a b c', 2)").collect()).getMessage
      .contains("word_ngrams expects array<string>"))
  }

  /** The tokenizer calls the optimizer left inside a lambda body: each
    * runs once per element the lambda visits, i.e. once per n-gram. */
  private def splitsInLambdas(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(
      _.collect {
        case l: LambdaFunction if l.function.exists(
          _.isInstanceOf[StringSplit]) => l.sql
      })

  test("no shingling plan re-splits the text inside a lambda when its " +
      "n-grams are exploded") {
    val corpus = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text")
    val plans = Seq(
      "shingled" -> DedupQueries.shingled(corpus, "sh")
        .select(col("doc_id"), explode(col("sh"))),
      "joinByJaccard(shingled)" -> SetSimJoin.joinByJaccard(
        DedupQueries.shingled(corpus, "toks"), "doc_id", "toks", 0.6),
      "Dedup.shingles" -> corpus.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), 3))),
      "Decontam.ngrams" -> corpus.select(col("doc_id"),
        explode(Decontam.ngrams(col("text"), 3))),
      "Decontam.overlap" -> Decontam.overlap(corpus,
        corpus.filter(col("doc_id") < 5), "doc_id", "text", 3))
    val offenders = plans.flatMap { case (name, df) =>
      splitsInLambdas(df).map(l => s"$name: ${l.take(300)}")
    }
    assert(offenders.isEmpty,
      s"tokenizer inside a lambda body:\n  ${offenders.mkString("\n  ")}")
    // the guard itself sees the shape it forbids
    assert(splitsInLambdas(corpus.select(explode(
      refShingles(col("text"))))).nonEmpty)
    // and the exploded shingles still equal the former form's
    val sh = DedupQueries.shingled(corpus, "sh")
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val ref = refShingled(corpus, "sh")
      .select(col("doc_id"), explode(col("sh")).as("g"))
    assert(sh.groupBy("doc_id", "g").count().exceptAll(
      ref.groupBy("doc_id", "g").count()).isEmpty)
    assert(sh.count() === ref.count())
    assert(sh.count() > 0L)
  }
}
