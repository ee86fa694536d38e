package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the r13 native BPE expressions ([[graft.expressions.BpeTable]],
  * `graft_bpe_{tokens,ntokens,curve}`) to the pre-r13 typed-map
  * implementations token-for-token: the dataframe surfaces
  * [[BpeTrainer.tokenize]] / [[BpeTrainer.countTokens]] /
  * [[BpeTrainer.countTokensCurve]] must return row-identical results to
  * [[BpeExprSpec.tokenizeTyped]] / `countTokensTyped` /
  * `countTokensCurveTyped` on the committed vocabulary, on random
  * trained lists over random corpora, and on adversarial texts
  * (whitespace framing, control chars, non-vocab unicode, aliasing
  * merges). Also asserts the plan claim: the encode path carries no
  * typed-map boundary (`MapElements` / object ser/de) any more. */
class BpeExprSpec extends SparkSpec {
  import BpeExprSpec._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def checkAll(docs: DataFrame, merges: Seq[(String, String)],
      sizes: Seq[Int], tag: String): Unit = {
    assert(rows(BpeTrainer.tokenize(docs, "doc_id", "text", merges)) ==
      rows(tokenizeTyped(docs, "doc_id", "text", merges)),
      s"$tag: tokenize expression != typed map")
    // countTokensTyped NPEs on null text (pre-r13 behavior); compare on
    // the non-null subset, where the expression must agree exactly
    val nn = docs.where(col("text").isNotNull)
    assert(rows(BpeTrainer.countTokens(nn, "doc_id", "text", merges)) ==
      rows(countTokensTyped(nn, "doc_id", "text", merges)),
      s"$tag: countTokens expression != typed map")
    if (merges.nonEmpty)
      assert(rows(BpeTrainer.countTokensCurve(docs, "doc_id", "text", merges, sizes)) ==
        rows(countTokensCurveTyped(docs, "doc_id", "text", merges, sizes)),
        s"$tag: countTokensCurve expression != typed map")
  }

  test("expression == typed map on the committed packMerges vocabulary over the fixture corpus") {
    val s = spark
    val docs = graft.core.Tables.documents(s, sfDir)
      .where(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val ms = graft.queries.CorpusOpsQueries.packMerges
    checkAll(docs, ms, Seq(0, 6, 12), "fixture corpus")
  }

  test("expression == typed map on random trained lists over random corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 4) {
      val alpha = if (trial % 2 == 0) "ab" else "abc"
      val docs = (1 to 25).map { i =>
        val words = (1 to (1 + rnd.nextInt(8))).map(_ =>
          (1 to (1 + rnd.nextInt(9))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
        (i.toLong, words.mkString(" "))
      }.toDF("doc_id", "text")
      val merges = BpeTrainer.train(docs, "text", nMerges = 8)
      checkAll(docs, merges, Seq(0, merges.size / 2, merges.size), s"trial $trial")
    }
  }

  test("expression == typed map on adversarial texts: framing whitespace, control chars, aliasing merges") {
    val s = spark
    import s.implicits._
    // ms contains an ALIASING pair: ("a","bc") and ("ab","c") both
    // produce "abc" — the int-id interning must keep them string-equal
    val ms = Seq(("b", "c"), ("a", "bc"), ("a", "b"), ("ab", "c"), ("abc", "abc"))
    val docs = Seq(
      (1L, "abc abcabc aabbcc"),
      (2L, "  \t abc \n\r abcabcabc  "),
      (3L, "abc abc abéc 😀abc"), // control, accented, surrogate pair
      (4L, ""), (5L, "   "), (6L, null.asInstanceOf[String]),
      (7L, "a b c ab bc abc"),
      (8L, "ababab abcabc ccc")).toDF("doc_id", "text")
    checkAll(docs, ms, Seq(0, 2, 5), "adversarial")
    // duplicate pair in the list: first-wins rank semantics
    val dup = Seq(("a", "b"), ("b", "c"), ("a", "b"))
    checkAll(docs, dup, Seq(0, 1, 3), "duplicate pair")
    // empty merge list
    checkAll(docs, Nil, Seq(0), "empty merges")
  }

  test("null merges, short merge pairs and null sizes are rejected at analysis, not with an NPE") {
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val merges = "array(array('a', 'b'))"
    val nullMerges = "CAST(NULL AS array<array<string>>)"
    val nullPair = "array(array('a', 'b'), CAST(NULL AS array<string>))"
    val nullElem = "array(array('a', CAST(NULL AS string)))"
    val single = "array(array('a', 'b'), array('ab'))"
    val sizes = "array(CAST(1 AS bigint))"
    // every call reaches the function both as raw SQL and through
    // call_function, each with the same SQL literals
    def rejected(fn: String, hint: String, args: String*): Unit = {
      val sql = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $fn('ab ab', ${args.mkString(", ")})").collect())
      assert(sql.getMessage.contains(hint), sql.getMessage)
      val api = intercept[org.apache.spark.sql.AnalysisException](
        spark.range(1).select(call_function(fn, (lit("ab ab") +: args.map(expr)): _*))
          .collect())
      assert(api.getMessage.contains(hint), api.getMessage)
    }
    for (fn <- Seq("graft_bpe_ntokens", "graft_bpe_tokens")) {
      rejected(fn, "requires a non-null merge list", nullMerges)
      rejected(fn, "merge 1 is not a pair of non-null strings", nullPair)
      rejected(fn, "merge 0 is not a pair of non-null strings", nullElem)
      rejected(fn, "merge 1 is not a pair of non-null strings", single)
    }
    rejected("graft_bpe_curve", "requires a non-null merge list", nullMerges, sizes)
    rejected("graft_bpe_curve", "merge 1 is not a pair of non-null strings", nullPair, sizes)
    rejected("graft_bpe_curve", "merge 0 is not a pair of non-null strings", nullElem, sizes)
    rejected("graft_bpe_curve", "requires a prefix-size list with no nulls",
      merges, "CAST(NULL AS array<bigint>)")
    rejected("graft_bpe_curve", "requires a prefix-size list with no nulls",
      merges, "array(CAST(1 AS bigint), CAST(NULL AS bigint))")
    // the same calls with valid literals still run
    assert(spark.sql(s"SELECT graft_bpe_ntokens('ab ab', $merges)").head().getLong(0) == 2L)
    assert(spark.sql(s"SELECT graft_bpe_curve('ab ab', $merges, $sizes)")
      .head().getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) == Seq(2L))
  }

  test("null text counts 0 tokens in countTokens, as in tokenize, countTokensCurve and raw SQL over coalesce") {
    val s = spark
    import s.implicits._
    val ms = Seq(("a", "b"))
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "ab ab"))
      .toDF("doc_id", "text")
    val want = Seq("[1,0]", "[2,0]", "[3,2]")
    assert(rows(BpeTrainer.countTokens(docs, "doc_id", "text", ms)) == want)
    assert(rows(BpeTrainer.tokenize(docs, "doc_id", "text", ms)
      .select($"doc_id", $"n_bpe_tokens")) == want)
    assert(rows(BpeTrainer.countTokensCurve(docs, "doc_id", "text", ms, Seq(1))
      .select($"doc_id", $"n_bpe_tokens")) == want)
    // the contract as raw SQL and through call_function: the expression
    // itself stays null-in/null-out, the dataframe surface coalesces
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    docs.createOrReplaceTempView("bpe_null_docs")
    val merges = "array(array('a', 'b'))"
    assert(rows(spark.sql(s"SELECT doc_id, graft_bpe_ntokens(coalesce(text, ''), $merges) " +
      "FROM bpe_null_docs")) == want)
    assert(rows(docs.select($"doc_id", call_function("graft_bpe_ntokens",
      coalesce($"text", lit("")), expr(merges)))) == want)
    assert(spark.sql(s"SELECT graft_bpe_ntokens(CAST(NULL AS string), $merges)")
      .head().isNullAt(0))
  }

  test("plan: the countTokens encode path has no typed-map boundary (MapElements/ser-de gone)") {
    val s = spark
    val docs = graft.core.Tables.documents(s, sfDir)
      .where(col("doc_id").isNotNull && col("text").isNotNull)
    val plan = BpeTrainer.countTokens(docs, "doc_id", "text",
      graft.queries.CorpusOpsQueries.packMerges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("MapElements"), s"typed map survived:\n$plan")
    assert(!plan.contains("DeserializeToObject"), s"object ser/de survived:\n$plan")
    assert(plan.contains("graft_bpe_ntokens"), s"native expression missing:\n$plan")
  }
}

/** The pre-r13 typed-map encoders, kept in test scope as the reference
  * the native expressions are checked against. */
object BpeExprSpec {
  import BpeTrainer.{encodeWord, heapApplyCounts, ranksOf}

  /** The pre-r13 typed-map tokenize — the reference implementation
    * BpeExprSpec pins [[BpeTrainer.tokenize]] against (same fold-pinned
    * [[encodeWord]] per word, same null-as-empty framing). */
  private[graft] def tokenizeTyped(docs: DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ranksOf(merges))
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val toks = Option(text).getOrElse("").trim.split("\\s+").iterator
          .filter(_.nonEmpty)
          .flatMap(w => encodeWord(w, bc.value))
          .toSeq
        (id, toks, toks.size.toLong)
      }
      .toDF(idCol, "bpe_tokens", "n_bpe_tokens")
  }

  /** The pre-r13 typed-map curve — BpeExprSpec's reference for
    * [[BpeTrainer.countTokensCurve]]. */
  private[graft] def countTokensCurveTyped(docs: DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)],
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(k => k >= 0 && k <= merges.size),
      s"curve sizes must lie in [0, ${merges.size}] (got $sizes)")
    val spark = docs.sparkSession
    import spark.implicits._
    val nRanks = merges.size
    val bcR = spark.sparkContext.broadcast(ranksOf(merges))
    val bcS = spark.sparkContext.broadcast(sizes.toIndexedSeq)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val perRank = new Array[Long](nRanks + 1)
        var chars = 0L
        Option(text).getOrElse("").trim.split("\\s+").iterator
          .filter(_.nonEmpty)
          .foreach { w =>
            chars += w.length
            val c = heapApplyCounts(w, bcR.value, nRanks)
            var i = 0
            while (i < c.length) { perRank(i + 1) += c(i); i += 1 }
          }
        // prefix sums in place: perRank(k) = applications below rank k
        var i = 1
        while (i < perRank.length) { perRank(i) += perRank(i - 1); i += 1 }
        bcS.value.map(k => (id, k.toLong, chars - perRank(k)))
      }
      .toDF(idCol, "n_merges", "n_bpe_tokens")
  }

  /** The pre-r13 typed-map count — BpeExprSpec's reference for
    * [[BpeTrainer.countTokens]]. */
  private[graft] def countTokensTyped(docs: DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ranksOf(merges))
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.trim.split("\\s+").iterator.filter(_.nonEmpty)
          .map(w => encodeWord(w, bc.value).size.toLong).sum
        (id, toks)
      }
      .toDF(idCol, "n_bpe_tokens")
  }
}
