package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled form of a BPE merge list for the native encode expressions —
  * the `graft_hilbert` treatment (r12) applied to the last big CPU sink:
  * [[graft.operators.BpeTrainer.encodeWord]]'s per-word heap encoder ran
  * as an opaque typed `Dataset.map` over immutable `Seq[String]` symbols
  * (a String allocation per character, a tuple allocation per rank
  * probe, and a rank→pair Map REBUILT per word), outside whole-stage
  * codegen and through an encoder ser/de boundary.
  *
  * This table interns every symbol STRING to a dense int id (lhs, rhs
  * and concat share ids by string VALUE, so the string-aliasing
  * semantics of the Seq[String] encoder — two merges producing the same
  * concat compare equal afterwards — are preserved exactly), and the
  * encode works in-place on an int array with an int binary heap. The
  * recurrence is line-for-line [[graft.operators.BpeTrainer
  * .encodeWordTallied]]: same first-wins rank map, same
  * present-then-one-left-to-right-pass merge application, same
  * "new adjacency only if its rank is strictly above the rank that
  * created it and never seen" push rule. BpeExprSpec pins the three
  * expressions equal to the typed-map originals token-for-token on the
  * committed vocabulary and on ScalaCheck-random merge lists. */
private[graft] final class BpeTable(val pairs: Array[(String, String)])
    extends Serializable {
  val nRanks: Int = pairs.length

  // ---- symbol interning: one id per distinct symbol STRING ----
  private val idOf = new java.util.HashMap[String, Integer]()
  private val symBuf = new scala.collection.mutable.ArrayBuffer[String]()
  private def intern(s: String): Int = {
    val e = idOf.get(s)
    if (e != null) e.intValue()
    else { val id = symBuf.length; idOf.put(s, id); symBuf += s; id }
  }
  val rankA = new Array[Int](nRanks)
  val rankB = new Array[Int](nRanks)
  val rankAB = new Array[Int](nRanks)
  locally {
    var r = 0
    while (r < nRanks) {
      val (a, b) = pairs(r)
      rankA(r) = intern(a); rankB(r) = intern(b); rankAB(r) = intern(a + b)
      r += 1
    }
  }
  val nSyms: Int = symBuf.length
  /** id -> symbol string / UTF8 (UTF8Strings are immutable; sharing one
    * instance across output rows is the Literal convention). */
  val symStr: Array[String] = symBuf.toArray
  @transient lazy val symUtf8: Array[UTF8String] =
    symStr.map(UTF8String.fromString)

  // ---- (a, b) -> first-wins rank (BpeTrainer.ranksOf semantics) ----
  // dense int table when small (12-merge committed vocab => ~1 KB);
  // LongMap fallback keeps 50k-merge production vocabularies working.
  private val denseOk = nSyms.toLong * nSyms <= (1L << 22)
  private val dense: Array[Int] =
    if (denseOk) Array.fill(nSyms * nSyms)(-1) else null
  private val sparse: scala.collection.mutable.LongMap[Int] =
    if (denseOk) null else scala.collection.mutable.LongMap.empty[Int]
  locally {
    var r = 0
    while (r < nRanks) {
      val k = rankA(r).toLong * nSyms + rankB(r)
      if (denseOk) { if (dense(k.toInt) < 0) dense(k.toInt) = r }
      else if (!sparse.contains(k)) sparse(k) = r
      r += 1
    }
  }
  /** Rank of adjacent pair (a, b), or -1. Negative ids (characters not
    * in the vocabulary) can never merge. */
  @inline private def rankOf(a: Int, b: Int): Int =
    if (a < 0 || b < 0) -1
    else if (denseOk) dense(a * nSyms + b)
    else sparse.getOrElse(a.toLong * nSyms + b, -1)

  /** char -> id for single-char vocabulary symbols; chars outside the
    * vocabulary get the unique negative id ~c (never merges, equal only
    * to itself — exactly String-equality over 1-char symbols). */
  private val charIds: Array[Int] = {
    val t = Array.fill(65536)(-1)
    var i = 0
    while (i < nSyms) {
      val s = symStr(i)
      if (s.length == 1) t(s.charAt(0).toInt) = i
      i += 1
    }
    t
  }

  /** Per-thread scratch: the encode mutates these in place. Expression
    * instances are deserialized per task, but interpreted eval can also
    * run on shared driver-side instances — ThreadLocal keeps it safe
    * either way, with zero per-word allocation. */
  private[expressions] final class Scratch {
    var ids: Array[Int] = new Array[Int](64)
    val heap = new Array[Int](nRanks + 1)
    var heapN = 0
    val seenEpoch = new Array[Int](nRanks)
    var epoch = 0
    val tally = new Array[Long](nRanks)
  }
  @transient private[expressions] lazy val scratchTl: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  @inline private def heapPush(sc: Scratch, v: Int): Unit = {
    val h = sc.heap
    var i = sc.heapN; sc.heapN += 1
    h(i) = v
    while (i > 0 && h((i - 1) >> 1) > h(i)) {
      val p = (i - 1) >> 1
      val t = h(p); h(p) = h(i); h(i) = t; i = p
    }
  }
  @inline private def heapPop(sc: Scratch): Int = {
    val h = sc.heap
    val top = h(0)
    sc.heapN -= 1
    h(0) = h(sc.heapN)
    var i = 0
    var cont = true
    while (cont) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < sc.heapN && h(l) < h(m)) m = l
      if (r < sc.heapN && h(r) < h(m)) m = r
      if (m == i) cont = false
      else { val t = h(m); h(m) = h(i); h(i) = t; i = m }
    }
    top
  }

  /** Encode word chars `s[from, until)` in place into `sc.ids`; returns
    * the final symbol count. When `tally` is non-null, `tally(r)` is
    * incremented by the number of firings of rank r (each firing removes
    * exactly one symbol — the [[graft.operators.BpeTrainer
    * .heapApplyCounts]] contract). */
  private def encodeRange(s: String, from: Int, until: Int, sc: Scratch,
      tally: Array[Long]): Int = {
    val len = until - from
    if (sc.ids.length < len)
      sc.ids = new Array[Int](math.max(len, sc.ids.length * 2))
    val ids = sc.ids
    var i = 0
    while (i < len) {
      val c = s.charAt(from + i).toInt
      val v = charIds(c)
      ids(i) = if (v >= 0) v else ~c
      i += 1
    }
    var n = len
    if (n < 2 || nRanks == 0) return n
    // on wrap an old mark would equal a new epoch and skip its rank
    if (sc.epoch == Int.MaxValue) {
      java.util.Arrays.fill(sc.seenEpoch, 0)
      sc.epoch = 0
    }
    sc.epoch += 1
    val ep = sc.epoch
    sc.heapN = 0
    i = 0
    while (i + 1 < n) {
      val r = rankOf(ids(i), ids(i + 1))
      if (r >= 0 && sc.seenEpoch(r) != ep) { sc.seenEpoch(r) = ep; heapPush(sc, r) }
      i += 1
    }
    while (sc.heapN > 0) {
      val r = heapPop(sc)
      val a = rankA(r); val b = rankB(r); val ab = rankAB(r)
      // one left-to-right non-overlapping merge pass (applyMerge)
      var w = 0; var p = 0; var merged = 0
      while (p < n) {
        if (p + 1 < n && ids(p) == a && ids(p + 1) == b) {
          ids(w) = ab; p += 2; merged += 1
        } else { ids(w) = ids(p); p += 1 }
        w += 1
      }
      if (merged > 0) {
        n = w
        if (tally != null) tally(r) += merged.toLong
        // new adjacencies all touch the merged symbol; future ranks only
        var j = 0
        while (j < n) {
          if (ids(j) == ab) {
            if (j > 0) {
              val r2 = rankOf(ids(j - 1), ab)
              if (r2 > r && sc.seenEpoch(r2) != ep) { sc.seenEpoch(r2) = ep; heapPush(sc, r2) }
            }
            if (j + 1 < n) {
              val r2 = rankOf(ab, ids(j + 1))
              if (r2 > r && sc.seenEpoch(r2) != ep) { sc.seenEpoch(r2) = ep; heapPush(sc, r2) }
            }
          }
          j += 1
        }
      }
    }
    n
  }

  // Java regex \s (no UNICODE flag), the BpeTrainer split("\\s+") class.
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Iterate the words of `text` exactly as `text.trim.split("\\s+")
    * .filter(_.nonEmpty)` does: trim strips leading/trailing chars
    * <= ' ' (a superset of \s), after which words are the maximal
    * non-\s runs. `f(from, until)` is called per word. */
  @inline private def foreachWord(text: String)(f: (Int, Int) => Unit): Unit = {
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) <= ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) <= ' ') hi -= 1
    var i = lo
    while (i < hi) {
      while (i < hi && isWs(text.charAt(i))) i += 1
      if (i < hi) {
        var j = i
        while (j < hi && !isWs(text.charAt(j))) j += 1
        f(i, j)
        i = j
      }
    }
  }

  /** Doc-level token count (countTokens semantics). */
  def countDoc(text: String): Long = {
    val sc = scratchTl.get()
    var total = 0L
    foreachWord(text) { (from, until) =>
      total += encodeRange(text, from, until, sc, null).toLong
    }
    total
  }

  /** Doc-level token array (tokenize semantics). */
  def tokensDoc(text: String): ArrayData = {
    val sc = scratchTl.get()
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    foreachWord(text) { (from, until) =>
      val n = encodeRange(text, from, until, sc, null)
      var k = 0
      while (k < n) {
        val id = sc.ids(k)
        out += (if (id >= 0) symUtf8(id)
                else UTF8String.fromString(String.valueOf((~id).toChar)))
        k += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Doc-level merge curve (countTokensCurve semantics): one
    * (n_merges=k, n_bpe_tokens=chars − firings-below-k) struct per
    * requested prefix size, in `sizes` order. */
  def curveDoc(text: String, sizes: Array[Int]): ArrayData = {
    val sc = scratchTl.get()
    java.util.Arrays.fill(sc.tally, 0L)
    var chars = 0L
    foreachWord(text) { (from, until) =>
      chars += (until - from).toLong
      encodeRange(text, from, until, sc, sc.tally)
    }
    val out = new Array[Any](sizes.length)
    var i = 0
    while (i < sizes.length) {
      val k = sizes(i)
      var below = 0L
      var r = 0
      while (r < k) { below += sc.tally(r); r += 1 }
      out(i) = new GenericInternalRow(Array[Any](k.toLong, chars - below))
      i += 1
    }
    new GenericArrayData(out)
  }
}

private[graft] object BpeTable {
  /** Build from the foldable array<array<string>> merges literal, once
    * [[checkMerges]] has accepted it. */
  def fromLiteral(mergesExpr: Expression): BpeTable = {
    val arr = mergesExpr.eval().asInstanceOf[ArrayData]
    val pairs = Array.tabulate(arr.numElements()) { i =>
      val p = arr.getArray(i)
      (p.getUTF8String(0).toString, p.getUTF8String(1).toString)
    }
    new BpeTable(pairs)
  }

  def checkMerges(mergesExpr: Expression, name: String): TypeCheckResult = {
    val ok = mergesExpr.foldable && (mergesExpr.dataType match {
      case ArrayType(ArrayType(StringType, _), _) => true
      case _ => false
    })
    if (!ok) return TypeCheckResult.TypeCheckFailure(
      s"$name requires a foldable array<array<string>> merge list, got " +
        mergesExpr.dataType.simpleString)
    val arr = mergesExpr.eval().asInstanceOf[ArrayData]
    if (arr == null)
      return TypeCheckResult.TypeCheckFailure(s"$name requires a non-null merge list")
    val bad = (0 until arr.numElements()).find { i =>
      arr.isNullAt(i) || {
        val p = arr.getArray(i)
        p.numElements() < 2 || p.isNullAt(0) || p.isNullAt(1)
      }
    }
    bad.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(i =>
      TypeCheckResult.TypeCheckFailure(
        s"$name merge $i is not a pair of non-null strings"))
  }
}

/** `graft_bpe_ntokens(text, merges)` -> bigint: the total BPE token
  * count of a document — [[graft.operators.BpeTrainer.countTokens]]'s
  * per-row value as one codegen'd call, with NO token strings ever
  * materialized (every query consumer reads only the count). */
case class BpeTokenCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_ntokens"

  @transient private lazy val table: BpeTable = BpeTable.fromLiteral(right)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string text column, got ${left.dataType.simpleString}")
    else BpeTable.checkMerges(right, prettyName)

  def run(text: UTF8String): Long = table.countDoc(text.toString)

  override protected def nullSafeEval(t: Any, m: Any): Any =
    run(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCount", this, classOf[BpeTokenCount].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.run($t);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BpeTokenCount = copy(left = newLeft, right = newRight)
}

/** `graft_bpe_tokens(text, merges)` -> array<string>: the full BPE token
  * sequence of a document ([[graft.operators.BpeTrainer.tokenize]]'s
  * `bpe_tokens` column). Kept separate from [[BpeTokenCount]] so column
  * pruning drops the string materialization wherever only the count is
  * consumed — which is every declared query path. */
case class BpeTokens(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_tokens"

  @transient private lazy val table: BpeTable = BpeTable.fromLiteral(right)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string text column, got ${left.dataType.simpleString}")
    else BpeTable.checkMerges(right, prettyName)

  def run(text: UTF8String): ArrayData = table.tokensDoc(text.toString)

  override protected def nullSafeEval(t: Any, m: Any): Any =
    run(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTokens", this, classOf[BpeTokens].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.run($t);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BpeTokens = copy(left = newLeft, right = newRight)
}

/** `graft_bpe_curve(text, merges, sizes)` -> array<struct<n_merges:
  * bigint, n_bpe_tokens: bigint>>: token counts under every requested
  * merge-list PREFIX from one encode ([[graft.operators.BpeTrainer
  * .countTokensCurve]]'s fused form — prefix-k count = chars − firings
  * of ranks below k, because the fold after k ranks IS the k-prefix
  * encoder's final state). One struct per entry of `sizes`, in order;
  * the caller explodes. */
case class BpeCurve(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n_merges", LongType, nullable = false),
    StructField("n_bpe_tokens", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_bpe_curve"

  @transient private lazy val table: BpeTable = BpeTable.fromLiteral(second)
  @transient private lazy val sizes: Array[Int] = {
    val arr = third.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getLong(i).toInt)
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (first.dataType != StringType)
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string text column, got ${first.dataType.simpleString}")
    val m = BpeTable.checkMerges(second, prettyName)
    if (m != TypeCheckResult.TypeCheckSuccess) return m
    val sizesOk = third.foldable && (third.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (!sizesOk)
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable array<bigint> prefix-size list, got " +
          third.dataType.simpleString)
    val arr = third.eval().asInstanceOf[ArrayData]
    if (arr == null || (0 until arr.numElements()).exists(arr.isNullAt))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a prefix-size list with no nulls")
    else if (!sizes.forall(k => k >= 0 && k <= table.nRanks))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName sizes must lie in [0, ${table.nRanks}] (got ${sizes.toSeq})")
    else TypeCheckResult.TypeCheckSuccess
  }

  def run(text: UTF8String): ArrayData = table.curveDoc(text.toString, sizes)

  override protected def nullSafeEval(t: Any, m: Any, s: Any): Any =
    run(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCurve", this, classOf[BpeCurve].getName)
    nullSafeCodeGen(ctx, ev, (t, _, _) => s"${ev.value} = $ref.run($t);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): BpeCurve =
    copy(first = newFirst, second = newSecond, third = newThird)
}
