package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen kernels for the text/dedup hot paths (round 17,
  * guide §4 "eliminate non-codegen expressions in the hot path").
  *
  * Every per-document fold in the text/dedup families was built from
  * higher-order functions — `filter(split(text,' '), …)` tokenizers,
  * `transform(sequence(…), i -> concat_ws(' ', element_at…))` span
  * builders, `aggregate(…)` rolling hashes. HOFs are CodegenFallback:
  * the lambda dispatch and per-element boxing run INTERPRETED, and at
  * the sf10 decade those folds were individually worth 15–55 CPU-s
  * per query (BENCH_FULL_sf10.json). graft_lsh_buckets (LshBuckets.
  * scala) set the template: one native expression per fold, computing
  * the whole per-row result in a JIT-compiled primitive loop inside
  * WholeStageCodegen, with a BIT-EXACT contract against the HOF chain
  * it replaces (TextKernelsSpec proves equality expression-vs-chain
  * on corpus rows plus adversarial synthetic inputs; the DuckDB twins
  * are untouched and the full crosscheck re-attests every query).
  *
  * Tokenization contract shared by all kernels: a "token" is a
  * maximal run of non-space bytes (split on the single literal space,
  * exactly like `split(text, ' ')`); `filtered` mode drops empty
  * segments the way `filter(ws, w -> w <> '')` did, `raw` mode keeps
  * them (split's trailing-empty semantics under limit -1 included).
  * UTF-8 safe: 0x20 never occurs inside a multi-byte sequence.
  */
private[graft] object TextKernel {
  val md5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Segment offsets of b split on ' ', flat [s0,e0,s1,e1,…]. */
  def segments(b: Array[Byte], filtered: Boolean): (Array[Int], Int) = {
    var offs = new Array[Int](32)
    var n = 0
    val len = b.length
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == ' ') {
        if (!filtered || i > start) {
          if (2 * n + 2 > offs.length) offs = java.util.Arrays.copyOf(offs, offs.length * 2)
          offs(2 * n) = start
          offs(2 * n + 1) = i
          n += 1
        }
        start = i + 1
      }
      i += 1
    }
    (offs, n)
  }

  /** Value of the first nHex hex digits of digest, exactly
    * `conv(substring(hex(md5), 1, nHex), 16, 10)` (nHex ≤ 15). */
  def hexPrefixValue(digest: Array[Byte], nHex: Int): Long = {
    var v = 0L
    var i = 0
    while (i < nHex) {
      val by = digest(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) by >>> 4 else by & 0xf)
      i += 1
    }
    v
  }

  val emptyStrArray = new GenericArrayData(new Array[AnyRef](0))
  val emptyLongArray = new GenericArrayData(new Array[Long](0))
}

/** graft_tokens(text): the non-empty whitespace tokens, one native
  * pass — replaces `filter(split(text,' '), w -> w <> '')`. */
case class Tokens(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_tokens expects a string")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  protected override def nullSafeEval(input: Any): Any =
    Tokens.tokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tokens.tokens($c)")
  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

object Tokens {
  def tokens(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val (offs, n) = TextKernel.segments(b, filtered = true)
    if (n == 0) return TextKernel.emptyStrArray
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      out(i) = UTF8String.fromBytes(b, offs(2 * i), offs(2 * i + 1) - offs(2 * i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_ntokens(text, filtered): token COUNT without materializing
  * the array — replaces `size(filter(split(text,' '), w -> w <> ''))`
  * (filtered=1) / `size(split(text,' '))` (filtered=0) in the token-
  * counting consumers (pack/mix families). Returns long. */
case class NTokens(child: Expression, filtered: Boolean) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_ntokens expects a string")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ntokens"

  protected override def nullSafeEval(input: Any): Any =
    NTokens.count(input.asInstanceOf[UTF8String], filtered)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NTokens.count($c, $filtered)")
  override protected def withNewChildInternal(newChild: Expression): NTokens =
    copy(child = newChild)
}

object NTokens {
  def count(s: UTF8String, filtered: Boolean): Long = {
    val b = s.getBytes
    val len = b.length
    var n = 0L
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == ' ') {
        if (!filtered || i > start) n += 1
        start = i + 1
      }
      i += 1
    }
    n
  }
}

/** graft_spans(text, w, filtered, distinct): the w-token sliding
  * spans, joined by ' ' — one native pass replacing
  * `transform(sequence(0, size(t)-w), i -> concat_ws(' ', t[i+1…i+w]))`
  * (+ array_distinct when distinct=1). Empty array when the document
  * has fewer than w tokens (callers kept their size guards, which the
  * empty array makes no-ops). raw mode (filtered=0) reproduces
  * text_boilerplate's unfiltered `split` shingles, where a span IS a
  * substring of the document (segments are separated by exactly one
  * space); filtered mode rebuilds each span from the surviving
  * tokens. distinct keeps first occurrences in order, exactly like
  * array_distinct. */
case class Spans(child: Expression, w: Int, filtered: Boolean, distinct: Boolean)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && w >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_spans expects (string, w ≥ 1)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_spans"

  @transient private lazy val model = new SpansModel(w, filtered, distinct)

  protected override def nullSafeEval(input: Any): Any =
    model.spans(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mref = ctx.addReferenceObj("spansModel", model, classOf[SpansModel].getName)
    defineCodeGen(ctx, ev, c => s"$mref.spans($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Spans =
    copy(child = newChild)
}

private[graft] final class SpansModel(w: Int, filtered: Boolean, distinct: Boolean)
  extends Serializable {
  def spans(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val (offs, n) = TextKernel.segments(b, filtered)
    if (n < w) return TextKernel.emptyStrArray
    val m = n - w + 1
    val out = new Array[AnyRef](m)
    var i = 0
    while (i < m) {
      out(i) =
        if (!filtered) {
          // raw tokens are separated by exactly one space, so the
          // joined span is a contiguous slice of the document
          val st = offs(2 * i)
          UTF8String.fromBytes(b, st, offs(2 * (i + w - 1) + 1) - st)
        } else {
          var len = w - 1
          var k = 0
          while (k < w) { len += offs(2 * (i + k) + 1) - offs(2 * (i + k)); k += 1 }
          val sb = new Array[Byte](len)
          var p = 0
          k = 0
          while (k < w) {
            if (k > 0) { sb(p) = ' '; p += 1 }
            val st = offs(2 * (i + k))
            val l = offs(2 * (i + k) + 1) - st
            System.arraycopy(b, st, sb, p, l)
            p += l
            k += 1
          }
          UTF8String.fromBytes(sb)
        }
      i += 1
    }
    if (!distinct) return new GenericArrayData(out)
    val seen = new java.util.LinkedHashSet[AnyRef](m * 2)
    var j = 0
    while (j < m) { seen.add(out(j)); j += 1 }
    new GenericArrayData(seen.toArray)
  }
}

/** graft_span_hashes(text, prefix, w, nHex): per w-token span (over
  * FILTERED tokens), the long value of the first nHex hex digits of
  * md5(prefix || span) — the fused replacement for the span-transform
  * + `conv(substring(md5(concat(prefix, span)), 1, nHex), 16, 10)`
  * chain in dedup_substring / text_winnowing. The digest consumes the
  * identical byte stream (prefix bytes, then token bytes joined by
  * single spaces) without materializing the span string. */
case class SpanHashes(child: Expression, prefix: String, w: Int, nHex: Int)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && w >= 1 && nHex >= 1 && nHex <= 15)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_span_hashes expects (string, prefix, w ≥ 1, 1 ≤ nHex ≤ 15)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_span_hashes"

  @transient private lazy val model =
    new SpanHashModel(prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8), w, nHex)

  protected override def nullSafeEval(input: Any): Any =
    model.hashes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mref = ctx.addReferenceObj("spanHashModel", model, classOf[SpanHashModel].getName)
    defineCodeGen(ctx, ev, c => s"$mref.hashes($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): SpanHashes =
    copy(child = newChild)
}

private[graft] final class SpanHashModel(prefix: Array[Byte], w: Int, nHex: Int)
  extends Serializable {
  private val space = Array[Byte](' ')
  def hashes(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val (offs, n) = TextKernel.segments(b, filtered = true)
    if (n < w) return TextKernel.emptyLongArray
    val m = n - w + 1
    val out = new Array[Long](m)
    val md = TextKernel.md5.get()
    var i = 0
    while (i < m) {
      md.reset()
      md.update(prefix)
      var k = 0
      while (k < w) {
        if (k > 0) md.update(space)
        md.update(b, offs(2 * (i + k)), offs(2 * (i + k) + 1) - offs(2 * (i + k)))
        k += 1
      }
      out(i) = TextKernel.hexPrefixValue(md.digest(), nHex)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_winnow_mins(hashes, winW, posBits): the winnowing selection
  * (Schleimer/Wilkerson/Aiken) over a document's span-hash sequence,
  * entirely per row — replaces the posexplode → per-doc window-min →
  * filter → distinct pipeline, DELETING the corpus×spans exchange the
  * window needed. Contract (bit-exact with the old plan): key_p =
  * h_p·2^posBits + (2^posBits−1−p); for each kept position p (p = 0,
  * or p ≤ n−winW) the minimum key over [p, min(p+winW−1, n−1)]; the
  * result is the DISTINCT minima (first-occurrence order; the old
  * plan's set semantics came from .distinct()). */
case class WinnowMins(child: Expression, winW: Int, posBits: Int)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if winW >= 1 && posBits >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_winnow_mins expects (array<long>, winW ≥ 1, posBits ≥ 1)")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_mins"

  protected override def nullSafeEval(input: Any): Any =
    WinnowMins.mins(input.asInstanceOf[ArrayData], winW, posBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowMins.mins($c, $winW, $posBits)")
  override protected def withNewChildInternal(newChild: Expression): WinnowMins =
    copy(child = newChild)
}

object WinnowMins {
  def mins(h: ArrayData, winW: Int, posBits: Int): ArrayData = {
    val n = h.numElements()
    if (n == 0) return TextKernel.emptyLongArray
    val arr = h.toLongArray()
    val scale = 1L << posBits
    val posMask = scale - 1
    val lastP = math.max(0, n - winW)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    // Monotonic-deque sliding minimum: O(n) for any
    // window width instead of the O(n·winW) per-position rescan —
    // same keys, same window extents, same insertion order into
    // `seen`, so the selected set is bit-identical.
    val keys = new Array[Long](n)
    var i0 = 0
    while (i0 < n) { keys(i0) = arr(i0) * scale + (posMask - i0); i0 += 1 }
    val dq = new Array[Int](n) // indices with increasing keys
    var head = 0
    var tail = 0 // live slice: dq[head, tail)
    var q = 0
    var p = 0
    while (p <= lastP) {
      val hi = math.min(p + winW - 1, n - 1)
      while (q <= hi) {
        while (tail > head && keys(dq(tail - 1)) >= keys(q)) tail -= 1
        dq(tail) = q
        tail += 1
        q += 1
      }
      while (dq(head) < p) head += 1
      seen.add(keys(dq(head)))
      p += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }
}

/** graft_bigrams(text): adjacent-token bigrams "w_i w_{i+1}" over the
  * filtered tokens — replaces the zip_with/slice/concat HOF chain
  * (bigramArr). Empty array below 2 tokens. */
case class Bigrams(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_bigrams expects a string")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bigrams"

  protected override def nullSafeEval(input: Any): Any =
    Bigrams.bigrams(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Bigrams.bigrams($c)")
  override protected def withNewChildInternal(newChild: Expression): Bigrams =
    copy(child = newChild)
}

object Bigrams {
  def bigrams(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val (offs, n) = TextKernel.segments(b, filtered = true)
    if (n < 2) return TextKernel.emptyStrArray
    val out = new Array[AnyRef](n - 1)
    var i = 0
    while (i < n - 1) {
      val l1 = offs(2 * i + 1) - offs(2 * i)
      val l2 = offs(2 * i + 3) - offs(2 * i + 2)
      val sb = new Array[Byte](l1 + 1 + l2)
      System.arraycopy(b, offs(2 * i), sb, 0, l1)
      sb(l1) = ' '
      System.arraycopy(b, offs(2 * i + 2), sb, l1 + 1, l2)
      out(i) = UTF8String.fromBytes(sb)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_poly_hash(text): the per-character polynomial rolling hash
  * h ← (h·31 + ascii(c)) mod 1e9+7 — replaces the interpreted
  * `aggregate(filter(split(text,'')), 0L, …)` fold. Characters are
  * codepoints (split('') yields one element per codepoint; Spark 4's
  * ascii() returns the first CODEPOINT — verified by TextKernelsSpec
  * against the old chain, non-ASCII and surrogate-pair samples
  * included). */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_poly_hash expects a string")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_hash"

  protected override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c)")
  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  private val M = 1000000007L
  def hash(s: UTF8String): Long = {
    val str = s.toString
    val len = str.length
    var h = 0L
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % M
      i += Character.charCount(cp)
    }
    h
  }
}

/** graft_bpe_token_count(text, pairs): the number of BPE tokens after
  * sequentially applying the ranked 2-character merge list — replaces
  * text_bpe_encode's interpreted `aggregate(ms, regexp_replace(text,
  * '(.)', '($1)'), (acc, m) -> replace(acc, '(a)(b)', '(ab)'))` fold
  * plus the paren-count. Fast path (no parens in text or pairs, the
  * corpus guarantee the original representation already relies on):
  * simulate on a codepoint array — initial tokens are the codepoints
  * regex '.' matches (line terminators pass through unwrapped and
  * block adjacency), each merge is one left-to-right non-overlapping
  * pass fusing adjacent SINGLETON tokens (a,b); merged tokens can
  * never match again (patterns are single-char). Slow path (parens
  * present): build the literal wrapped string and run the actual
  * replaces, so the contract holds unconditionally. */
case class BpeTokenCount(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_bpe_token_count expects (string, array<string>)")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_token_count"

  protected override def nullSafeEval(text: Any, pairs: Any): Any =
    BpeTokenCount.count(text.asInstanceOf[UTF8String], pairs.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, p) => s"graft.functions.BpeTokenCount.count($t, $p)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeTokenCount =
    copy(left = newLeft, right = newRight)
}

object BpeTokenCount {
  private def isLineTerm(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  def count(text: UTF8String, pairs: ArrayData): Long = {
    val str = text.toString
    val np = pairs.numElements()
    var hasParen = str.indexOf('(') >= 0 || str.indexOf(')') >= 0
    val pa = new Array[Int](np)
    val pb = new Array[Int](np)
    var nk = 0 // kept pairs
    var j = 0
    while (j < np) {
      // A null element (the accepted ArrayType allows containsNull)
      // or a pair string with fewer than 2 codepoints can never match
      // an adjacent (a, b) run — the old replace-chain degraded such
      // entries to a no-op merge; skip them instead of throwing
      // (the registered SQL function is reachable with
      // arbitrary arrays, not just textBpePairs' 2-codepoint mines).
      val pu = pairs.getUTF8String(j)
      if (pu != null) {
        val p = pu.toString
        if (p.codePointCount(0, p.length) >= 2) {
          val a = p.codePointAt(0)
          val b = p.codePointAt(Character.charCount(a))
          pa(nk) = a
          pb(nk) = b
          if (a == '(' || a == ')' || b == '(' || b == ')') hasParen = true
          nk += 1
        }
      }
      j += 1
    }
    if (hasParen)
      return slowCount(str, java.util.Arrays.copyOf(pa, nk),
        java.util.Arrays.copyOf(pb, nk))

    // codepoint array; -2 = line terminator (unwrapped, blocks
    // adjacency, not a token), -1 = merged token
    var arr = new Array[Int](str.length)
    var len = 0
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      arr(len) = if (isLineTerm(cp)) -2 else cp
      len += 1
      i += Character.charCount(cp)
    }
    j = 0
    while (j < nk) {
      val a = pa(j)
      val b = pb(j)
      var r = 0
      var w = 0
      while (r < len) {
        if (r + 1 < len && arr(r) == a && arr(r + 1) == b) {
          arr(w) = -1; w += 1; r += 2
        } else {
          arr(w) = arr(r); w += 1; r += 1
        }
      }
      len = w
      j += 1
    }
    var tokens = 0L
    i = 0
    while (i < len) { if (arr(i) != -2) tokens += 1; i += 1 }
    tokens
  }

  /** Literal replay of the string representation (exact for any
    * input, paren-bearing included). */
  private def slowCount(str: String, pa: Array[Int], pb: Array[Int]): Long = {
    val sb = new java.lang.StringBuilder(str.length * 3)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (isLineTerm(cp)) sb.appendCodePoint(cp)
      else { sb.append('('); sb.appendCodePoint(cp); sb.append(')') }
      i += Character.charCount(cp)
    }
    var s = sb.toString
    var j = 0
    while (j < pa.length) {
      val pat = new java.lang.StringBuilder("(")
        .appendCodePoint(pa(j)).append(")(").appendCodePoint(pb(j)).append(")")
        .toString
      val rep = new java.lang.StringBuilder("(")
        .appendCodePoint(pa(j)).appendCodePoint(pb(j)).append(")").toString
      s = s.replace(pat, rep)
      j += 1
    }
    var tokens = 0L
    var k = 0
    while (k < s.length) { if (s.charAt(k) == '(') tokens += 1; k += 1 }
    tokens
  }
}

/** graft_rake_phrases(text, stopwords): RAKE candidate phrases — the
  * maximal runs of consecutive non-stopword tokens, each joined by
  * ' ', in document order. Replaces text_rake's posexplode → stopword
  * filter → row_number window → groupBy(grp) sorted-collect_list
  * pipeline (TWO corpus-wide exchanges) with a per-row kernel; the
  * run index (posexplode pos downstream) is the grp surrogate. */
case class RakePhrases(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(StringType, _)) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_rake_phrases expects (string, foldable array<string>)")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_rake_phrases"

  @transient private lazy val model: RakeModel = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val stops = new Array[Array[Byte]](arr.numElements())
    var i = 0
    while (i < stops.length) { stops(i) = arr.getUTF8String(i).getBytes; i += 1 }
    new RakeModel(stops)
  }

  // The stopword literal is consumed at model init; the per-row call
  // only needs the text. nullSafeEval/defineCodeGen still "evaluate"
  // the right child, but ConstantFolding has reduced it to a Literal
  // reference by then — free.
  protected override def nullSafeEval(text: Any, stops: Any): Any =
    model.phrases(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mref = ctx.addReferenceObj("rakeModel", model, classOf[RakeModel].getName)
    defineCodeGen(ctx, ev, (t, _) => s"$mref.phrases($t)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RakePhrases =
    copy(left = newLeft, right = newRight)
}

private[graft] final class RakeModel(stops: Array[Array[Byte]]) extends Serializable {
  private def isStop(b: Array[Byte], s: Int, e: Int): Boolean = {
    val l = e - s
    var i = 0
    while (i < stops.length) {
      val w = stops(i)
      if (w.length == l) {
        var k = 0
        while (k < l && w(k) == b(s + k)) k += 1
        if (k == l) return true
      }
      i += 1
    }
    false
  }

  def phrases(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val (offs, n) = TextKernel.segments(b, filtered = true)
    if (n == 0) return TextKernel.emptyStrArray
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      if (isStop(b, offs(2 * i), offs(2 * i + 1))) i += 1
      else {
        var j = i
        var len = -1
        while (j < n && !isStop(b, offs(2 * j), offs(2 * j + 1))) {
          len += offs(2 * j + 1) - offs(2 * j) + 1
          j += 1
        }
        val sb = new Array[Byte](len)
        var p = 0
        var k = i
        while (k < j) {
          if (k > i) { sb(p) = ' '; p += 1 }
          val st = offs(2 * k)
          val l = offs(2 * k + 1) - st
          System.arraycopy(b, st, sb, p, l)
          p += l
          k += 1
        }
        out.add(UTF8String.fromBytes(sb))
        i = j
      }
    }
    new GenericArrayData(out.toArray)
  }
}
