package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature over a shingle-hash array in ONE pass — the
  * codegen'd twin of [[graft.llm.DedupOps.minhashSignatureLinear]]'s
  * relational form
  * `array(array_min(transform(sh, x => pmod(pmod(x,p)*a_i+b_i, p))))`.
  *
  * The relational form is evaluated INTERPRETED (higher-order functions
  * never enter whole-stage codegen) and walks the shingle array once per
  * permutation, allocating a fresh array each time — numHashes×|sh|
  * interpreted expression nodes and numHashes arrays PER ROW. On the
  * streaming near-dup map stage that was the dominant cost (measured:
  * the signature stage carried 122 s of task time for 35 s of CPU at
  * sf0.1 — the gap is allocation/GC). Here: one tight long loop, two
  * `long[]` allocations per row, inside whole-stage codegen.
  *
  * Value parity with the HOF form, element by element:
  *   - sig[i] = min over non-null x of floorMod(floorMod(x,p)*a_i+b_i, p)
  *     (floorMod(x,p) ∈ [0,p), a_i,b_i < 2^31, p = 2^31−1, so the
  *     product stays < 2^62 — the same no-overflow window the relational
  *     pmod chain relies on);
  *   - null elements are skipped (transform maps them to null,
  *     array_min ignores nulls);
  *   - an all-null or EMPTY input yields all-null signature slots
  *     (array_min of an empty/all-null array is null);
  *   - a NULL input array yields the same all-null slots the relational
  *     `array(array_min(null),...)` produces — the output array itself
  *     is never null, hence the custom doGenCode instead of the
  *     null-propagating default.
  */
case class MinhashSigExpr(child: Expression, a: Array[Long], b: Array[Long])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sig"
  override def stringArgs: Iterator[Any] =
    Iterator(child, a.length)

  private val p = graft.llm.DedupOps.MinhashPrime

  def sig(arr: ArrayData): ArrayData = {
    val k = a.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    if (arr != null) {
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          any = true
          val hp = java.lang.Math.floorMod(arr.getLong(i), p)
          var j = 0
          while (j < k) {
            val v = (hp * a(j) + b(j)) % p
            if (v < mins(j)) mins(j) = v
            j += 1
          }
        }
        i += 1
      }
    }
    if (any) new GenericArrayData(mins)
    else new GenericArrayData(new Array[Any](k)) // all-null slots
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    sig(if (v == null) null else v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSigExpr", this,
      classOf[MinhashSigExpr].getName)
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $ref.sig(${childGen.isNull} ? null : ${childGen.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

/** Distinct xxhash64 over the k-token windows of a token array in ONE
  * pass — the codegen'd twin of the `n >= k` branch of
  * [[graft.llm.DedupOps.shingleHashes]]:
  * `array_distinct(transform(sequence(0, n-k),
  *    i => xxhash64(concat_ws(sep, slice(toks, i+1, k)))))`.
  *
  * The relational form allocates a sliced array + a concatenated string
  * per window and runs interpreted; here each window joins its
  * non-null tokens once with `sep` (UTF8String.concatWs — the very
  * function the concat_ws builtin calls) and feeds Spark's own
  * XxHash64Function (seed 42, the builtin's seed), so hashes are
  * bit-identical. Distinctness keeps FIRST OCCURRENCE order, matching
  * array_distinct. The `n < k` fallback (hash of the whole raw text)
  * stays relational in the caller — this expression is only ever
  * evaluated under the `when(n >= k, ...)` guard, and a null token
  * array propagates null like any unary null-safe expression (the
  * guard's `size(null) >= k` is null there, so the branch is never
  * taken on null input anyway).
  */
case class ShingleWindowHashExpr(child: Expression, k: Int, sep: String)
    extends UnaryExpression {

  require(k >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_window_hash"
  override def stringArgs: Iterator[Any] = Iterator(child, k, sep)

  @transient private lazy val sepU8 = UTF8String.fromString(sep)

  def hashes(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < k) {
      // defensive twin of the relational guard; callers never hit this
      return new GenericArrayData(Array.empty[Long])
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val window = new Array[UTF8String](k) // nulls are skipped by concatWs
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) {
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      val s = UTF8String.concatWs(sepU8, window: _*)
      out.add(XxHash64Function.hash(s, StringType, 42L))
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var m = 0
    while (it.hasNext) { arr(m) = it.next(); m += 1 }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    hashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleWindowHashExpr", this,
      classOf[ShingleWindowHashExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.hashes($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleWindowHashExpr =
    copy(child = newChild)
}

/** Engine-reproducible 61-bit poly signature of every token in a string
  * array, ONE pass — the codegen'd twin of mapping
  * [[graft.llm.DedupOps.polySig61]] over the array:
  * `transform(toks, t => polySig61(t))`.
  *
  * The relational form is interpreted HOF work that SPLITS each token
  * into per-character one-char strings (`split(t, "")` — one UTF8String
  * allocation per character) and folds them with an interpreted
  * `aggregate` — the dominant per-row cost of the simhash signature
  * build. Here: one codepoint loop per token, zero per-char allocations,
  * inside whole-stage codegen.
  *
  * Bit-parity with the HOF chain, piece by piece:
  *   - the char fold: Spark's `split(t, "")` yields CODEPOINTS (Java
  *     zero-width regex split does not separate surrogate pairs) and
  *     `ascii(c)` is `c.toString.codePointAt(0)` (checked against the
  *     Spark 4.1 Ascii bytecode), so `h = (h*31 + codePointAt(i)) %
  *     1000003` over the string's codepoints is the exact fold —
  *     h*31+cp <= 1000002*31 + 0x10FFFF, far under 2^63, and
  *     non-negative, so % == pmod;
  *   - the mixing chain (s0/s1/s2/final xor-rotl) is the same Java long
  *     arithmetic the Column form compiles to: s1 < 2^61 + 2^11 so
  *     s1*3+7 never overflows, and both pmods see non-negative inputs;
  *   - a NULL token maps to a null slot (transform maps null lambdas to
  *     null via the fold's null propagation);
  *   - an EMPTY token ("") folds zero characters: id = 7, mixed like
  *     any other value — same as filter(split(t,""), length>0) folding
  *     nothing;
  *   - a NULL input array propagates null (null-safe unary).
  */
case class Poly61SigArrayExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "poly61_sig_array"

  private def mix(id: Long): Long = {
    // rotl61(x, k) = ((x & ((1<<(61-k))-1)) << k) + (x >>> (61-k))
    val s0 = id * 2097169L + 12345L
    val s1 = s0 ^ (((s0 & ((1L << 30) - 1)) << 31) + (s0 >>> 30))
    val s2 = java.lang.Math.floorMod(s1 * 3L + 7L, (1L << 61) - 1L)
    s2 ^ (((s2 & ((1L << 44) - 1)) << 17) + (s2 >>> 44))
  }

  def sigs(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val s = toks.getUTF8String(i).toString
        var h = 7L
        var j = 0
        while (j < s.length) {
          val cp = s.codePointAt(j)
          h = (h * 31L + cp) % 1000003L
          j += Character.charCount(cp)
        }
        out(i) = mix(h)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    sigs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("poly61SigArrayExpr", this,
      classOf[Poly61SigArrayExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.sigs($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Poly61SigArrayExpr =
    copy(child = newChild)
}

/** Whitespace tokens with ASCII punctuation stripped, ONE pass — the
  * codegen'd twin of [[graft.search.BM25Engine.tokens]]'s HOF chain:
  * `filter(transform(split(trim(text), "\\s+"),
  *   t => regexp_replace(t, "[\\p{Punct}]", "")), t => length(t) > 0)`.
  *
  * The relational form runs interpreted (HOFs never enter whole-stage
  * codegen) and compiles a regex MATCH per token — the dominant CPU of
  * every fresh BM25 statistics build (s21's delta half re-tokenizes per
  * run by design). Here: one byte scan per document.
  *
  * Parity, piece by piece (the fixture corpora are replayed bit-for-bit
  * by DuckDB oracles, so this must be EXACT):
  *   - Java's `\s` (no UNICODE_CHARACTER_CLASS) is exactly
  *     [ \t\n\x0B\f\r] — all ASCII, so splitting on byte runs is safe in
  *     UTF-8 (multi-byte sequences never contain ASCII bytes);
  *   - Java's `\p{Punct}` is exactly the 32 ASCII punctuation chars —
  *     again safe to test per byte;
  *   - `trim` only strips leading/trailing 0x20: a leading or trailing
  *     whitespace run otherwise yields one "" token via split (which
  *     keeps trailing empties: limit -1), and the length>0 filter drops
  *     it — same net result as skipping the run;
  *   - a token that is ALL punctuation strips to "" and is dropped by
  *     the length filter, exactly like the HOF chain;
  *   - NULL text propagates null (null-safe unary).
  */
case class PunctStripTokensExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "punct_strip_tokens"

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  private def isPunct(b: Byte): Boolean =
    (b >= '!' && b <= '/') || (b >= ':' && b <= '@') ||
      (b >= '[' && b <= '`') || (b >= '{' && b <= '~')

  def tokens(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[UTF8String]()
    val buf = new Array[Byte](n)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      var m = 0
      while (i < n && !isWs(bytes(i))) {
        if (!isPunct(bytes(i))) { buf(m) = bytes(i); m += 1 }
        i += 1
      }
      if (m > 0) out.add(UTF8String.fromBytes(java.util.Arrays.copyOf(buf, m)))
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("punctStripTokensExpr", this,
      classOf[PunctStripTokensExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.tokens($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): PunctStripTokensExpr =
    copy(child = newChild)
}

/** All k-token windows of a token array as sep-joined strings, ONE pass
  * — the codegen'd twin of the `size(toks) >= k` branch of
  * [[graft.llm.CurationOps.wordNgrams]]:
  * `transform(sequence(0, n-k), i => concat_ws(sep, slice(toks, i+1, k)))`.
  *
  * The relational form allocates a sliced array per window and runs
  * interpreted (HOFs never enter whole-stage codegen) — it sat on the
  * hot path of every n-gram pass (heavy hitters, decontamination,
  * repetition stats) TWICE per document corpus pass. Here each window is
  * one `UTF8String.concatWs` (the very function the builtin calls, so
  * values are bit-identical; null tokens are skipped by concatWs exactly
  * as concat_ws skips them). NON-distinct, first-to-last window order —
  * unlike [[ShingleWindowHashExpr]] these are occurrence rows. The
  * `n < k` branch (empty array) and null-array handling stay relational
  * in the caller, as with the shingle kernel.
  */
case class WordNgramsExpr(child: Expression, k: Int, sep: String)
    extends UnaryExpression {

  require(k >= 1, "ngram size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  override def stringArgs: Iterator[Any] = Iterator(child, k, sep)

  @transient private lazy val sepU8 = UTF8String.fromString(sep)

  def grams(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    val window = new Array[UTF8String](k)
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) {
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(sepU8, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    grams(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgramsExpr", this,
      classOf[WordNgramsExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.grams($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}
