package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lower
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static hash kernels referenced from generated code — one tight loop
  * over the UTF8 bytes, no per-element expression interpretation. */
object HashKernels {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** FNV-1a 64 over the raw UTF-8 bytes. */
  def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** Distinct word n-gram shingle hashes in ONE pass: lowercase,
    * whitespace-tokenize, and FNV-hash each n-gram (words joined by a
    * single space) without materializing shingle strings. Short docs
    * (< n words) hash the whole normalized text — mirroring
    * DedupFunctions.wordShingles' fallback.
    *
    * Equivalence with `fnv64(wordShingles(...))` holds for ALL input:
    * lowercase is `UTF8String.toLowerCase` (the exact `lower()` kernel),
    * tokenization splits on Java regex `\s` = ASCII `[ \t\n\f\r]`
    * (what the column pipeline's `\s+` matches), and hashing folds each
    * word's UTF-8 bytes — surrogate pairs (emoji, CJK-B) hash as their
    * true encoding. Pinned by NativeHashSpec's non-ASCII case. */
  def shingleHashes(s: UTF8String, n: Int): ArrayData = {
    val text = s.toLowerCase.toString
    // ASCII-whitespace tokenization (regex \s class), skipping empty runs
    val words = new java.util.ArrayList[Array[Byte]](64)
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isRegexSpace(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isRegexSpace(text.charAt(i))) i += 1
      if (i > start) words.add(
        text.substring(start, i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val m = words.size
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (m < n) {
      // whole-text fallback (single shingle; empty text hashes to the basis)
      var h = FnvOffset
      var w = 0
      while (w < m) {
        if (w > 0) { h ^= ' '.toLong & 0xffL; h *= FnvPrime }
        h = hashBytes(h, words.get(w))
        w += 1
      }
      out.add(h)
    } else {
      var start = 0
      while (start + n <= m) {
        var h = FnvOffset
        var w = start
        while (w < start + n) {
          if (w > start) { h ^= ' '.toLong & 0xffL; h *= FnvPrime }
          h = hashBytes(h, words.get(w))
          w += 1
        }
        out.add(h)
        start += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }

  /** One-pass SimHash over FNV-1a token hashes: lowercase, tokenize (same
    * normalization as [[shingleHashes]]), per-token 64-bit FNV, per-bit
    * vote, pack the winning bits. Replaces a 3-deep interpreted HOF fold
    * (tokens → md5 per token → zip_with votes → pack) on the dedup hot
    * path; the hash family differs from the md5 twin (rows-only query,
    * overlap pinned by CrossCheckSpec). Every token OCCURRENCE votes
    * (duplicates count), mirroring `DedupFunctions.simhash64`. */
  def simhash64(s: UTF8String, bits: Int): Long = {
    val text = s.toLowerCase.toString
    val votes = new Array[Int](bits)
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isRegexSpace(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isRegexSpace(text.charAt(i))) i += 1
      if (i > start) {
        val h = fnv64(UTF8String.fromString(text.substring(start, i)))
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  /** FNV-1a fold over an array of longs, basis xor'd with a seed — the
    * compact band-key mixer for LSH banding (q_dedup_minhash_native).
    * Wrapping Long multiply by design (ANSI-mode `*` on Columns throws
    * on overflow, so this lives behind a codegen'd Expression); the
    * oracle replays it as a HUGEINT-mod-2^64 list_reduce. */
  def fnvFoldLongs(arr: ArrayData, seed: Long): Long = {
    var h = FnvOffset ^ seed
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      h = (h ^ arr.getLong(i)) * FnvPrime
      i += 1
    }
    h
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The oracle 60-bit md5 key, straight from the digest bytes (r15):
    * bit-identical to `conv(substring(md5(s), 1, 15), 16, 10)` — the
    * first 15 hex chars are bytes 0..6 plus the high nibble of byte 7,
    * read as an unsigned base-16 integer — without materializing the
    * 32-char hex string or parsing it back. The MD5 digest itself is
    * unchanged (it IS the oracle contract); the MessageDigest instance
    * is per-thread, not per-row. */
  def md5Long60(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    long60(md.digest(s.getBytes))
  }

  /** The first 60 bits of a digest (see [[md5Long60]]). */
  private def long60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** One-pass md5-family SimHash (r16, VERDICT r15 #4): the digest-direct
    * twin of `DedupFunctions.simhash64` — lowercase, tokenize on regex
    * `\s` runs, md5Long60 per token OCCURRENCE (duplicates vote), per-bit
    * +1/-1 vote, pack bits with positive votes. Bit-identical to the
    * interpreted column pipeline it replaces
    * (`aggregate(zip_with(votes, powers, ...))` over
    * `transform(tokens(normalizeText(c)), md5Long)`): tokenization is the
    * same non-`\s` runs of the lowercased text (normalizeText's trim +
    * whitespace-collapse are no-ops under `\s+` splitting — pinned by
    * NativeHashSpec), the per-token hash is the same [[md5Long60]], and
    * the vote/pack fold is the same sign rule. Replaces the last 3-deep
    * interpreted HOF fold on a dedup hot path (the fnv twin went native
    * in r14). */
  def md5SimHash64(s: UTF8String, bits: Int): Long = {
    val text = s.toLowerCase.toString
    val votes = new Array[Int](bits)
    val md = md5Local.get()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isRegexSpace(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isRegexSpace(text.charAt(i))) i += 1
      if (i > start) {
        md.reset()
        val h = long60(md.digest(text.substring(start, i)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  private final val MinHashPrime = 2147483647L // 2^31 - 1

  /** One-pass md5-family MinHash signature: the codegen'd twin of the
    * interpreted `minhashSignature(wordShingles(text, n), k)` column
    * pipeline, bit for bit. `s` is the already-lowercased text (the
    * expression's child is Spark's own `lower`), or null.
    *   - Tokens are the maximal runs of non-`\s` bytes. Java regex `\s`
    *     is ASCII `[ \t\n\x0B\f\r]`, and those bytes never occur inside
    *     a multi-byte UTF-8 sequence, so splitting bytes splits chars.
    *   - A shingle is n consecutive tokens joined by one space; fewer
    *     than n tokens make the whole text one shingle (`""` when there
    *     are none). The digest is fed token by token, so no shingle
    *     string is built.
    *   - `h = md5Long60(shingle) % (2^31 - 1)`, and
    *     `sig(i) = min over h of (h * (2i + 1) + 12345 + 7919 i) % (2^31 - 1)`.
    *     A repeated shingle leaves the min unchanged, so the distinct
    *     step of the column pipeline is not needed.
    *   - A null text gives k nulls, as the column pipeline does.
    * Equivalence pinned by NativeHashSpec. */
  def md5MinHash(s: UTF8String, n: Int, k: Int): ArrayData = {
    if (s == null) return new GenericArrayData(new Array[Any](k))
    val bytes = s.getBytes
    val len = bytes.length
    var starts = new Array[Int](32)
    var ends = new Array[Int](32)
    var m = 0
    var i = 0
    while (i < len) {
      while (i < len && isRegexSpace(bytes(i))) i += 1
      val start = i
      while (i < len && !isRegexSpace(bytes(i))) i += 1
      if (i > start) {
        if (m == starts.length) {
          starts = java.util.Arrays.copyOf(starts, 2 * m)
          ends = java.util.Arrays.copyOf(ends, 2 * m)
        }
        starts(m) = start
        ends(m) = i
        m += 1
      }
    }
    val sig = Array.fill(k)(Long.MaxValue)
    val md = md5Local.get()
    md.reset()
    val w = math.min(n, m) // words per shingle: the whole text when m < n
    val shingles = math.max(1, m - n + 1)
    var first = 0
    while (first < shingles) {
      var t = first
      while (t < first + w) {
        if (t > first) md.update(' '.toByte)
        md.update(bytes, starts(t), ends(t) - starts(t))
        t += 1
      }
      val h = long60(md.digest()) % MinHashPrime // digest() resets md
      var j = 0
      while (j < k) {
        val v = (h * (2 * j + 1) + 12345L + 7919L * j) % MinHashPrime
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      first += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Java regex `\s`: ASCII whitespace only (unlike Character.isWhitespace). */
  private def isRegexSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') // \t \n VT \f \r

  private def isRegexSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  private def hashBytes(h0: Long, bs: Array[Byte]): Long = {
    var h = h0
    var i = 0
    while (i < bs.length) { h ^= bs(i) & 0xffL; h *= FnvPrime; i += 1 }
    h
  }
}

/** `fnv64(string)` — codegen'd 64-bit FNV-1a; the cheap non-cryptographic
  * fingerprint for bucketing/dedup keys (md5 stays for oracle-exact
  * paths). Custom-Expression tier (b) of the operator preference order. */
case class Fnv64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.fnv64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashKernels.fnv64($c)")
  override protected def withNewChildInternal(newChild: Expression): Fnv64 =
    copy(child = newChild)
}

/** `md5_long60(string)` — codegen'd oracle-exact 60-bit md5 key (see
  * [[HashKernels.md5Long60]]); replaces the hex-string round-trip
  * `conv(substring(md5(s), 1, 15), 16, 10)` on every md5-keyed hot path
  * (shingles, spans, winnowing grams, priority draws). */
case class Md5Long60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.md5Long60(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashKernels.md5Long60($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Long60 =
    copy(child = newChild)
}

/** `shingle_hashes(text, n)` — one-pass tokenization + n-gram FNV hashing
  * producing array<long>; replaces a 4-deep interpreted higher-order
  * pipeline (normalize -> split -> slice/concat per shingle -> hash) on
  * the dedup hot path. */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.shingleHashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashKernels.shingleHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `simhash64_native(text, bits)` — one-pass codegen'd SimHash (FNV hash
  * family); the production fast path beside the oracle-exact md5 variant. */
case class SimHash64Native(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 64)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[UTF8String], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashKernels.simhash64($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Native =
    copy(child = newChild)
}

/** `md5_simhash64(text, bits)` — one-pass codegen'd SimHash on the
  * oracle md5 hash family (see [[HashKernels.md5SimHash64]]); replaces
  * the interpreted tokens → md5 per token → zip_with vote fold of
  * `DedupFunctions.simhash64` bit-exactly. */
case class Md5SimHash64(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 64)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.md5SimHash64(input.asInstanceOf[UTF8String], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashKernels.md5SimHash64($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): Md5SimHash64 =
    copy(child = newChild)
}

/** `md5_minhash(lower(text), n, k)` — one-pass codegen'd MinHash
  * signature over n-word shingles on the oracle md5 hash family (see
  * [[HashKernels.md5MinHash]]); replaces the interpreted shingle → md5 per
  * shingle → k affine-min lambda chain bit-exactly. Not null-propagating:
  * a null text gives an array of k nulls, so the generated code passes
  * the null through to the kernel instead of using `defineCodeGen`. */
case class Md5MinHash(child: Expression, n: Int, k: Int) extends UnaryExpression {
  require(n >= 1 && k >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "md5_minhash"
  override def eval(input: InternalRow): Any =
    HashKernels.md5MinHash(child.eval(input).asInstanceOf[UTF8String], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = graft.plans.HashKernels.md5MinHash(
        ${c.isNull} ? null : ${c.value}, $n, $k);""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Md5MinHash =
    copy(child = newChild)
}

/** `fnv_fold_longs(array<long>, seed)` — seeded FNV-1a fold over long
  * lanes (wrapping multiply in codegen, exempt from ANSI overflow
  * checks); the LSH band-key compressor. */
case class FnvFoldLongs(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(arr: Any, seed: Any): Any =
    HashKernels.fnvFoldLongs(arr.asInstanceOf[ArrayData],
      seed.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, s) => s"graft.plans.HashKernels.fnvFoldLongs($a, $s)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FnvFoldLongs =
    copy(left = newLeft, right = newRight)
}

object NativeHash {
  import org.apache.spark.sql.GraftColumns.{column, expression}

  def fnv64(c: Column): Column = column(Fnv64(expression(c)))
  def md5Long60(c: Column): Column = column(Md5Long60(expression(c)))
  def fnvFoldLongs(arr: Column, seed: Column): Column =
    column(FnvFoldLongs(expression(arr), expression(seed)))
  def shingleHashes(c: Column, n: Int): Column = column(ShingleHashes(expression(c), n))
  def simhash64Native(c: Column, bits: Int = 60): Column =
    column(SimHash64Native(expression(c), bits))
  def md5SimHash64(c: Column, bits: Int = 60): Column =
    column(Md5SimHash64(expression(c), bits))
  def md5MinHash(text: Column, n: Int, k: Int): Column =
    column(Md5MinHash(expression(lower(text)), n, k))
  def textStats(text: Column, sets: Seq[(String, Seq[String])]): Column =
    column(TextStats(expression(text), expression(lower(text)), sets))

  /** Register `fnv64` / `shingle_hashes` for SQL use. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fnv64", exprs => Fnv64(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_hashes",
      exprs => ShingleHashes(exprs.head,
        exprs(1).eval().asInstanceOf[Int]), "built-in")
  }
}
