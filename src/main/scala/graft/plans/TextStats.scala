package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-token membership in a few small word sets: a token's bit mask
  * (bit i = member of set i) by binary search over the set words packed
  * into longs, so a lookup builds no string. Every word is 1..7 UTF-8
  * bytes; a longer token is in no set. */
final class WordSets(sets: Seq[Seq[String]]) extends Serializable {
  require(sets.nonEmpty && sets.size <= 31, "1..31 word sets")
  val size: Int = sets.size
  private val (keys, masks) = sets.flatten.distinct.map { w =>
    val s = UTF8String.fromString(w)
    require(s.numBytes >= 1 && s.numBytes <= WordSets.MaxLen,
      s"set words must be 1..${WordSets.MaxLen} UTF-8 bytes: $w")
    (WordSets.key(s, 0, s.numBytes), sets.indices.filter(sets(_).contains(w)).map(1 << _).sum)
  }.sortBy(_._1).unzip match { case (k, m) => (k.toArray, m.toArray) }

  /** The set mask of bytes `[start, end)` of `s`. */
  def mask(s: UTF8String, start: Int, end: Int): Int =
    if (end - start > WordSets.MaxLen) 0
    else {
      val at = java.util.Arrays.binarySearch(keys, WordSets.key(s, start, end))
      if (at >= 0) masks(at) else 0
    }
}

object WordSets {
  final val MaxLen = 7

  /** Bytes `[start, end)` of `s`, at most [[MaxLen]], and their count. */
  private def key(s: UTF8String, start: Int, end: Int): Long = {
    var key = (end - start).toLong << 56
    var i = start
    while (i < end) { key |= (s.getByte(i) & 0xffL) << (8 * (i - start)); i += 1 }
    key
  }
}

/** The per-row text-stats kernel behind the C4 quality score and language
  * ID, referenced from generated code. */
object TextStatsKernel {

  /** Counts of one row, in the field order of [[TextStats.schema]]:
    *   - tokens of `text`: maximal runs of bytes outside Java regex `\s`
    *     (ASCII `[ \t\n\x0B\f\r]`), exactly the non-empty pieces of
    *     `split(trim(text), "\\s+")`. `trim` strips only U+0020, so it
    *     cannot change the runs, and those bytes never occur inside a
    *     multi-byte UTF-8 sequence;
    *   - tokens of `lowered` (Spark's own `lower(text)`), counted the same
    *     way;
    *   - per word set, the lowered tokens equal to one of its words;
    *   - the ASCII [[graft.functions.TextFunctions.PunctClass]] characters
    *     of `text` (`!`-`/`, `:`-`@`, `[`-`` ` ``, `{`-`~`);
    *   - whether any code point of `text` lies in U+4E00..U+9FFF (the
    *     three-byte sequences E4 B8 80 .. E9 BF BF).
    * One pass over the bytes of each string; `text` is valid UTF-8, as
    * every Spark string built from a Java string or read from parquet
    * written by Spark is. */
  def stats(text: UTF8String, lowered: UTF8String, sets: WordSets): InternalRow = {
    var tokens = 0
    var punct = 0
    var cjk = false
    val n = text.numBytes
    var inToken = false
    var i = 0
    while (i < n) {
      val b = text.getByte(i)
      if (isRegexSpace(b)) inToken = false
      else {
        if (!inToken) { tokens += 1; inToken = true }
        if ((b >= '!' && b <= '/') || (b >= ':' && b <= '@') || (b >= '[' && b <= '`') ||
            (b >= '{' && b <= '~')) punct += 1
        else if (!cjk && (b & 0xff) >= 0xe4 && (b & 0xff) <= 0xe9 && i + 2 < n) {
          val b1 = text.getByte(i + 1)
          val b2 = text.getByte(i + 2)
          if ((b1 & 0xc0) == 0x80 && (b2 & 0xc0) == 0x80) {
            val cp = ((b & 0x0f) << 12) | ((b1 & 0x3f) << 6) | (b2 & 0x3f)
            cjk = cp >= 0x4e00 && cp <= 0x9fff
          }
        }
      }
      i += 1
    }
    val hits = new Array[Int](sets.size)
    var lowerTokens = 0
    val m = lowered.numBytes
    i = 0
    while (i < m) {
      while (i < m && isRegexSpace(lowered.getByte(i))) i += 1
      val start = i
      while (i < m && !isRegexSpace(lowered.getByte(i))) i += 1
      if (i > start) {
        lowerTokens += 1
        var mask = sets.mask(lowered, start, i)
        var s = 0
        while (mask != 0) {
          if ((mask & 1) != 0) hits(s) += 1
          mask >>>= 1
          s += 1
        }
      }
    }
    val out = new Array[Any](4 + hits.length)
    out(0) = tokens
    out(1) = lowerTokens
    var s = 0
    while (s < hits.length) { out(2 + s) = hits(s); s += 1 }
    out(2 + hits.length) = punct
    out(3 + hits.length) = cjk
    new GenericInternalRow(out)
  }

  private def isRegexSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')
}

/** `text_stats(text, lower(text), sets)` — the integer counts behind the
  * C4 quality score and language ID in one codegen'd pass per row (see
  * [[TextStatsKernel.stats]]), as a struct of `tokens`, `lower_tokens`,
  * one hit count per named word set, `punct` and `cjk`. It replaces the
  * `filter`/`transform` lambdas over split token arrays, which Spark
  * evaluates interpreted. A null text (or lowered text) gives a null
  * struct. */
case class TextStats(text: Expression, lowered: Expression, sets: Seq[(String, Seq[String])])
    extends BinaryExpression {
  override def left: Expression = text
  override def right: Expression = lowered
  override def dataType: DataType = TextStats.schema(sets.map(_._1))
  override def prettyName: String = "text_stats"
  override def stringArgs: Iterator[Any] = Iterator(text, lowered) ++ sets.iterator.map(_._1)
  @transient private lazy val wordSets = new WordSets(sets.map(_._2))

  override protected def nullSafeEval(t: Any, l: Any): Any =
    TextStatsKernel.stats(t.asInstanceOf[UTF8String], l.asInstanceOf[UTF8String], wordSets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordSets", wordSets, classOf[WordSets].getName)
    defineCodeGen(ctx, ev, (t, l) => s"graft.plans.TextStatsKernel.stats($t, $l, $ref)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TextStats =
    copy(text = newLeft, lowered = newRight)
}

object TextStats {
  def schema(setNames: Seq[String]): StructType = StructType(
    (Seq("tokens", "lower_tokens") ++ setNames :+ "punct")
      .map(StructField(_, IntegerType, nullable = false)) :+
      StructField("cjk", BooleanType, nullable = false))
}
