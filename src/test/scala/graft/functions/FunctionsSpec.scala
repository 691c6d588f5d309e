package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Unit checks for the text/dedup/vector column-function library —
  * deterministic expected values (these functions also pass the DuckDB
  * oracle end-to-end via the q_dedup_* / q_text_* / q_ann_* queries). */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("normalize + tokenCount + subwordCount") {
    val df = Seq("  Hello   WORLD  ", "", "a-b c!").toDF("t")
    val got = df.select(
      TextFunctions.normalizeText($"t"),
      TextFunctions.tokenCount($"t"),
      TextFunctions.subwordCount($"t")).collect()
    assert(got(0).getString(0) === "hello world")
    assert(got(0).getInt(1) === 2)
    assert(got(1).getInt(1) === 0)
    assert(got(2).getInt(1) === 2)
    assert(got(2).getInt(2) === 5) // a, b, c + '-' + '!'
  }

  test("punct/upper/stopword ratios") {
    val df = Seq("The cat, the hat!").toDF("t")
    val r = df.select(
      TextFunctions.punctRatio($"t"),
      TextFunctions.upperRatio($"t"),
      TextFunctions.stopwordRatio($"t")).head()
    assert(math.abs(r.getDouble(0) - 2.0 / 17) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0 / 17) < 1e-12)
    assert(math.abs(r.getDouble(2) - 2.0 / 4) < 1e-12) // "the" twice of 4 tokens
  }

  test("langId picks marker-word argmax, zh via CJK") {
    val df = Seq(
      "the cat and the dog is here",
      "der hund und die katze ist da",
      "el perro y la casa es grande",
      "le chien et la maison est grande",
      "你好世界",
      "qwerty zxcvb").toDF("t")
    val got = df.select(TextFunctions.langId($"t")).collect().map(_.getString(0))
    assert(got === Array("en", "de", "es", "fr", "zh", "und"))
  }

  test("wordShingles produces distinct n-grams; short docs fall back to whole text") {
    val df = Seq("a b c d", "x y").toDF("t")
    val got = df.select(DedupFunctions.wordShingles($"t", 3)).collect()
      .map(_.getSeq[String](0).toSet)
    assert(got(0) === Set("a b c", "b c d"))
    assert(got(1) === Set("x y"))
  }

  test("jaccard on shingle arrays") {
    val df = Seq(("a b c d e", "a b c d x")).toDF("l", "r")
    val j = df.select(DedupFunctions.jaccard(
      DedupFunctions.wordShingles($"l", 3),
      DedupFunctions.wordShingles($"r", 3))).head().getDouble(0)
    // shingles l: {abc,bcd,cde}, r: {abc,bcd,cdx}: inter 2, union 4
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("minhash signature is deterministic and near-dup-sensitive") {
    val df = Seq(
      ("d1", "the quick brown fox jumps over the lazy dog tonight"),
      ("d2", "the quick brown fox jumps over the lazy dog today"),
      ("d3", "completely different words appear in this unrelated sentence")).toDF("id", "t")
    val sigs = df.select($"id",
        DedupFunctions.minhashSignature($"t", 16).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("d1") === sigs("d1")) // stable
    val sim12 = sigs("d1").zip(sigs("d2")).count { case (a, b) => a == b } / 16.0
    val sim13 = sigs("d1").zip(sigs("d3")).count { case (a, b) => a == b } / 16.0
    assert(sim12 > sim13) // near-dups agree on more signature rows
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val df = Seq(
      ("d1", "the quick brown fox jumps over the lazy dog tonight"),
      ("d2", "the quick brown fox jumps over the lazy dog today"),
      ("d3", "completely different words appear in this unrelated sentence")).toDF("id", "t")
    val hs = df.select($"id", DedupFunctions.simhash64($"t").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs("d1"), hs("d2")) < ham(hs("d1"), hs("d3")))
  }

  test("vector dot/norm/cosine") {
    val df = Seq((Array(1f, 0f, 2f), Array(2f, 1f, 0f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dotProduct($"a", $"b"),
      VectorFunctions.l2Norm($"a"),
      VectorFunctions.cosine($"a", $"a"),
      VectorFunctions.sqDist($"a", $"b")).head()
    assert(r.getDouble(0) === 2.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(5)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getDouble(3) === 1.0 + 1.0 + 4.0)
  }

  test("signBucket packs component signs") {
    val df = Seq(Tuple1(Array(1f, -1f, 3f, -2f))).toDF("v")
    val b = df.select(VectorFunctions.signBucket($"v", 0 until 4)).head().getLong(0)
    assert(b === (1L | 4L)) // dims 0,2 non-negative
  }

  test("fingerprint is whitespace/case-insensitive") {
    val df = Seq(("Hello  World", "hello world")).toDF("a", "b")
    val r = df.select(
      TextFunctions.fingerprintHex($"a"), TextFunctions.fingerprintHex($"b")).head()
    assert(r.getString(0) === r.getString(1))
    assert(r.getString(0).length === 16)
  }

  test("BPE init/pairs/merge: greedy left-to-right fold semantics") {
    val df = Seq("abc").toDF("w")
    assert(df.select(TextFunctions.bpeInit($"w")).head.getString(0) === "a b c")

    def merged(sw: String, a: String, b: String): String =
      Seq(sw).toDF("sw")
        .select(TextFunctions.bpeMerge($"sw", a, b)).head.getString(0)
    // plain merge + multiple sites, non-overlapping left-to-right
    assert(merged("a b a b", "a", "b") === "ab ab")
    // greedy self-chain: the paper's regex semantics, odd leftover stays
    assert(merged("a a a", "a", "a") === "aa a")
    assert(merged("a a a a", "a", "a") === "aa aa")
    // a merged symbol never re-matches within the round
    assert(merged("a b b", "a", "b") === "ab b")
    // symbol boundaries are exact: multi-char symbols don't false-match
    assert(merged("xa b", "a", "b") === "xa b")
    assert(merged("x ab", "a", "b") === "x ab")
    assert(merged("m er x er", "m", "er") === "mer x er")
    // single-symbol word is untouched
    assert(merged("q", "a", "b") === "q")

    val pairs = Seq("a b c", "z").toDF("sw")
      .select(TextFunctions.bpePairs($"sw")).collect()
    assert(pairs(0).getSeq[String](0) === Seq("a b", "b c"))
    assert(pairs(1).getSeq[String](0) === Seq.empty)
  }

  test("PII redaction: emails, IPs, phones replaced in pass order") {
    val df = Seq(
      "mail a.b+c@sub.ex.com or root@ex.io from 192.168.0.1 call 555-0199",
      "no pii here",
      "v4 1.2.3.4 but 1.2.3 is not an ip and 12-3456 not a phone").toDF("t")
    val r = df.select(
      TextFunctions.redactPii($"t").as("red"),
      TextFunctions.piiCount($"t", TextFunctions.EmailRe).as("ne"),
      TextFunctions.piiCount($"t", TextFunctions.Ipv4Re).as("ni"),
      TextFunctions.piiCount($"t", TextFunctions.PhoneRe).as("np")).collect()
    assert(r(0).getString(0) === "mail <EMAIL> or <EMAIL> from <IP> call <PHONE>")
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3)) === ((2L, 1L, 1L)))
    assert(r(1).getString(0) === "no pii here")
    assert((r(1).getLong(1), r(1).getLong(2), r(1).getLong(3)) === ((0L, 0L, 0L)))
    assert(r(2).getString(0) === "v4 <IP> but 1.2.3 is not an ip and 12-3456 not a phone")
  }

  test("Luhn check: published vectors, off-by-one rejection, check digit") {
    val df = Seq(
      "4539578763621486", // valid Visa test number
      "79927398713",      // the canonical ISO/IEC 7812 example
      "4539578763621487", // check digit off by one
      "79927398710").toDF("s")
    val v = df.select(TextFunctions.luhnValid($"s")).collect().map(_.getBoolean(0))
    assert(v.toSeq === Seq(true, true, false, false))
    // check-digit completion reconstructs the valid numbers
    val chk = Seq("453957876362148", "7992739871").toDF("b")
      .select(TextFunctions.luhnCheckDigit($"b")).collect().map(_.getInt(0))
    assert(chk.toSeq === Seq(6, 3))
  }

  test("blocklist terms match as whole lowercase tokens only") {
    val df = Seq("Slow day", "slowly moving", "dup dup DUP", "clean").toDF("t")
    val hits = df.select(size(filter(
      TextFunctions.tokens(lower($"t")),
      x => x.isin(TextFunctions.BlocklistTerms: _*)))).collect().map(_.getInt(0))
    // "slowly" must NOT match "slow"; case-insensitive; occurrences count
    assert(hits.toSeq === Seq(1, 0, 3, 0))
  }
}
