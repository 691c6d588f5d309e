package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Custom codegen'd Expressions: FNV-1a vectors, one-pass shingle hashing
  * equivalence with the column-function pipeline, SQL registration, and
  * whole-stage codegen participation. */
class NativeHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fnv64 matches published FNV-1a 64 test vectors") {
    val got = Seq("", "a", "foobar").toDF("s")
      .select(NativeHash.fnv64($"s")).collect().map(_.getLong(0))
    assert(got(0) === 0xcbf29ce484222325L)
    assert(got(1) === 0xaf63dc4c8601ec8cL)
    assert(got(2) === 0x85944171f73967e8L)
  }

  test("shingle_hashes = fnv64 over the same shingles the column pipeline builds") {
    val df = Seq(
      "The quick  brown fox JUMPS", "one two",
      // non-ASCII: Turkish dotted I, umlauts, CJK, astral-plane emoji,
      // and a Unicode (non-\s) space U+00A0 that must NOT split tokens
      "İstanbul GRÜSSE 中文 😀emoji😀 a b repeated İstanbul GRÜSSE 中文",
      "tab\tsplit\nandvertical").toDF("t")
    val native = df.select(NativeHash.shingleHashes($"t", 3)).collect()
      .map(_.getSeq[Long](0).toSet)
    val viaStrings = df.select(
        transform(graft.functions.DedupFunctions.wordShingles($"t", 3),
          s => NativeHash.fnv64(s)))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(native === viaStrings)
    assert(native(1).size === 1) // short doc -> whole-text fallback shingle
  }

  test("expressions are SQL-registered and codegen'd") {
    NativeHash.register(spark)
    val viaSql = spark.sql("SELECT fnv64('foobar'), size(shingle_hashes('a b c d', 3))")
      .head()
    assert(viaSql.getLong(0) === 0x85944171f73967e8L)
    assert(viaSql.getInt(1) === 2)
    // participates in whole-stage codegen (no CodegenFallback) — check
    // over a real scan (a local relation folds to LocalTableScan)
    val plan = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(NativeHash.fnv64(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("fnv_fold_longs: seeded FNV over long lanes, wrapping multiply") {
    // independent reimplementation of the fold (mod-2^64 BigInt arithmetic)
    def ref(seed: Long, xs: Seq[Long]): Long = {
      val M = BigInt(1) << 64
      var h = BigInt(HashKernels.FnvOffset ^ seed) & (M - 1)
      xs.foreach { x =>
        h = ((h ^ (BigInt(x) & (M - 1))) * BigInt(HashKernels.FnvPrime)).mod(M)
      }
      (h - (if (h >= (BigInt(1) << 63)) M else BigInt(0))).toLong
    }
    val rows = Seq(
      (0L, Seq(1L, 2L, 3L, 4L)),
      (3L, Seq(2147483646L, 0L, 7919L, 12345L)),
      (1L, Seq.empty[Long]))
    val got = rows.toDF("seed", "xs")
      .select(NativeHash.fnvFoldLongs($"xs", $"seed")).collect().map(_.getLong(0))
    rows.zip(got).foreach { case ((seed, xs), g) =>
      assert(g === ref(seed, xs), s"seed=$seed xs=$xs")
    }
    // different seeds (bands) must produce different keys for equal lanes
    assert(ref(0L, Seq(5L, 6L, 7L, 8L)) !== ref(1L, Seq(5L, 6L, 7L, 8L)))
    // stays inside whole-stage codegen over a real scan
    val plan = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(NativeHash.fnvFoldLongs(array(col("doc_id")), lit(0L)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("md5_simhash64 kernel = the interpreted md5 column fold, bit for bit") {
    import graft.functions.TextFunctions.{normalizeText, tokens}
    import graft.functions.TextFunctions.md5Long
    // the r15 column pipeline the r16 kernel replaces, inlined verbatim
    def oldSimhash(c: org.apache.spark.sql.Column, bits: Int = 60) = {
      val hashes = transform(tokens(normalizeText(c)), t => md5Long(t))
      val powers = array((0 until bits).map(b => lit(1L << b)): _*)
      val votes = aggregate(hashes, array_repeat(lit(0L), bits),
        (acc, h) => zip_with(acc, powers, (a, p) =>
          a + when(h.bitwiseAND(p) =!= 0L, 1L).otherwise(-1L)))
      aggregate(
        zip_with(votes, powers, (v, p) => when(v > 0L, p).otherwise(0L)),
        lit(0L), (acc, x) => acc + x)
    }
    val adversarial = Seq(
      "", " ", "   \t\n\f\r  ", "one",
      "The quick  brown fox JUMPS over", "  lead and trail  ",
      "repeated repeated repeated token votes", // occurrence voting
      "İstanbul GRÜSSE 中文 😀emoji😀 a b", // U+00A0 is NOT \s: one token
      "tab\tsplit\nandvertical\fand\rcr",
      "UPPER lower MiXeD case")
    val seeded = new scala.util.Random(16)
    val fuzz = (1 to 60).map { _ =>
      (1 to seeded.nextInt(12)).map { _ =>
        val len = 1 + seeded.nextInt(8)
        (1 to len).map(_ => (32 + seeded.nextInt(95)).toChar).mkString
      }.mkString(" ")
    }
    val df = (adversarial ++ fuzz).toDF("t")
    val got = df.select(NativeHash.md5SimHash64($"t"), oldSimhash($"t"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // the fold over a real scan stays inside whole-stage codegen
    val plan = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(NativeHash.md5SimHash64(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("md5_minhash kernel = the interpreted minhashSignature(wordShingles(_, 3), 16), " +
      "bit for bit") {
    import org.apache.spark.sql.Column
    import graft.functions.DedupFunctions.{bindOnce, minhashSignature, wordShingles}
    import graft.functions.TextFunctions.md5Long
    // the column pipeline the kernel replaces, inlined verbatim: md5 per
    // distinct shingle, then k affine-min lambdas over the base hashes
    def oldSignature(c: Column, k: Int = 16) = {
      val prime = 2147483647L
      bindOnce(transform(wordShingles(c, 3), s => md5Long(s) % prime)) { hs =>
        transform(sequence(lit(0), lit(k - 1)), i =>
          array_min(transform(hs, h =>
            (h * (i * 2 + 1) + (lit(12345L) + lit(7919L) * i)) % prime)))
      }
    }
    val adversarial = Seq(
      "", " ", "   \t\n\u000B\f\r  ", "one", "one two", " one\u000Btwo ",
      "one two three", "The quick  brown fox JUMPS over", "  lead and trail  ",
      "a b c a b c a b c a b c", // repeated shingles
      "tab\tsplit\nand\u000Bvertical\fand\rcr words",
      "İstanbul GRÜSSE straße ß ẞ ΟΔΟΣ ΣΟΦΙΑ σΣ ς", // case mapping is lower()'s
      "😀emoji😀 a 中文 b 😀 c", // astral-plane UTF-8
      "non\u00A0breaking\u00A0space is\u00A0not \\s") // U+00A0 is one token
    val pool = "abcXYZ09 .,!\t\n\u000B\f\r\u00A0İßΣσς中😀"
      .codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    val seeded = new scala.util.Random(903)
    val fuzz = (1 to 60).map(_ =>
      (1 to seeded.nextInt(40)).map(_ => pool(seeded.nextInt(pool.length))).mkString)
    val texts = (adversarial ++ fuzz).map(Option(_)) :+ None
    val local = texts.toDF("t")
    // a parquet copy: over a scan the kernel runs as generated code, over
    // the local relation it is folded by the interpreted eval
    val path = java.nio.file.Files.createTempDirectory("md5minhash").toString + "/t"
    local.write.parquet(path)
    for ((df, how) <- Seq((local, "interpreted"), (spark.read.parquet(path), "codegen"))) {
      val got = df.select($"t", minhashSignature($"t", 16), oldSignature($"t")).collect()
      assert(got.length === texts.length)
      got.foreach { r =>
        assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"$how: ${r.getString(0)}")
        if (r.isNullAt(0)) assert(r.getSeq[Any](1) === Seq.fill(16)(null), how)
      }
    }
    // the kernel over a real scan stays inside whole-stage codegen
    val plan = spark.read.parquet(path).select(minhashSignature($"t", 16))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") && plan.contains("md5_minhash("), plan)
  }

  test("text_stats kernel: qualityScore, langId, stopwordRatio and c4's struct = " +
      "the lambda chain, bit for bit") {
    import org.apache.spark.sql.{Column, Row}
    import graft.functions.DedupFunctions.bindOnce
    import graft.functions.TextFunctions._
    // the lambda chain the kernel replaces, inlined verbatim: token arrays
    // from split, filter lambdas per word list, a bound score array
    def oldQualityOf(c: Column, ts: Column, lts: Column): Column = {
      val lenScore = least(size(ts).cast("double") / 100.0, lit(1.0))
      val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(c) * 5.0)
      val n = size(lts)
      val sw = size(filter(lts, t => t.isin(EnStopwords: _*)))
      val swRatio = when(n === 0, lit(0.0)).otherwise(sw.cast("double") / n)
      round((lenScore * 0.4 + punctPenalty * 0.3 + least(swRatio * 5.0, lit(1.0)) * 0.3), 6)
    }
    def oldLangIdOf(c: Column, lts: Column): Column = {
      val hasCjk = length(regexp_replace(c, "[\\x{4e00}-\\x{9fff}]", "")) < length(c)
      val scored = bindOnce(
        array(LangMarkers.map { case (_, m) => size(filter(lts, t => t.isin(m: _*))) }: _*)) {
        scoreArr =>
          val mx = array_max(scoreArr)
          val names = array(LangMarkers.map(l => lit(l._1)): _*)
          when(mx === 0, lit("und"))
            .otherwise(element_at(names, array_position(scoreArr, mx).cast("int")))
      }
      when(hasCjk, lit("zh")).otherwise(scored)
    }
    def oldC4(c: Column) = bindOnce(tokens(c)) { ts =>
      bindOnce(tokens(lower(c))) { lts =>
        struct(oldQualityOf(c, ts, lts).as("quality"), oldLangIdOf(c, lts).as("lang"))
      }
    }
    def oldStopwordRatio(c: Column) = bindOnce(tokens(lower(c))) { ts =>
      val n = size(ts)
      val sw = size(filter(ts, t => t.isin(EnStopwords: _*)))
      when(n === 0, lit(0.0)).otherwise(sw.cast("double") / n)
    }
    def newC4(c: Column) = {
      val st = textStats(c)
      struct(qualityScoreOf(c, st).as("quality"), langIdOf(st).as("lang"))
    }

    // every edge of PunctClass and its neighbours: ' ' ! / 0 9 : @ A Z [ ` a z { ~ DEL
    val punctEdges = Seq(0x20, 0x21, 0x2f, 0x30, 0x39, 0x3a, 0x40, 0x41, 0x5a, 0x5b, 0x60,
      0x61, 0x7a, 0x7b, 0x7e, 0x7f).map(_.toChar)
    val adversarial = Seq(
      "", " ", "\t", "one", "one two", "   \t\n\u000B\f\r  ",
      "\tlead and trail tabs\t", "  lead and trail spaces  ", " \t mixed \t the ",
      "the", "The AND Of", "the, and. (und) la; der! 'das' the-the «die»",
      "non\u00A0breaking the\u00A0and", // U+00A0 is not \s: one token
      "İstanbul İN İn ẞ STRASSE ΟΔΟΣ ΣΟΦΙΑΣ σς", // case mapping is lower()'s
      "\u4DFF below", "\u4E00 first", "\u9FFF last", "\uA000 above", "mixed中文text",
      "😀 astral \uD840\uDC00 the", // U+20000 is CJK-B, outside U+4E00..U+9FFF
      punctEdges.mkString, punctEdges.mkString(" "), punctEdges.mkString("the"),
      "und der die das ist nicht ein zu the and",
      "el la los las es y que en le les et est des une",
      "la la la", "the a an and or of to in is it", "thee th nichts nicht A an")
    val pool = Seq("the", "THE", "und", "la", "en", "que", "nicht", "a", "des", "xyz",
      "longwordtoken", " ", "  ", "\t", "\n", "\u000B", "\f", "\r", "\u00A0", ",", ".",
      "!", "(", ")", "~", "`", "@", "[", "{", "İ", "ß", "Σ", "ς", "中", "\u9FFF", "\uA000",
      "😀")
    val seeded = new scala.util.Random(1910)
    val fuzz = (1 to 200).map(_ =>
      (1 to seeded.nextInt(30)).map(_ => pool(seeded.nextInt(pool.length))).mkString)
    val texts = (adversarial ++ fuzz).map(Option(_)) :+ None
    val local = texts.toDF("t")
    // a parquet copy: over a scan the kernel runs as generated code, over
    // the local relation it is folded by the interpreted eval
    val path = java.nio.file.Files.createTempDirectory("textstats").toString + "/t"
    local.write.parquet(path)
    def bits(r: Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    for ((df, how) <- Seq((local, "interpreted"), (spark.read.parquet(path), "codegen"))) {
      val t = $"t"
      val got = df.select(t, qualityScore(t), oldC4(t).getField("quality"),
        langId(t), oldC4(t).getField("lang"), stopwordRatio(t), oldStopwordRatio(t),
        newC4(t), oldC4(t)).collect()
      assert(got.length === texts.length)
      got.foreach { r =>
        val what = s"$how: ${Option(r.getString(0)).map(_.map(_.toInt.toHexString))}"
        assert(bits(r, 1) === bits(r, 2), what)
        assert(r.getString(3) === r.getString(4), what)
        assert(bits(r, 5) === bits(r, 6), what)
        assert(Option(r.getStruct(7)).map(s => (bits(s, 0), s.getString(1))) ===
          Option(r.getStruct(8)).map(s => (bits(s, 0), s.getString(1))), what)
      }
    }
    // the kernel over a real scan stays inside whole-stage codegen
    val plan = spark.read.parquet(path).select(textStats($"t"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") && plan.contains("text_stats("), plan)
  }

  test("native minhash query finds the same near-dup structure as the md5 path") {
    val dir = "/root/testdata/sf0.001"
    val md5Pairs = graft.SparkEntry.queries("q_dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nativePairs = graft.SparkEntry.queries("q_dedup_minhash_native")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // different hash families -> not identical, but both must surface the
    // dominant near-dup population (high overlap)
    val inter = (md5Pairs & nativePairs).size.toDouble
    assert(inter / math.max(md5Pairs.size, 1) > 0.7,
      s"md5=${md5Pairs.size} native=${nativePairs.size} inter=$inter")
  }
}
