package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale document pipelines.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * so the whole pipeline stays inside WholeStageCodegen — no UDFs, no
  * driver-side loops; each function is a pure column expression that scales
  * linearly with partitions.
  *
  * The reference engine (spcl/kafkadirect) has no built-in scalar text
  * functions — all record-level computation is user lambdas
  * (`streams/src/main/java/org/apache/kafka/streams/kstream/ValueMapper.java`);
  * these are the Spark-native analytics additions on top of parity.
  */
object TextFunctions {

  /** Lowercase, trim, collapse internal whitespace — canonical form for
    * fingerprinting and dedup. */
  def normalizeText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Whitespace tokenization (the baseline tokenizer). */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  /** Number of whitespace-separated tokens. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: alphanumeric runs plus isolated punctuation
    * marks, approximating a GPT-style pre-tokenizer's piece count. Uses
    * only RE2-compatible regexes so the DuckDB oracle can mirror it. */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[a-zA-Z0-9]+"), lit(0))) +
      size(regexp_extract_all(c, lit("[^a-zA-Z0-9\\s]"), lit(0)))

  /** ASCII punctuation as an explicit range class — identical in Java
    * regex and RE2, so the oracle can reuse the pattern verbatim. */
  val PunctClass = "[!-/:-@\\[-`{-~]"

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(c: Column): Column = {
    val n = length(c)
    when(n === 0, lit(0.0)).otherwise(
      (n - length(regexp_replace(c, PunctClass, ""))).cast("double") / n)
  }

  /** Ratio of uppercase characters to total characters (0 for empty). */
  def upperRatio(c: Column): Column = {
    val n = length(c)
    when(n === 0, lit(0.0)).otherwise(
      (n - length(regexp_replace(c, "[A-Z]", ""))).cast("double") / n)
  }

  /** English stopwords used by the quality score and language ID. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** The Gopher rule stop list (arXiv:2112.11446 A1.1: a document must
    * contain at least two of these words to pass the stop-word rule —
    * a cheap "is this running English prose" check, distinct from the
    * density-style [[EnStopwords]] ratio). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  // ------------------------------------------------------ Gopher rules
  //
  // The repetition/quality heuristics of arXiv:2112.11446 Appendix A1,
  // as pure column expressions (per-row, codegen'd, zero shuffle — each
  // document is scored independently, so the stage parallelizes linearly
  // at 100 TB). n-gram occurrence masses use the simplified
  // overlap-ignoring definition (occurrences × gram length), documented
  // here so the DuckDB oracle mirrors it exactly.

  /** Non-blank trimmed lines of a document. */
  def docLines(c: Column): Column =
    filter(transform(split(c, "\n"), l => trim(l)), l => length(l) > 0)

  /** Web-chrome substrings whose presence marks a line as boilerplate —
    * the RefinedWeb-style line-wise correction list (arXiv:2306.01116
    * §3.1.3 removes nav / cookie-banner / login-chrome lines before any
    * document-level rule runs). Matched case-insensitively. */
  val BoilerplateMarkers: Seq[String] = Seq(
    "javascript", "cookie", "all rights reserved", "click here",
    "privacy policy", "terms of use", "sign in", "subscribe",
    "advertisement")

  /** Token blocklist for the C4-style bad-words drop (arXiv:1910.10683
    * §2.2 — documents containing any listed word are removed). A stand-in
    * list exercising the operator on the synthetic corpus: terms that DO
    * occur ("slow", "dup") plus one that never does ("spamword", pinning
    * the no-hit path). Matched as lowercase whole tokens. */
  val BlocklistTerms: Seq[String] = Seq("slow", "dup", "spamword")

  /** Keep-predicate for one already-trimmed non-empty line: drops very
    * short fragments, mostly-uppercase nav text, marker-bearing chrome
    * lines, and bullet/numbering-only lines. A pure column expression —
    * the line pass rides the scan with zero shuffle. */
  def lineKeep(l: Column): Column = {
    val upperFrac =
      length(regexp_replace(l, "[^A-Z]", "")).cast("double") / length(l)
    val low = lower(l)
    val hasMarker = BoilerplateMarkers.map(m => low.contains(m)).reduce(_ || _)
    length(l) >= 5 && upperFrac <= 0.6 && !hasMarker &&
      !(l rlike "^[-*•0-9.\\s]+$")
  }

  /** Word n-grams (space-joined) over a token array; empty when the doc
    * has fewer than n tokens. */
  def wordNgramsOf(ts: Column, n: Int): Column =
    when(size(ts) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(ts) - (n - 1)), i =>
        concat_ws(" ", slice(ts, i, lit(n)))))

  /** '#' chars plus non-overlapping "..." occurrences plus Unicode '…'
    * chars — the Gopher "symbol" count for the symbol-to-word ratio rule
    * (the paper's ellipsis symbol includes the one-char form; counting
    * only the ASCII spelling undercounted it while [[ellipsisLineFrac]]
    * handled both). */
  def symbolCount(c: Column): Column =
    (length(c) - length(translate(c, "#", ""))) +
      (length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / 3 +
      (length(c) - length(translate(c, "…", "")))

  /** Gopher symbol-to-word ratio ([[symbolCount]] / word count). */
  def symbolToWordRatio(c: Column): Column =
    DedupFunctions.bindOnce(tokens(c)) { ts =>
      val n = size(ts)
      when(n === 0, lit(0.0)).otherwise(symbolCount(c).cast("double") / n)
    }

  /** Fraction of lines starting with a bullet ('-', '*', '•'). 0 for
    * line-less docs. */
  def bulletLineFrac(c: Column): Column =
    DedupFunctions.bindOnce(docLines(c)) { ls =>
      val n = size(ls)
      when(n === 0, lit(0.0)).otherwise(
        size(filter(ls, l => l.rlike("^[-*•]"))).cast("double") / n)
    }

  /** Fraction of lines ending with an ellipsis ("..." or '…'). */
  def ellipsisLineFrac(c: Column): Column =
    DedupFunctions.bindOnce(docLines(c)) { ls =>
      val n = size(ls)
      when(n === 0, lit(0.0)).otherwise(
        // \z (true end-of-input) — Java's $ would also match before a
        // trailing \r, which RE2 (the oracle's engine) never does.
        size(filter(ls, l => l.rlike("(\\.\\.\\.|…)\\z"))).cast("double") / n)
    }

  /** Fraction of words containing at least one ASCII letter. */
  def alphaWordFrac(c: Column): Column =
    DedupFunctions.bindOnce(tokens(c)) { ts =>
      val n = size(ts)
      when(n === 0, lit(0.0)).otherwise(
        size(filter(ts, t => t.rlike("[a-zA-Z]"))).cast("double") / n)
    }

  /** How many of the eight [[GopherStopwords]] occur (as lowercase whole
    * tokens) in the document — the "≥ 2 stop words" prose check. */
  def gopherStopwordHits(c: Column): Column =
    DedupFunctions.bindOnce(tokens(lower(c))) { lts =>
      size(filter(array(GopherStopwords.map(lit): _*), w => array_contains(lts, w)))
    }

  /** Fraction of (trimmed, non-blank) lines that are exact duplicates of
    * an earlier line: 1 − distinct/total. */
  def dupLineFrac(c: Column): Column =
    DedupFunctions.bindOnce(docLines(c)) { ls =>
      val n = size(ls)
      when(n === 0, lit(0.0)).otherwise(
        (n - size(array_distinct(ls))).cast("double") / n)
    }

  /** Fraction of line characters sitting in duplicate lines (char mass of
    * repeats beyond the first occurrence / total line char mass). */
  def dupLineCharFrac(c: Column): Column =
    DedupFunctions.bindOnce(docLines(c)) { ls =>
      val total = aggregate(ls, lit(0L), (acc, l) => acc + length(l))
      val uniq = aggregate(array_distinct(ls), lit(0L), (acc, l) => acc + length(l))
      when(total === 0, lit(0.0)).otherwise((total - uniq).cast("double") / total)
    }

  /** Fraction of token characters covered by occurrences of THE most
    * frequent word n-gram — a true coverage measure, bounded by 1, so the
    * Gopher A1.2 thresholds (defined for character-coverage fractions)
    * apply as published. Tie-break: the lexicographically smallest gram
    * among those at max count (deterministic, oracle-mirrorable). The
    * basis is token characters (whitespace excluded from BOTH numerator
    * and denominator — a consistent, engine-exact convention).
    *
    * Sort-based: the top gram falls out of one run-length pass over the
    * sorted gram array (O(g log g) per row), and the coverage sweep tests
    * at most n gram windows per token (O(tokens × n)) — no quadratic
    * distinct×grams pass, so rows near the 100k-word bound stay linear. */
  def topNgramCoverageFrac(c: Column, n: Int): Column =
    DedupFunctions.bindOnce(tokens(c)) { ts =>
      DedupFunctions.bindOnce(wordNgramsOf(ts, n)) { gs =>
        DedupFunctions.bindOnce(array_sort(gs)) { sg =>
          val m = size(ts)
          val g = size(gs)
          // run-length pass: (prev gram, current run, best count, top gram);
          // strict > keeps the FIRST (sorted = smallest) gram on count ties
          val zero = struct(lit("").as("prev"), lit(0L).as("run"),
            lit(0L).as("best"), lit("").as("top"))
          val st = aggregate(sg, zero, (acc, x) => {
            val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
              .otherwise(lit(1L))
            val better = run > acc.getField("best")
            struct(x.as("prev"), run.as("run"),
              when(better, run).otherwise(acc.getField("best")).as("best"),
              when(better, x).otherwise(acc.getField("top")).as("top"))
          })
          DedupFunctions.bindOnce(st.getField("top")) { topG =>
            // token p is covered iff one of the ≤n gram windows containing
            // it is the top gram; windows clamped to [1, g]
            val coveredMass = aggregate(sequence(lit(1), m), lit(0L), (acc, p) => {
              val lo = greatest(p - (n - 1), lit(1))
              val hi = least(p, g)
              val cov = when(hi < lo, lit(false)).otherwise(
                exists(slice(gs, lo, hi - lo + 1), x => x === topG))
              acc + when(cov, length(element_at(ts, p)).cast("long")).otherwise(0L)
            })
            val total = aggregate(ts, lit(0L), (acc, t) => acc + length(t))
            when(m === 0 || g === 0 || total === 0, lit(0.0))
              .otherwise(coveredMass.cast("double") / total)
          }
        }
      }
    }

  /** Fraction of token characters covered by at least one occurrence of a
    * DUPLICATED word n-gram (one appearing ≥2 times) — bounded by 1, the
    * Gopher A1.2 "fraction of characters in duplicate n-grams" measure
    * (the earlier occurrence-mass form could exceed 1 and over-filtered
    * against the paper's 0.15 threshold). Token-character basis, as in
    * [[topNgramCoverageFrac]].
    *
    * Sort-based dup detection: grams ride to sort order as (gram, index)
    * structs, neighbor equality marks duplicates, a second sort restores
    * position order — O(g log g) per row; the coverage sweep is
    * O(tokens × n). */
  def dupNgramCoverageFrac(c: Column, n: Int): Column =
    DedupFunctions.bindOnce(tokens(c)) { ts =>
      DedupFunctions.bindOnce(wordNgramsOf(ts, n)) { gs =>
        val g0 = size(gs)
        DedupFunctions.bindOnce(
          when(g0 === 0, array().cast("array<struct<g:string,i:int>>"))
            .otherwise(array_sort(transform(sequence(lit(1), g0), i =>
              struct(element_at(gs, i).as("g"), i.cast("int").as("i")))))) { sg =>
          val g = size(sg)
          // per-position dup flag via sorted neighbors; (i, d) structs
          // sort back to position order (i is unique)
          DedupFunctions.bindOnce(
            when(g === 0, array().cast("array<struct<i:int,d:boolean>>"))
              .otherwise(array_sort(transform(sequence(lit(1), g), j => {
                val cur = element_at(sg, j).getField("g")
                val dupPrev = when(j > 1,
                  cur === element_at(sg, j - 1).getField("g")).otherwise(lit(false))
                val dupNext = when(j < g,
                  cur === element_at(sg, j + 1).getField("g")).otherwise(lit(false))
                struct(element_at(sg, j).getField("i").as("i"),
                  (dupPrev || dupNext).as("d"))
              })))) { byIdx =>
            val m = size(ts)
            val coveredMass = aggregate(sequence(lit(1), m), lit(0L), (acc, p) => {
              val lo = greatest(p - (n - 1), lit(1))
              val hi = least(p, g)
              val cov = when(hi < lo, lit(false)).otherwise(
                exists(slice(byIdx, lo, hi - lo + 1), s => s.getField("d")))
              acc + when(cov, length(element_at(ts, p)).cast("long")).otherwise(0L)
            })
            val total = aggregate(ts, lit(0L), (acc, t) => acc + length(t))
            when(m === 0 || g === 0 || total === 0, lit(0.0))
              .otherwise(coveredMass.cast("double") / total)
          }
        }
      }
    }

  /** Luhn checksum total of a digit string: the digit at reversed
    * position i doubles when i ≡ doubleParity (mod 2), doubled digits
    * > 9 subtract 9 (ISO/IEC 7812). doubleParity = 0 totals a FULL
    * number (the check digit at reversed position 1 stays single);
    * doubleParity = 1 totals a base MISSING its check digit (every
    * base digit shifts left one position once the check is appended).
    * Pure integer arithmetic — engine-exact, oracle-mirrorable. */
  def luhnSum(c: Column, doubleParity: Int): Column =
    DedupFunctions.bindOnce(c) { s =>
      aggregate(sequence(lit(1), length(s)), lit(0), (acc, i) => {
        val d = s.substr(length(s) - i + 1, lit(1)).cast("int")
        val dd = when(i % 2 === doubleParity,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + dd
      })
    }

  /** True iff the digit string passes the Luhn check. */
  def luhnValid(c: Column): Column = luhnSum(c, 0) % 10 === 0

  /** The check digit completing a base digit string to a Luhn-valid
    * number. */
  def luhnCheckDigit(c: Column): Column = (lit(10) - luhnSum(c, 1) % 10) % 10

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(c: Column): Column = {
    val st = textStats(c)
    val n = st.getField("lower_tokens")
    when(n === 0, lit(0.0)).otherwise(st.getField("stop").cast("double") / n)
  }

  /** Mean token length in characters (0 for empty docs). */
  def meanTokenLen(c: Column): Column =
    DedupFunctions.bindOnce(tokens(c)) { ts =>
      val n = size(ts)
      when(n === 0, lit(0.0)).otherwise(
        aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") / n)
    }

  /** The integer counts behind [[qualityScore]], [[langId]] and
    * [[stopwordRatio]] in one codegen'd pass per row
    * ([[graft.plans.TextStatsKernel.stats]]): `tokens` and `lower_tokens`
    * (whitespace tokens of the text and of `lower(text)`), `stop` (lowered
    * tokens in [[EnStopwords]]), one hit count per [[LangMarkers]]
    * language, `punct` ([[PunctClass]] characters) and `cjk` (any code
    * point in U+4E00..U+9FFF). Null for a null text. */
  private[graft] def textStats(c: Column): Column =
    graft.plans.NativeHash.textStats(c, ("stop" -> EnStopwords) +: LangMarkers)

  /** [[qualityScore]] over the [[textStats]] `st` of `c` — lets a composite
    * pipeline (q_pipeline_c4) share one stats pass across quality and
    * language ID. The floating-point steps are the oracle's, in its order,
    * so the values are bit-identical (NativeHashSpec). */
  private[graft] def qualityScoreOf(c: Column, st: Column): Column = {
    val lenScore = least(st.getField("tokens").cast("double") / 100.0, lit(1.0))
    val len = length(c)
    val punctRatio =
      when(len === 0, lit(0.0)).otherwise(st.getField("punct").cast("double") / len)
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio * 5.0)
    val n = st.getField("lower_tokens")
    val swRatio = when(n === 0, lit(0.0)).otherwise(st.getField("stop").cast("double") / n)
    round((lenScore * 0.4 + punctPenalty * 0.3 + least(swRatio * 5.0, lit(1.0)) * 0.3), 6)
  }

  /** Composite heuristic quality score in [0,1]: rewards mid-length docs,
    * a sane stopword ratio and low punctuation density. Deterministic and
    * SQL-expressible so it can be oracle-checked. */
  def qualityScore(c: Column): Column = qualityScoreOf(c, textStats(c))

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic. Scores = whole-word marker hits; argmax wins, ties broken
    * by language code order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "en"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "des", "une"))

  /** Heuristic language ID: CJK characters => "zh"; otherwise the language
    * with the most marker-word hits ("und" = undetermined when all zero).
    * Tie-break: first language in [[LangMarkers]] order. */
  def langId(c: Column): Column = langIdOf(textStats(c))

  /** [[langId]] over a [[textStats]] column. */
  private[graft] def langIdOf(st: Column): Column = {
    val scoreArr = array(LangMarkers.map(l => st.getField(l._1)): _*)
    val mx = array_max(scoreArr)
    // first language (in LangMarkers order) reaching the max wins —
    // array_position returns the FIRST 1-based match
    val names = array(LangMarkers.map(l => lit(l._1)): _*)
    // a null text has no language; the explicit branch also keeps the
    // column nullable (element_at declares a non-null result here)
    when(st.isNull, lit(null).cast("string"))
      .when(st.getField("cjk"), lit("zh"))
      .when(mx === 0, lit("und"))
      .otherwise(element_at(names, array_position(scoreArr, mx).cast("int")))
  }

  /** 64-bit hex document fingerprint over normalized text (first 16 hex
    * chars of md5) — stable across engines, usable as an exact-dup key. */
  def fingerprintHex(c: Column): Column =
    substring(md5(normalizeText(c)), 1, 16)

  /** 60-bit integer hash of a string via md5 (15 hex chars => fits a
    * signed 64-bit int). Matches DuckDB's
    * `CAST('0x' || substr(md5(s),1,15) AS BIGINT)` exactly. */
  def md5Long(c: Column): Column =
    // codegen'd digest-direct kernel (r15) — bit-identical to
    // conv(substring(md5(c), 1, 15), 16, 10) without the 32-char hex
    // round-trip (see NativeHash.Md5Long60); the md5 digest itself is
    // unchanged, so every oracle mirror stays valid
    graft.plans.NativeHash.md5Long60(c.cast("string"))

  // ------------------------------------------------- BPE (arXiv:1508.07909)

  /** Word -> its initial BPE symbol string: one symbol per character,
    * joined by single spaces ("abc" -> "a b c"). Symbols can never contain
    * whitespace (words come from whitespace tokenization), so the spaced
    * string is an unambiguous symbol-sequence encoding in both engines.
    * Character indexing is code-point based on both sides (same contract
    * as the char-ngram family). */
  def bpeInit(w: Column): Column =
    concat_ws(" ", transform(sequence(lit(1), length(w)),
      i => w.substr(i, lit(1))))

  /** Adjacent symbol pairs of a symbol string, each as "a b" — the merge
    * candidates one BPE round counts. Empty for single-symbol words. */
  def bpePairs(sw: Column): Column =
    DedupFunctions.bindOnce(split(sw, " ")) { syms =>
      when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          i => concat(element_at(syms, i), lit(" "), element_at(syms, i + 1))))
        .otherwise(array().cast("array<string>"))
    }

  /** Apply one BPE merge (a, b) -> a||b to a symbol string: a greedy
    * left-to-right fold that appends b with NO separator whenever the
    * accumulated string's last symbol is exactly a. This is the paper's
    * non-overlapping left-to-right regex replace without the regex:
    * the suffix test `acc == a OR acc ends-with ' '+a` is exact because
    * symbols contain no spaces, and the merged symbol a||b can never
    * re-match a within the same round (that would need b empty), so a
    * single pass is greedy-correct even for self-chains like (a, a) over
    * "a a a" -> "aa a". Mirrored verbatim by DuckDB `list_reduce`. */
  def bpeMerge(sw: Column, a: String, b: String): Column =
    aggregate(split(sw, " "), lit(""), (acc, x) =>
      when(acc === "", x)
        .when((acc === a || acc.endsWith(lit(" " + a))) && x === b,
          concat(acc, x))
        .otherwise(concat(acc, lit(" "), x)))

  // ------------------------------------- byte-level BPE (GPT-2 family)

  /** GPT-2-family byte-level pre-tokenizer pattern (Radford et al. 2019,
    * `gpt2/encoder.py`; the tiktoken lineage), written in the common
    * Java-regex/RE2 subset so Spark and DuckDB split identically:
    *   - contraction suffixes first ('s 't 're 've 'm 'll 'd),
    *   - then space-prefixed letter runs, digit runs, punctuation runs,
    *   - then whitespace runs.
    * Two documented deviations from the original, both deterministic:
    * the final `\s+(?!\S)` lookahead is dropped (RE2 has no lookahead),
    * so an N-space run before a word stays one whitespace pre-token
    * instead of splitting N-1 / 1; and the whitespace class is the
    * explicit `[ \t\r\n\f]` (Java's `\s` includes \x0B, RE2's does not —
    * naming the bytes keeps the contract engine-independent). */
  val BytePretokenRe: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\r\\n\\f\\p{L}\\p{N}]+|[ \\t\\r\\n\\f]+"

  /** Byte-level pre-tokens of RAW text (no normalization — byte-level
    * BPE's contract is lossless coverage): ordered regex matches; every
    * character of the input lands in exactly one pre-token, so
    * concatenating the pre-tokens reproduces the document. */
  def bytePretokens(text: Column): Column =
    regexp_extract_all(text, lit(BytePretokenRe), lit(0))

  /** Pre-token -> its initial byte-level symbol string: the UTF-8 bytes
    * as space-joined 2-hex-digit symbols ("ab" -> "61 62", "é" -> "C3
    * A9"). The 256 hex pairs ARE the byte alphabet (GPT-2's
    * bytes_to_unicode is the same idea with printable glyphs), symbols
    * never contain whitespace, and [[bpePairs]]/[[bpeMerge]] operate on
    * the spaced encoding unchanged — merged symbols are just longer hex
    * strings, decodable back to the exact byte sequence. */
  def byteInit(w: Column): Column =
    trim(regexp_replace(hex(encode(w, "UTF-8")), "(..)", "$1 "))

  // ------------------------------------------------------- PII scrubbing

  /** PII patterns written in the common Java-regex/RE2 subset (no
    * lookaround, ASCII classes, `\b` word boundaries) so Spark and DuckDB
    * match identical spans. Classes are explicit `[0-9]`, not `\d`, to
    * dodge engine-specific Unicode class semantics. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** Ordered (pattern, replacement) redaction passes: emails first (their
    * domains contain dotted digit runs an IP pass would half-eat), then
    * IPs, then bare phone numbers. */
  val PiiPasses: Seq[(String, String)] = Seq(
    EmailRe -> "<EMAIL>", Ipv4Re -> "<IP>", PhoneRe -> "<PHONE>")

  /** Redact all PII matches (global replace per pass, in pass order). */
  def redactPii(c: Column): Column =
    PiiPasses.foldLeft(c) { case (acc, (re, tok)) =>
      regexp_replace(acc, re, tok)
    }

  /** Count matches of one PII pattern (whole-match group 0). */
  def piiCount(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0))).cast("long")
}
