package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, language identification, quality
  * scoring, and document fingerprinting.
  *
  * The reference pipeline (francesco-camaione/dataquality_ML) operates on
  * numeric SMART telemetry only; these operators extend the engine to the
  * document-corpus side of a training-data pipeline. Everything here is a
  * pure Column expression built from codegen'd built-ins (`split`,
  * `aggregate`, `transform`, `filter`) — no UDFs, no shuffles, fully
  * whole-stage-codegen'd, embarrassingly parallel per row. At 100 TB this
  * is a single map stage over the corpus scan with full predicate/column
  * pushdown intact.
  *
  * Hashing: a polynomial character hash mod a 31-bit prime, expressible
  * identically in any SQL engine (for the DuckDB oracle) while staying
  * overflow-safe in 64-bit arithmetic: acc < P ≈ 2^30, acc*31 + 127 < 2^35.
  * For a production 100 TB run `xxhash64(col)` (built-in, faster) is a
  * drop-in via the `hash` parameter of the *Hashed variants.
  */
object TextOps {

  /** 31-bit prime modulus: keeps polynomial-hash arithmetic exact in
    * 64-bit integers on both Spark and the SQL oracle.
    */
  val P = 1000000007L
  val HashSeed = 7L
  val RollBase = 1000003L

  /** Whitespace tokenizer (empty tokens dropped — leading/double spaces
    * are tolerated).
    */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Deterministic polynomial hash of a string: fold over characters,
    * h := (h*31 + ascii(c)) mod P. Oracle-parity twin of `Sql.strHash`.
    *
    * Dispatches to the native codegen kernel
    * ([[graft.sim.StrHashExpr]], one static call per value instead of
    * one lambda invocation per character), which registers itself on
    * the active session. [[strHashHof]] is the pure higher-order form
    * (identical results on BMP text) kept for parity testing.
    */
  def strHash(c: Column, seed: Long = HashSeed): Column =
    graft.sim.GraftFunctions.strHash(c, seed)

  /** Higher-order-function form of [[strHash]] (slow path). */
  def strHashHof(c: Column, seed: Long = HashSeed): Column =
    aggregate(
      filter(split(c, ""), ch => ch =!= lit("")),
      lit(seed),
      (acc, ch) => (acc * lit(31L) + ascii(ch).cast(LongType)) % lit(P))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Distinct-token count. */
  def uniqueTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** BPE-ish subword count: each token contributes ceil(len/4) units —
    * a cheap deterministic proxy for byte-pair-encoded token counts used
    * to budget training corpora.
    */
  def bpeTokenCount(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast(LongType))

  /** Regex word count (genuinely regex-driven, unlike the whitespace
    * path): number of maximal `[a-z0-9]+` runs.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z0-9]+"), lit(0)))

  /** Rolling-hash document fingerprint: order-sensitive fold of token
    * hashes, fp := (fp*R + strHash(tok)) mod P. Two documents with the
    * same token sequence collide; any reordering almost surely does not.
    */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => (acc * lit(RollBase) + strHash(t)) % lit(P))

  /** Canonical text normalization — the pre-dedup/pre-hash cleanup pass
    * (lowercase, every non-[a-z0-9 ] byte → space, whitespace runs
    * collapsed, ends trimmed). Normalizing BEFORE hashing is what lets
    * exact dedup catch case/punctuation-only near-duplicates; the regex
    * subset is deliberately engine-portable (same semantics in Java
    * regex and DuckDB/RE2). Pure map stage: zero shuffle at any scale.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Unigram token entropy in bits — the vocabulary-diversity quality
    * signal (a boilerplate/template page scores near 0; natural prose
    * scores ≈ log2 of its effective vocabulary). Computed wholly inside
    * higher-order functions over the token array — no explode, no
    * shuffle, one codegen'd map stage per row.
    *
    * Determinism: the per-token probabilities are summed in SORTED
    * distinct-token order (both engines), so the double fold is
    * order-fixed and cross-engine reproducible to the last ulp of each
    * step. `0.0 - fold` (not unary minus) keeps an all-identical-token
    * document at +0.0, never -0.0 (which would hash-mismatch the
    * oracle). O(distinct × tokens) per row — the no-shuffle trade.
    *
    * PERF: pass a pre-projected token-array column on hot paths (the
    * [[langIdFromTokens]] caveat — HOF lambdas re-inline per branch).
    */
  def tokenEntropyFromTokens(toks: Column): Column = {
    val n = size(toks).cast("double")
    val probs = transform(array_sort(array_distinct(toks)),
      t => size(filter(toks, y => y === t)).cast("double") / n)
    lit(0.0) - aggregate(probs, lit(0.0), (acc, p) => acc + p * log2(p))
  }

  def tokenEntropy(text: Column): Column =
    tokenEntropyFromTokens(tokens(text))

  /** Hashing-trick token featurization (the HashingTF / Vowpal-Wabbit
    * featurizer): tokens hash into a FIXED `dim`-long count vector, so
    * an unbounded vocabulary becomes a constant-width dense array with
    * no fitted dictionary to ship — the featurization that works on a
    * stream or a 100 TB corpus without a vocabulary pass. Collisions
    * fold counts together by design (the hashing-trick trade).
    *
    * Map-only: both steps are HOF projections, zero shuffle. Hash the
    * tokens ONCE into their own column ([[hashedTokens]]), then count
    * ([[hashFeaturesFromHashed]] is O(dim·tokens) integer compares) —
    * fusing them would re-walk `strHash` per dimension (the HOF
    * re-inlining gotcha).
    */
  def hashedTokens(text: Column, dim: Int, seed: Long = HashSeed): Column = {
    require(dim >= 1, s"hashFeatures needs dim >= 1: $dim")
    // strHash lands in [0, P) — plain % dim stays non-negative
    transform(tokens(text), t => strHash(t, seed) % lit(dim.toLong))
  }

  def hashFeaturesFromHashed(hs: Column, dim: Int): Column =
    transform(sequence(lit(0L), lit(dim.toLong - 1)),
      d => size(filter(hs, h => h === d)).cast(LongType))

  /** Overlapping token-window chunking — the RAG / long-document
    * splitting step: a document becomes ⌈(n−overlap)/(size−overlap)⌉
    * chunks of `chunkSize` tokens, consecutive chunks sharing
    * `overlap` tokens (the last chunk may run short). Pure HOF map
    * stage over the token array — zero shuffle; pair with
    * `posexplode` to get one row per chunk. Empty docs yield an empty
    * chunk array (not one empty chunk).
    */
  def chunkTexts(toks: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize >= 1, s"chunkSize must be >= 1: $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize): $overlap")
    val step = chunkSize - overlap
    val n = size(toks)
    val k = when(n <= chunkSize, lit(1)).otherwise(
      floor((n - lit(chunkSize) + lit(step) - 1).cast("double") /
        lit(step.toDouble)).cast("int") + 1)
    // n = 0 guarded explicitly: Spark's sequence(0, -1) DESCENDS
    when(n === 0, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), k - 1),
        i => array_join(slice(toks, i * lit(step) + lit(1), lit(chunkSize)), " ")))
  }

  // --- language identification -------------------------------------- //

  /** Marker lexicons (disjoint). Real deployments would use larger
    * stopword lists / char-n-gram profiles; the mechanism — per-language
    * token-overlap score, argmax with deterministic alphabetical
    * tie-break — is the standard n-gram heuristic.
    */
  val lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ein", "window", "merge"),
    "en" -> Seq("the", "a", "of", "and", "fast", "slow", "row"),
    "es" -> Seq("el", "los", "las", "una", "data", "query"),
    "fr" -> Seq("le", "les", "et", "une", "stream", "batch"),
    "zh" -> Seq("de5", "shi4", "join", "scan"))

  /** Per-language overlap score: number of tokens present in the
    * language's lexicon (with multiplicity).
    */
  def langScoreFromTokens(toks: Column, lex: Seq[String]): Column = {
    val lexArr = typedLit(lex)
    size(filter(toks, t => array_contains(lexArr, t)))
  }

  def langScore(text: Column, lex: Seq[String]): Column =
    langScoreFromTokens(tokens(text), lex)

  /** [[langId]] over a pre-tokenized column. PERF: the argmax references
    * each language score ~2× and each score walks the token array, so
    * callers on hot paths should project the token array into its own
    * column first (CollapseProject keeps multi-referenced non-cheap
    * expressions un-inlined) — see `SparkEntry.qLangId`.
    */
  def langIdFromTokens(toks: Column): Column = {
    val scores = lexicons.map { case (l, lex) => l -> langScoreFromTokens(toks, lex) }
    val best = greatest(scores.map(_._2): _*)
    val chain = scores.foldLeft(when(best === 0, lit("und"))) {
      case (acc, (l, s)) => acc.when(s === best, lit(l))
    }
    chain.otherwise(lit("und"))
  }

  /** Predicted language: argmax of lexicon overlap, ties broken by
    * alphabetical language order; no hits at all → "und".
    */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Combined stopword list (all lexicons) for quality scoring. */
  private val allMarkers: Seq[String] = lexicons.flatMap(_._2).distinct.sorted

  // --- quality scoring ----------------------------------------------- //

  /** Stopword fraction of tokens. */
  def stopwordRatio(text: Column): Column = {
    val lexArr = typedLit(allMarkers)
    size(filter(tokens(text), t => array_contains(lexArr, t))).cast("double") /
      size(tokens(text))
  }

  /** Mean token length in characters. */
  def avgTokenLen(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t))
      .cast("double") / size(tokens(text))

  /** Distinct/total token ratio — low values indicate repetitive,
    * low-quality documents.
    */
  def uniqueRatio(text: Column): Column =
    uniqueTokenCount(text).cast("double") / tokenCount(text)

  /** Heuristic quality score in [0,1]: blend of unique-token ratio, a
    * length prior (saturating at 100 tokens), and a stopword-presence
    * prior. Weights are arbitrary but fixed; the operator contract is
    * determinism + monotonicity in its parts.
    */
  def qualityScore(text: Column): Column = {
    val lenPrior = least(tokenCount(text).cast("double") / lit(100.0), lit(1.0))
    val sw = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    uniqueRatio(text) * lit(0.5) + lenPrior * lit(0.3) + sw * lit(0.2)
  }

  /** Gopher-style repetition signal: the fraction of n-gram occurrences
    * that repeat an earlier n-gram of the same document —
    * `1 − distinct_ngrams / total_ngrams` (0 when the doc has fewer
    * than n tokens). High values mark boilerplate/spam (the duplicate
    * n-gram filters of Rae et al. 2021). Pure codegen'd map stage.
    */
  def dupNgramFraction(text: Column, n: Int): Column =
    dupNgramFractionFromTokens(tokens(text), n)

  /** [[dupNgramFraction]] over a token-array column. Hot callers MUST
    * project `tokens(text)` into its own multi-referenced column
    * first: the per-gram lambda references the token array once per
    * element, and an INLINE `tokens(text)` expression re-runs the
    * split per gram — O(len²) tokenization (the r16 honest bench
    * measured q59 at 8.9 s; hoisted it is 0.9 s). */
  def dupNgramFractionFromTokens(toks: Column, n: Int): Column = {
    val total = size(toks) - lit(n - 1)
    val grams = transform(sequence(lit(1), total),
      i => array_join(slice(toks, i, lit(n)), " "))
    when(total > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Deterministic token masking — denoising-objective data prep (the
    * BERT/T5 corruption step, made reproducible): token i (1-based) of
    * document `id` is replaced by the `<mask>` sentinel iff
    * `(((id mod P)·1000003 + i·40503 + seed) mod P)·2654435761 mod P
    * mod 100 < pct`. The second multiplicative round matters: without
    * it, ids below ~P/10⁶ leave the first mod-P a no-op and the
    * per-position pattern degenerates to a stride-3 arithmetic
    * progression mod 100 (whole small documents then mask nothing or
    * everything). A pure hash of (id, position) — no RNG state, so
    * the same example always corrupts the same way across epochs/
    * engines/retries (and the mask layout is oracle-checkable). Pure
    * codegen'd map stage. Production swaps the sentinel for numbered
    * span-sentinels downstream; the position-hash mechanism is
    * identical.
    */
  def maskTokens(id: Column, text: Column, pct: Int,
                 seed: Long = 11L): Column =
    maskTokensFromTokens(id, tokens(text), pct, seed)

  /** [[maskTokens]] over a token-array column — hot callers project
    * `tokens(text)` once first (the per-token lambda's `element_at`
    * re-runs an inline tokenizer per element: O(len²), the same trap
    * as [[dupNgramFractionFromTokens]]). */
  def maskTokensFromTokens(id: Column, toks: Column, pct: Int,
                           seed: Long = 11L): Column = {
    val masked = transform(sequence(lit(1), size(toks)), i => {
      // sign-normalize the id residue (the keyBucket convention):
      // Spark % is a signed remainder, so a negative id would make h
      // negative and `h < pct` mask early tokens unconditionally
      val idRes = (id.cast(LongType) % lit(P) + lit(P)) % lit(P)
      val u = (idRes * lit(1000003L) +
        i.cast(LongType) * lit(40503L) + lit(seed)) % lit(P)
      val h = (u * lit(2654435761L)) % lit(P) % lit(100L)
      when(h < pct, lit("<mask>")).otherwise(element_at(toks, i))
    })
    // sequence(1, 0) DESCENDS in Spark — guard the empty-token case
    // (and keep element_at off an empty array under ANSI)
    when(size(toks) > 0, masked).otherwise(array().cast("array<string>"))
  }

  /** C4/Gopher-style document quality rules (Raffel et al. 2020 §2.2,
    * Rae et al. 2021 A1.1): each is (rule_name, pass-predicate) over a
    * PRE-PROJECTED stats row — callers hoist [[tokenCount]],
    * [[avgTokenLen]], [[stopwordRatio]], [[dupNgramFraction]] into
    * their own projection first (HOF lambdas inline shared subtrees
    * per reference, so evaluating the rules straight off the text
    * column would re-walk the token array once per rule).
    */
  def c4Rules(nTokens: Column, avgLen: Column, swRatio: Column,
              dupFrac: Column): Seq[(String, Column)] = Seq(
    "min_tokens" -> (nTokens >= 20),
    "avg_token_len" -> (avgLen >= 2.0 && avgLen <= 12.0),
    "has_stopword" -> (swRatio > 0.0),
    "low_repetition" -> (dupFrac <= 0.9))

  // --- DuckDB oracle SQL twins --------------------------------------- //

  /** SQL fragments computing byte-identical results in DuckDB ≥1.0.
    * `x` is a SQL expression string yielding the text column.
    */
  object Sql {
    def toks(x: String): String =
      s"list_filter(string_split($x, ' '), t -> t <> '')"

    def strHash(x: String, seed: Long = HashSeed): String =
      s"list_reduce(list_prepend($seed::BIGINT, list_transform(list_filter(string_split($x, ''), c -> c <> ''), c -> ascii(c)::BIGINT)), (acc, ch) -> (acc * 31 + ch) % $P)"

    def tokenCount(x: String): String = s"len(${toks(x)})"

    def uniqueTokenCount(x: String): String = s"len(list_distinct(${toks(x)}))"

    def bpeTokenCount(x: String): String =
      s"list_reduce(list_prepend(0::BIGINT, list_transform(${toks(x)}, t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), (a, b) -> a + b)"

    def fingerprint(x: String): String =
      s"list_reduce(list_prepend(0::BIGINT, list_transform(${toks(x)}, t -> ${strHash("t")})), (acc, h) -> (acc * $RollBase + h) % $P)"

    def langScore(x: String, lex: Seq[String]): String = {
      val arr = lex.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(${toks(x)}, t -> list_contains($arr, t)))"
    }

    def langId(x: String): String = {
      val scores = lexicons.map { case (l, lex) => l -> langScore(x, lex) }
      val best = scores.map(_._2).mkString("greatest(", ", ", ")")
      val whens = scores.map { case (l, s) => s"WHEN $s = best THEN '$l'" }
      s"(SELECT CASE WHEN best = 0 THEN 'und' ${whens.mkString(" ")} ELSE 'und' END FROM (SELECT $best AS best))"
    }

    def stopwordRatio(x: String): String = {
      val arr = allMarkers.map(w => s"'$w'").mkString("[", ", ", "]")
      s"(CAST(len(list_filter(${toks(x)}, t -> list_contains($arr, t))) AS DOUBLE) / ${tokenCount(x)})"
    }

    def avgTokenLen(x: String): String =
      s"(CAST(list_reduce(list_prepend(0::BIGINT, list_transform(${toks(x)}, t -> length(t)::BIGINT)), (a, b) -> a + b) AS DOUBLE) / ${tokenCount(x)})"

    def uniqueRatio(x: String): String =
      s"(CAST(${uniqueTokenCount(x)} AS DOUBLE) / ${tokenCount(x)})"

    def qualityScore(x: String): String =
      s"(${uniqueRatio(x)} * 0.5 + least(CAST(${tokenCount(x)} AS DOUBLE) / 100.0, 1.0) * 0.3 + least(${stopwordRatio(x)} * 5.0, 1.0) * 0.2)"

    def dupNgramFraction(x: String, n: Int): String = {
      val t = toks(x)
      val total = s"(len($t) - ${n - 1})"
      val grams = s"list_transform(generate_series(1, $total), i -> array_to_string($t[i:i+${n - 1}], ' '))"
      s"CASE WHEN $total > 0 THEN 1.0 - CAST(len(list_distinct($grams)) AS DOUBLE) / $total ELSE 0.0 END"
    }

    def hashedTokens(x: String, dim: Int): String =
      s"list_transform(${toks(x)}, t -> ${strHash("t")} % $dim)"

    def hashFeaturesFromHashed(hs: String, dim: Int): String =
      s"list_transform(generate_series(0, ${dim - 1}), d -> len(list_filter($hs, h -> h = d)))"

    def normalize(x: String): String =
      s"trim(regexp_replace(regexp_replace(lower($x), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

    def chunkTexts(x: String, c: Int, o: Int): String = {
      val t = toks(x)
      val step = c - o
      val k = s"(CASE WHEN len($t) <= $c THEN 1 ELSE (len($t) - $c + ${step - 1}) // $step + 1 END)"
      s"""(CASE WHEN len($t) = 0 THEN CAST([] AS VARCHAR[])
         | ELSE list_transform(generate_series(0, $k - 1),
         |   i -> array_to_string(($t)[i * $step + 1 : i * $step + $c], ' '))
         | END)""".stripMargin.replaceAll("\n", " ")
    }

    def tokenEntropy(x: String): String = {
      val t = toks(x)
      val n = s"CAST(len($t) AS DOUBLE)"
      val p = s"(CAST(len(list_filter($t, y -> y = u)) AS DOUBLE) / $n)"
      s"(0.0 - list_reduce(list_prepend(0.0, list_transform(list_sort(list_distinct($t)), u -> $p * log2($p))), (a, b) -> a + b))"
    }

    def maskTokens(id: String, x: String, pct: Int, seed: Long = 11L): String = {
      val t = toks(x)
      s"list_transform(generate_series(1, len($t)), i -> CASE WHEN ((((($id % $P + $P) % $P) * 1000003 + i * 40503 + $seed) % $P) * 2654435761) % $P % 100 < $pct THEN '<mask>' ELSE ($t)[i] END)"
    }
  }
}
