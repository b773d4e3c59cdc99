package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression text kernels — the engine's replacement for the
  * reference's Python-UDF corpus (SURVEY §2.9: F9 normalize_text,
  * F10 similarity, F11 blocking key) plus the large-scale-pipeline
  * additions (token hashing, MinHash, language-ID markers, quality
  * features, fingerprinting).
  *
  * Everything here is a pure Catalyst expression: whole-stage-codegen
  * friendly, no UDF row boundary, and (deliberately) reproducible in
  * ANSI SQL so the DuckDB oracle can replay the exact semantics. The
  * token hash is built from md5 (stable across engines and JVMs) rather
  * than xxhash64/murmur (engine-specific seeds) — at 100 TB the hash is
  * computed once per token scan either way.
  */
object TextFunctions {

  /** Modulus for MinHash permutations: 2^31 - 1 (Mersenne prime). With
    * hash values and coefficients < P, a*h+b < 2^62 — no int64 overflow. */
  val HashP: Long = 2147483647L

  /** Deterministic permutation coefficients for MinHash hash family i. */
  def hashParams(i: Int): (Long, Long) = (1000003L * (i + 1) + 12345L, 7919L * (i + 1) + 17L)

  /** Lowercased alpha tokens, empties removed. (F9 normalize_text core.) */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z]+"), t => length(t) > 0)

  /** Distinct token set — the unit of Jaccard set math (F10). */
  def tokenSet(c: Column): Column = array_distinct(tokens(c))

  /** Portable 60-bit token hash: first 15 hex chars of md5 as int64. */
  def tokenHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Token hash reduced into the MinHash ring [0, P). */
  def tokenHashMod(c: Column): Column = pmod(tokenHash(c), lit(HashP))

  /** Signature from an already-hashed (mod-P) token array. */
  def minhashFromHashes(hashedMod: Column, k: Int): Column =
    array((0 until k).map { i =>
      val (a, b) = hashParams(i)
      array_min(transform(hashedMod, h => pmod(lit(a) * h + lit(b), lit(HashP))))
    }: _*)

  /** Word n-gram shingles of a token array (space-joined). Guarded for
    * short arrays: under ANSI mode (Spark 4 default) an out-of-range
    * element_at or a descending sequence would error. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, (i + j).cast("int"))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Jaccard similarity of two array-set columns, as DOUBLE in [0,1].
    * (F10's kernel: size(intersect)/size(union).) */
  def jaccard(a: Column, b: Column): Column =
    when(size(a) === 0 || size(b) === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"))

  /** Occurrence count of literal `marker` in `c` — the codegen'd
    * [[StringOps.substringCount]] find-walk. The DuckDB mirror
    * ([[sqlOccurrences]]) uses length arithmetic instead; the two agree
    * because both count left-to-right NON-OVERLAPPING matches
    * (equivalence pinned by KernelPropertySpec). */
  def occurrences(c: Column, marker: String): Column = {
    require(marker.nonEmpty, "occurrence marker must be non-empty")
    StringOps.substringCount(c, lit(marker))
  }

  /** Whitespace-collapsed, trimmed, lowercased canonical text (F9). */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "[ \\t\\n\\r\\f]+", " "))

  /** Document fingerprint: md5 of the canonical text. */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  // ----- SQL mirrors (DuckDB) of the kernels above, used to assemble
  // ----- oracle queries from the same constants.

  /** SQL: distinct lowercase alpha tokens of expression `e`. */
  def sqlTokenSet(e: String): String =
    s"list_distinct(list_filter(string_split_regex(lower($e), '[^a-z]+'), x -> len(x) > 0))"

  /** SQL: ALL lowercase alpha tokens (duplicates kept, in order) —
    * mirror of [[tokens]]; the shingle/gram builders need order. */
  def sqlTokensAll(e: String): String =
    s"list_filter(string_split_regex(lower($e), '[^a-z]+'), x -> len(x) > 0)"

  /** SQL: word n-gram shingles of token-array expr `toksE` (space-
    * joined) — mirror of [[shingles]], short arrays -> empty list.
    * `toksE` should be a plain column reference (it is inlined n+2
    * times); bind computed token lists in a CTE first. */
  def sqlShingles(toksE: String, n: Int): String = {
    val joined = (0 until n).map(j => s"$toksE[i + $j]").mkString(" || ' ' || ")
    s"""CASE WHEN len($toksE) >= $n
          THEN list_transform(range(1, len($toksE) - ${n - 2}), i -> $joined)
          ELSE [] END"""
  }

  /** SQL: 60-bit md5 token hash of expression `e`. */
  def sqlTokenHash(e: String): String =
    s"CAST('0x' || substring(md5($e), 1, 15) AS BIGINT)"

  def sqlTokenHashMod(e: String): String = s"(${sqlTokenHash(e)} % $HashP)"

  /** SQL: MinHash element i over token-array expression `toksE`. */
  def sqlMinhash(toksE: String, i: Int): String = {
    val (a, b) = hashParams(i)
    s"list_min(list_transform($toksE, x -> ($a * ${sqlTokenHashMod("x")} + $b) % $HashP))"
  }

  /** SQL: MinHash element i over an already-hashed (mod-P) array expr. */
  def sqlMinhashFromHashes(hashedE: String, i: Int): String = {
    val (a, b) = hashParams(i)
    s"list_min(list_transform($hashedE, h -> ($a * h + $b) % $HashP))"
  }

  /** SQL: occurrence count of literal `marker` (single-quote-safe).
    * Divisor = CODE POINTS (DuckDB length() semantics), not UTF-16
    * units — a non-BMP marker char would otherwise halve the count. */
  def sqlOccurrences(e: String, marker: String): String = {
    require(marker.nonEmpty, "occurrence marker must be non-empty")
    val m = marker.replace("'", "''")
    val cp = marker.codePointCount(0, marker.length)
    s"CAST((length($e) - length(replace($e, '$m', ''))) / $cp AS BIGINT)"
  }

  def sqlNormalize(e: String): String =
    s"trim(regexp_replace(lower($e), '[ \\t\\n\\r\\f]+', ' ', 'g'))"
}
