package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.GraftPlanBridgeImpl.mapExpr
import org.apache.spark.sql.functions._

import graft.functions.{LshBands, MinhashSignature, ShingleDigests, TokenDigests}

/** Text / dedup column operators for the LLM-data-pipeline surface.
  *
  * Every operator is a pure per-row projection: at 100 TB these run
  * map-side at scan speed; only the downstream groupBy/join (dedup
  * bucketing, candidate pairing) shuffles, and it shuffles *short
  * digests*, never the documents. The MinHash-LSH key path
  * ([[tokenHashes]], [[shingleHashes3]], [[shingleHashes2]],
  * [[minhashSignature]], [[lshBands]]) is graft's own compiled kernel
  * ([[graft.functions.MinhashKernel]]), so it stays inside whole-stage
  * codegen. The rest are built from Catalyst built-ins; the higher-order
  * functions among them (`transform`/`aggregate`/`filter` in
  * [[wordShingles]], [[simhash16]], [[markerHits]]) are `CodegenFallback`,
  * interpreted per row.
  *
  * Determinism: "random" hash functions are md5 with an integer seed prefix,
  * and min-hash minimizes the hex *string* — portable bit-for-bit to any
  * engine with md5 (the DuckDB oracle replicates each formulation exactly).
  * Generalizes the reference's single-document extraction pipeline
  * (/root/reference/download_lambda.py:88-119) to corpus-level analysis.
  */
object TextOps {

  /** Whitespace tokenizer (fixture docs are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** k-word shingles as strings; documents shorter than k tokens yield an
    * empty array. The `when` guard matters: Spark's sequence(1, n) with
    * n < 1 counts DOWN (yielding [1, 0]) instead of producing an empty
    * sequence, and element_at(_, 0) then aborts the job. */
  def wordShingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)), i =>
        concat_ws(" ", (0 until k).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  /** MinHash universal-hash family over 2^40-sized digests: one prime just
    * above 2^40 and fixed (a, b) pairs, so a*h + b < 2^60 — exact BIGINT
    * arithmetic in any engine, no overflow, no float. */
  val MinhashPrime: Long = 1099511627791L
  val MinhashA: Seq[Long] = Seq(
    670489L, 116741L, 26227L, 777573L, 288391L, 256789L,
    234055L, 146317L, 772247L, 107475L, 709571L, 776647L)
  val MinhashB: Seq[Long] = Seq(
    70531617177L, 201991441006L, 512040151179L, 921463507190L,
    984494296032L, 612416232876L, 351353318333L, 930711421818L,
    611346720886L, 473114181936L, 224783961977L, 833621995793L)

  /** One 40-bit integer digest per shingle: first 10 hex chars of md5.
    * Computed ONCE per shingle (bind it with `withColumn` before fanning out
    * to the hash family) — hashing is the per-row hot loop at corpus scale.
    */
  def shingleHashes(shingles: Column): Column = tokenHashes(shingles)

  /** Polynomial-combine constants for 3-token shingle digests; with 40-bit
    * token digests, h1*C1 + h2*C2 + h3 < 2^61 — exact BIGINT everywhere. */
  val ShingleC1: Long = 1000003L
  val ShingleC2: Long = 10007L

  /** 40-bit digest per token (first 10 md5 hex chars as an integer). */
  def tokenHashes(toks: Column): Column = mapExpr(toks)(TokenDigests(_))

  /** 3-token shingle digests straight from token digests — one md5 per
    * TOKEN and three integer ops per shingle, instead of building the
    * shingle string and hashing it. This is the hot loop of corpus dedup:
    * at 100 TB the difference between string-assembly-then-md5 and integer
    * polynomial rolling is the difference between CPU-bound and scan-bound.
    */
  def shingleHashes3(tokenDigests: Column): Column =
    // <3 tokens → empty array, matching the DuckDB twin (range(1, n) with
    // n <= 1 is empty there); a null array → empty array too.
    mapExpr(tokenDigests)(ShingleDigests(_, 3))

  /** 2-token shingle (bigram) digests from token digests — same integer
    * polynomial scheme as [[shingleHashes3]] (h1*C1 + h2 < 2^61, exact
    * BIGINT everywhere), for repetition metrics where the unit of
    * repetition is the word pair. */
  def shingleHashes2(tokenDigests: Column): Column =
    mapExpr(tokenDigests)(ShingleDigests(_, 2))

  /** MinHash signature from pre-computed shingle digests: element j is
    * min((a_j * h + b_j) mod p) over the digests — 12 passes of cheap
    * integer arithmetic instead of 12 md5 evaluations per shingle. */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    mapExpr(hashes)(MinhashSignature(_, numHashes))

  /** LSH band keys: md5 over each band of `rowsPerBand` signature entries
    * (comma-joined — unambiguous for variable-width integers). Returns
    * array<struct<band:int, bkey:string>> ready to explode; docs sharing
    * any (band, bkey) are near-dup candidates. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    mapExpr(sig)(LshBands(_, bands, rowsPerBand))

  /** 16-bit SimHash over the low bits of 40-bit token digests, as a
    * '0'/'1' string. Bit j is the sign of sum over tokens of ±1 by digest
    * bit j — exact integer shift/AND arithmetic, portable to any engine
    * with BIGINT bit ops. Single pass: one md5 per token (via
    * [[tokenHashes]]), a 16-wide ±1 vector per token, one zip_with-sum
    * fold — no per-bit string work in the hot loop. */
  def simhash16(text: Column): Column = {
    val signs = aggregate(
      tokenHashes(split(text, " ")),
      array_repeat(lit(0), 16),
      (acc, h) => zip_with(
        acc,
        array((0 until 16).map(i =>
          when(shiftright(h, i).bitwiseAND(lit(1L)) === lit(1L), lit(1))
            .otherwise(lit(-1))): _*),
        (a, s) => a + s))
    concat_ws("", transform(signs, v => when(v >= 0, "1").otherwise("0")))
  }

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token set (catches shuffled/duplicated-word near-copies). */
  def sortedTokenFingerprint(toks: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(toks))))

  /** Count of tokens that appear in a fixed marker list. */
  def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** Training-data PII scrub: emails, URLs, and long digit runs replaced
    * with typed sentinels. Conservative patterns that mean the same thing
    * in Java regex and RE2 — per-row projection, scan-speed at any scale.
    * (Fixture docs contain none of these, so the declared query —
    * q74_pii_scrub — synthesizes PII-shaped text from fixture columns;
    * unit tests cover the sentinel classes and idempotence directly.) */
  def scrubPii(text: Column): Column = {
    val noUrl = regexp_replace(text, "https?://[^ ]+", "<URL>")
    val noEmail = regexp_replace(noUrl,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(noEmail, "[0-9]{6,}", "<NUM>")
  }
}
