package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-pipeline column expression builders (all codegen'd built-ins — no
  * UDFs, per SURVEY §2 "Functions, not UDFs"). Shared between the dedup /
  * text-analysis queries and their DuckDB oracle SQL (the constants below
  * are interpolated into both sides so the math is identical).
  */
object TextFns {

  /** Whitespace tokens (single-space split — matches DuckDB string_split). */
  def tokens(c: Column): Column = split(c, " ")

  /** Content-defined chunks of `text`: the substrings between
    * graft_cdc_cuts boundaries (1-based code-point offsets), empties
    * dropped. ONE definition shared by the batch rows (p19/p20) and the
    * streaming twin (Streaming.dedupCdcChunksStream) so the two cannot
    * drift. graft.GraftExtensions installs graft_cdc_cuts in every session.
    */
  def cdcChunks(text: Column): Column = {
    val cuts = call_function("graft_cdc_cuts", text)
    val b = concat(array(lit(0)), cuts, array(length(text)))
    filter(
      zip_with(
        slice(b, lit(1), size(b) - 1),
        slice(b, lit(2), size(b) - 1),
        (p, c) => text.substr(p + lit(1), c - p)),
      ch => length(ch) > 0)
  }

  /** Word 3-gram shingles of a token array.
    *
    * Shape matters: an earlier `transform(sequence(0, n-3), i =>
    * ...element_at(t, i+1)...)` version captured `t` inside the lambda —
    * Spark re-evaluates captured argument expressions per lambda element,
    * so the upstream split() ran ~3× per shingle (measured minutes
    * instead of seconds on 5000 docs). zip_with evaluates its two array
    * inputs once per row, so this keeps the cost linear: the zipped
    * slices are (t[0..n-3], t[1..n-2], t[2..n-1]).
    */
  def grams3(t: Column): Column = {
    val len = greatest(size(t) - 2, lit(0))
    zip_with(
      zip_with(slice(t, lit(1), len), slice(t, lit(2), len), (a, b) => concat_ws(" ", a, b)),
      slice(t, lit(3), len),
      (ab, c) => concat_ws(" ", ab, c))
  }

  /** Word 2-gram shingles of a token array (same zip_with shape as
    * [[grams3]] — the arrays are evaluated once per row, keeping the
    * cost linear in tokens).
    */
  def grams2(t: Column): Column = {
    val len = greatest(size(t) - 1, lit(0))
    zip_with(slice(t, lit(1), len), slice(t, lit(2), len), (a, b) => concat_ws(" ", a, b))
  }

  /** 60-bit deterministic string hash: first 15 hex chars of md5, as a
    * positive long. DuckDB mirror: CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT).
    * Evaluated by the native codegen'd expression
    * [[graft.expressions.Md5Prefix60]] — same value, no intermediate
    * hex-string materialization (the built-in composition below is kept
    * as the property-tested reference: [[h60Builtin]]).
    */
  def h60(c: Column): Column = call_function("graft_md5p60", c)

  /** The built-in-functions composition h60 replaces (equivalence is
    * pinned by Md5Prefix60Spec).
    */
  def h60Builtin(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** MinHash family: h_k(x) = (A(k) * (h60 % P) + B(k)) % P.
    * A,B < 2^26 and (h60 % P) < 2^31 keep products within long range.
    */
  val MinhashP: Long = 2147483647L
  val MinhashA: Array[Long] = Array(
    2971L, 4583L, 6037L, 7919L, 9973L, 11587L, 13469L, 15773L,
    17393L, 19391L, 21143L, 23399L, 25523L, 27653L, 29443L, 31393L)
  val MinhashB: Array[Long] = Array(
    1543L, 3079L, 6151L, 12289L, 24593L, 49157L, 98317L, 196613L,
    393241L, 786433L, 1572869L, 3145739L, 6291469L, 12582917L, 25165843L, 50331653L)
  val MinhashK: Int = MinhashA.length

  def minhashK(k: Int, hm: Column): Column =
    (lit(MinhashA(k)) * hm + lit(MinhashB(k))) % lit(MinhashP)

  /** Per-ROW minhash signature (all K slots) as a pure expression over a
    * bound `hms` attribute column holding the doc's array of
    * (h60 % P) shingle hashes. No aggregation and no shuffle, so it
    * computes identically in a plain projection and inside an
    * append-mode stream (the property streaming near-dup needs — the
    * batch groupBy signature build is an aggregation a stream can't run
    * without a watermark-windowed state). Empty `hms` (doc shorter than
    * one shingle) yields all-null slots — callers fall back to
    * exact-content keys for those.
    *
    * Evaluated by the native fused-loop expression
    * [[graft.expressions.MinhashSlotsExpr]] (one K×N primitive pass, one
    * allocation — the built-in composition below traverses hms K times
    * and allocates K arrays per row; it is kept as the property-tested
    * reference: [[minhashSlotsBuiltin]]).
    */
  def minhashSlots(hms: Column): Column =
    call_function("graft_minhash_slots", hms)

  /** The built-in-functions composition minhashSlots replaces
    * (equivalence pinned by MinhashSlotsSpec).
    *
    * `hms` MUST be a materialized attribute, not the hash expression
    * itself: lambdas re-evaluate captured outer EXPRESSIONS per element,
    * so capturing the md5 subtree would recompute it K times per
    * shingle; capturing an attribute just reads it.
    */
  def minhashSlotsBuiltin(hms: Column): Column =
    transform(sequence(lit(0), lit(MinhashK - 1)), k =>
      array_min(transform(hms, h =>
        (element_at(lit(MinhashA), k + 1) * h +
          element_at(lit(MinhashB), k + 1)) % lit(MinhashP))))

  /** Stopword mini-dictionaries for the language-ID heuristic. */
  val StopEn: Seq[String] = Seq("the", "a", "and", "of", "to")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist")
  val StopEs: Seq[String] = Seq("el", "la", "de", "que", "los")
  val StopFr: Seq[String] = Seq("le", "les", "des", "est", "une")

  /** #tokens that are members of the given word set (exact match). */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Rolling polynomial fingerprint over characters:
    * fold(acc=0; acc = (acc*31 + ascii(char)) % 1e9+7). Sequential fold =>
    * deterministic and identical to the DuckDB list_reduce mirror.
    *
    * Evaluated by the native expression
    * [[graft.expressions.FingerprintExpr]] (one primitive loop over the
    * UTF-8 bytes; ASCII contract, same as the oracle). The HOF
    * composition below allocated a single-char UTF8String per CHARACTER
    * and ran an interpreted lambda per element — an allocation per byte
    * of corpus. Equivalence pinned by FingerprintExprSpec.
    */
  val FpMod: Long = 1000000007L
  def fingerprint(c: Column): Column =
    call_function("graft_fingerprint", c)

  /** The built-in HOF composition fingerprint replaces (kept as the
    * property-tested reference).
    */
  def fingerprintBuiltin(c: Column): Column =
    aggregate(
      split(c, ""),
      lit(0L),
      (acc, ch) => (acc * 31L + ascii(ch)) % lit(FpMod))
}
