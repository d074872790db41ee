package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives shared by the dedup / similarity /
  * text-analysis operators. Everything here is built from codegen'd
  * `org.apache.spark.sql.functions` (no Scala UDFs) so the hot path
  * stays inside whole-stage codegen, and every function has an exact
  * DuckDB mirror for the oracle (md5-based hashing, not xxhash, for
  * cross-engine determinism — swap `hash60` for `xxhash64` when oracle
  * parity is not required).
  */
object TextFunctions {

  /** Whitespace tokenization, lowercased. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Quality score in exact integer milli units over a token array
    * (type/token ratio damped by a short-document factor) — THE one
    * definition shared by q16, the token-budget selection (q100), the
    * curriculum order (q146), and the composed pipeline (q147);
    * mirrored verbatim in each oracle. */
  def qualityMilli(ts: Column): Column =
    round(lit(1000.0) * size(array_distinct(ts)) / size(ts) *
      least(lit(1.0), size(ts) / lit(100.0)), 0).cast("long")

  /** Deterministic 60-bit hash of a string: first 15 hex chars of md5.
    * 60 bits keeps the value positive in a signed long on both engines
    * (DuckDB mirror: `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`).
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** HyperLogLog estimate over m = 64 registers of rank <= 30 from
    * `nSum` = Σ 2^(30−r) (empty registers count 2^30): α·m²·2^30/nSum
    * in exact integers, with α in ppm and m²·2^30 = 2^42 — the one
    * definition shared by q224 and q291 (their oracles mirror it). */
  def hllEstimate(nSum: String): Column =
    expr(s"709213 * (4398046511104 div $nSum) div 1000000")

  /** Count-Min sketch cell coordinates of a term: array of d
    * (j, bkt = hash60("cms<j>:" || term) mod w) structs — the ONE
    * definition shared by q217, its maintained twin q270 and their
    * DuckDB oracle recipe, so any two sketches built with the same
    * (d, w) merge by per-cell sum. */
  def cmsCells(term: Column, d: Int, w: Long): Column =
    array((0 until d).map(j => struct(lit(j).as("j"),
      pmod(hash60(concat(lit(s"cms$j:"), term)), lit(w)).as("bkt"))): _*)

  // MinHash permutation family h_i(x) = (A_i * x32 + B_i) mod P over
  // the 32 low bits of the base hash — ONE md5 per shingle, then 16
  // overflow-free integer permutations (A_i < 2^29, x32 < 2^32 =>
  // product < 2^61 < Long.Max). Constants are derived here and
  // injected verbatim into the oracle SQL, so both engines share them.
  final val MinhashP = 2305843009213693951L // 2^61 - 1
  def minhashA(i: Int): Long = ((i * 2654435761L + 1013904223L) % (1L << 29)) | 1L
  def minhashB(i: Int): Long = (i * 1442695040888963407L) % MinhashP match {
    case b if b < 0 => b + MinhashP
    case b => b
  }

  /** 32 low bits of [[hash60]] — the MinHash base value. */
  def hash32(c: Column): Column = hash60(c).bitwiseAND(lit(4294967295L))

  /** The i-th MinHash permutation applied to a hash32 column. */
  def minhashPerm(i: Int, h32: Column): Column =
    (h32 * minhashA(i) + minhashB(i)) % MinhashP

  /** Distinct word n-gram shingles of a token array (n fixed at call
    * site). Empty when fewer than n tokens. */
  def shingles(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array()))
  }

  /** |a ∩ b| for two string arrays (set semantics). */
  def intersectSize(a: Column, b: Column): Column =
    size(array_intersect(a, b))

  /** |a ∪ b| for two string arrays (set semantics). */
  def unionSize(a: Column, b: Column): Column =
    size(array_union(a, b))

  /** Jaccard similarity in exact parts-per-million (integer — oracle
    * hash parity; never a raw double). */
  def jaccardPpm(a: Column, b: Column): Column =
    round(lit(1000000.0) * intersectSize(a, b) / unionSize(a, b), 0).cast("long")

  /** Rolling polynomial fingerprint over the ordered token stream:
    * fold(acc * 1000003 + h60(tok) mod 2^40) mod 2^40. Mirrors the
    * reference's string-identity checks as a scalable fingerprint
    * (cf. /root/reference/src/util/TtlHelper.cpp:62-82 id-from-string).
    */
  def rollingFingerprint(toks: Column): Column = {
    val m = 1099511627776L // 2^40
    aggregate(
      transform(toks, t => hash60(t) % m),
      lit(0L),
      (acc, h) => (acc * 1000003L + h) % m)
  }
}
