package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level primitives shared by the engine's queries.
  *
  * Cross-engine determinism rules (the driver hash-compares our parquet
  * against DuckDB running the oracle SQL on the same inputs):
  *
  *  - Money/quantity sums go through `decimal(18,2)` so the aggregation is
  *    exact and associative (safe under Spark's partial/final partial
  *    aggregation at any partition count), then cast to double for a
  *    stable output type. A raw double sum's low bits depend on reduce
  *    order and would flap vs the oracle.
  *  - The shared 60-bit hash primitive is md5-hex → first 15 nibbles →
  *    bigint: identical in Spark (`conv`) and DuckDB (`('0x'||…)::bigint`),
  *    unlike Spark's murmur3 `hash()` vs DuckDB's `hash()`.
  *  - Dot products / norms fold left-to-right over the array in DOUBLE,
  *    mirroring the oracle exactly; results are rounded before compare.
  */
object Fns {

  /** Exact decimal sum of a (2-decimal-valued) double column, as double. */
  def decSum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact decimal average: decimal sum / count, evaluated in double. */
  def decAvg(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double") / count(c)

  /** Deterministic 60-bit non-negative hash of a string column.
    * DuckDB twin: `('0x' || substr(md5(x), 1, 15))::bigint`.
    * Native codegen'd [[graft.functions.HashPrefix]] (r14) — the old
    * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")` tree paid
    * 4 string round-trips per hash; bits are identical. */
  def hash60(c: Column): Column = TextExprs.md5_prefix(c, 15)

  /** Whitespace tokenizer used across text analysis / dedup: split on
    * runs of whitespace, drop empty tokens (leading/trailing). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** The six-word stoplist of the q31 document-quality model (also
    * q424's function-word profile). DuckDB twin:
    * `['the','a','of','and','in','to']`. */
  val stopWords: Seq[String] = Seq("the", "a", "of", "and", "in", "to")

  /** Number of stoplist hits in a token array. */
  def stopCount(tk: Column): Column =
    size(filter(tk, t => t.isin(stopWords.map(lit): _*)))

  /** floor(x·1000 / n) as bigint — the quality model's permille rates
    * (one double division, identical floor on both engines). */
  def permille(x: Column, n: Column): Column =
    floor(x * lit(1000) / n).cast("long")

  /** The q31 document-quality score from a doc's token count, stoplist
    * hits and distinct-token count:
    * `least(nTok,100)·10 + (1000 − stop‰) + uniq‰`. */
  def qualityScore(nTok: Column, nStop: Column, nUniq: Column): Column =
    least(nTok, lit(100)) * 10 + (lit(1000) - permille(nStop, nTok)) +
      permille(nUniq, nTok)

  /** The q77 unigram-LM surprisal of one term in micro-nats,
    * `floor(ln(t / cnt)·10⁶)` for corpus token total `t` and the term's
    * corpus count `cnt`. */
  def surprisal(t: Column, cnt: Column): Column =
    floor(log((t * lit(1.0)) / cnt) * lit(1000000.0)).cast("long")

  /** Knuth's multiplicative hash of an integer key, before the
    * caller's modulus: `(x mod 2³¹) · K` with K the prime near 2³²/φ.
    * Reducing mod 2³¹ BEFORE the multiply keeps the product below 2⁶³
    * for any 64-bit key, so ANSI mode never overflows; keys differing
    * by exactly 2³¹ share a hash. Callers take `% lit(4294967296L)`
    * (a uniform 32-bit value) or a small modulus. DuckDB twin:
    * `((x % 2147483648) * K) % m`, K written out. */
  def knuthHash(x: Column): Column = (x % lit(2147483648L)) * lit(2654435761L)

  /** Word 3-gram shingles over a token array (guarded: <3 tokens → []).
    * DuckDB twin: list_transform(generate_series(1, len(tk)-2), i ->
    * tk[i]||' '||tk[i+1]||' '||tk[i+2]). */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** Integer-quantized embedding: floor(x*1000) per float element, in
    * exact int64 — downstream dot products / norms are integer-exact and
    * reduce-order-free on both engines. */
  def quantize1000(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * 1000).cast("long"))

  /** Integer dot product of two quantized vectors — native codegen'd
    * [[graft.functions.DotQ]] expression (the HOF formulation
    * `aggregate(zip_with(..))` is interpreted and ~10× slower on the
    * pairwise-similarity hot path). */
  def dotQ(a: Column, b: Column): Column = VectorExprs.dot_q(a, b)

  /** Integer squared L2 norm of a quantized vector. */
  def norm2Q(a: Column): Column = VectorExprs.dot_q(a, a)
}
