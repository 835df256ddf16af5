package graft.dedup

import graft.core.Caches
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate fingerprints: each token (with multiplicity)
  * votes ±1 on `bits` bit positions; the fingerprint packs the positive
  * vote sums. Documents within small Hamming distance are near-dups.
  *
  * Bit extraction uses floor(g / 2^j) mod 2 rather than shifts: exact in
  * IEEE doubles for g < 2^53 and expressible identically in the SQL
  * oracle (Spark's `shiftright` needs a literal shift; this form keeps
  * j a column inside one higher-order expression).
  *
  * Scale: the fingerprint is one codegen'd map stage (no shuffle). Pair
  * generation at 100 TB goes through [[bandCandidates]] — bucket by each
  * of `bits/8`-bit chunks so any pair within Hamming ≤ chunks−1 of a
  * chunk-identical region collides — while [[hammingPairs]] is the
  * all-pairs correctness baseline.
  */
object SimHash {

  val P: Long = TextOps.P
  val DefaultBits = 24

  /** Post-mix of the token hash — decorrelates bits from the raw
    * polynomial hash. (1103515245·h + 12345) mod P < 2^30, and the
    * product stays < 2^63.
    */
  private def mix(h: Column): Column =
    (lit(1103515245L) * h + lit(12345L)) % lit(P)

  /** The packed SimHash fingerprint of a text column.
    *
    * SINGLE-PASS: folds the token array once, hashing each token exactly
    * once and updating a `bits`-wide vote accumulator — the naive
    * per-bit form re-hashes every token `bits` times per row (Catalyst
    * inlines the shared hash subtree into each lambda), a measured 24×
    * slowdown at sf0.1. Same values: integer vote sums commute.
    *
    * Bit extraction is a bitwise AND against a LITERAL power-of-two
    * array (r16): the previous `floor(g / pow(2.0, j))` form paid a
    * transcendental Math.pow per (token, bit) — bits·|tokens| pow
    * calls per row dominated the honest bench (3.6 s isolated). For
    * g ≥ 0 < 2⁵³ both forms extract the identical bit, so the
    * fingerprints are bitwise unchanged.
    */
  def simhash(text: Column, bits: Int = DefaultBits): Column = {
    val powers = typedlit((0 until bits).map(j => 1L << j))
    val hs = transform(TextOps.tokens(text), t => mix(TextOps.strHash(t)))
    val votes = aggregate(hs,
      transform(sequence(lit(0), lit(bits - 1)), _ => lit(0L)),
      (acc, g) => zip_with(acc, sequence(lit(0L), lit(bits - 1L)),
        (v, j) => v + when(
          g.bitwiseAND(element_at(powers, (j + 1).cast("int"))) =!= 0,
          lit(2L)).otherwise(lit(0L)) - lit(1L)))
    aggregate(
      zip_with(votes, sequence(lit(0L), lit(bits - 1L)),
        (v, j) => when(v > 0, element_at(powers, (j + 1).cast("int")))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** (id, simhash) per document. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   bits: Int = DefaultBits): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      simhash(col(textCol), bits).as("simhash"))

  /** All pairs (a < b) with Hamming distance ≤ maxDist — correctness
    * baseline (O(n²) xor+popcount on packed longs).
    */
  def hammingPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int, bits: Int = DefaultBits): DataFrame = {
    // persisted: a self-join would otherwise recompute every fingerprint
    // on both sides (fingerprints are tiny — two longs per doc)
    val fp = Caches.keep("simhash.hammingPairs", fingerprints(df, idCol, textCol, bits))
    val out = fp.as("x").join(fp.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .where(col("hamming") <= maxDist)
    out
  }

  /** Scale path: bucket by 8-bit chunks of the fingerprint; two docs
    * agreeing on any chunk collide. With c chunks this catches all pairs
    * with Hamming < c by pigeonhole; verify survivors with
    * [[hammingPairs]]-style popcount inside buckets.
    */
  def bandCandidates(df: DataFrame, idCol: String, textCol: String,
                     bits: Int = DefaultBits): DataFrame = {
    val chunks = bits / 8
    val fp = Caches.keep("simhash.bandCandidates", fingerprints(df, idCol, textCol, bits))
    val banded = fp.select(col("id"), col("simhash"), posexplode(
      transform(sequence(lit(0), lit(chunks - 1)),
        c => (floor(col("simhash").cast("double") /
          pow(lit(2.0), c.cast("double") * 8)).cast("long") % 256))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk_val")
    val out = banded.as("x").join(banded.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
        col("x.chunk_val") === col("y.chunk_val") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
    out
  }

  /** Near-dup pairs with Hamming ≤ maxDist, choosing the cheapest EXACT
    * strategy: when maxDist < bits/8, any qualifying pair has at least
    * one intact 8-bit chunk (pigeonhole), so the banded bucket join
    * finds every such pair — same answer as the all-pairs scan at a
    * fraction of the pair work. Falls back to the quadratic scan
    * otherwise. This is the 100 TB default.
    */
  def nearPairs(df: DataFrame, idCol: String, textCol: String,
                maxDist: Int, bits: Int = DefaultBits): DataFrame = {
    val chunks = bits / 8
    if (maxDist < chunks)
      bandCandidates(df, idCol, textCol, bits)
        .where(col("hamming") <= maxDist)
        .select("a", "b", "hamming")
    else
      hammingPairs(df, idCol, textCol, maxDist, bits)
  }

  /** DuckDB oracle twins. */
  object Sql {
    def simhash(x: String, bits: Int = DefaultBits): String = {
      val hs = s"list_transform(${TextOps.Sql.toks(x)}, t -> (1103515245 * ${TextOps.Sql.strHash("t")} + 12345) % $P)"
      val bit = "(CAST(floor(CAST(g AS DOUBLE) / power(2.0, CAST(j AS DOUBLE))) AS BIGINT) % 2)"
      val votes = s"list_reduce(list_prepend(0::BIGINT, list_transform($hs, g -> $bit * 2 - 1)), (a, b) -> a + b)"
      s"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(0, ${bits - 1}), j -> CASE WHEN $votes > 0 THEN CAST(power(2.0, CAST(j AS DOUBLE)) AS BIGINT) ELSE 0 END)), (a, b) -> a + b)"
    }
  }
}
