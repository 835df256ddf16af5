package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compression-ratio quality signal: deflate(text).length / length —
  * the classic "too compressible = boilerplate/template/repetition"
  * corpus filter (used by Gopher/Dolma-style quality stacks alongside
  * the repetition ratios in [[TextOps]]). zlib lives in the JDK
  * (`java.util.zip.Deflater`), so the signal is dependency-free and
  * deterministic for a fixed level within a JVM — but its exact byte
  * counts are NOT engine-mirrorable (DuckDB has no zlib surface), so
  * the registered query follows the self-verifying-audit pattern: the
  * oracle pins structural invariants that only hold if the
  * compression measurement is real, per-doc ratios stay available to
  * library users via [[withCompressionRatio]].
  *
  * Scale shape: per-row map work inside one projection — no shuffle,
  * no state; the UDF allocates one Deflater per call (bounded, short
  * inputs; a production variant would pool per-partition via
  * mapPartitions, which [[graft.multimodal.Binary.decodeBatches]]
  * already demonstrates).
  */
object Compress {

  /** Deflated byte count of a string (level 6, zlib-wrapped). */
  def deflatedLen(t: String): Int =
    graft.sources.Inflate.deflate(t.getBytes("UTF-8"), raw = false).length

  def deflatedLenCol(c: Column): Column = udf { t: String => deflatedLen(t) }.apply(c)

  /** Appends `c_len` (deflated bytes) and `ratio_e6` (deflated/raw,
    * scaled 1e6 integer) for `textCol`. */
  def withCompressionRatio(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("c_len", deflatedLenCol(col(textCol)).cast("long"))
      .withColumn("ratio_e6", // integer-exact scaled ratio
        expr(s"c_len * 1000000L div length($textCol)"))
}
