package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Engine-portable deterministic hashes.
  *
  * The correctness gate hash-compares every query against an independent
  * SQL engine, so any hash that feeds *values* into a result must be
  * computable identically there. md5-hex is the portable primitive: both
  * Spark and ANSI-ish engines expose it, and a hex prefix cast to BIGINT
  * is exact as long as it stays under 63 bits.
  *
  * `xxhash64` stays the right choice for engine-internal keys (salting,
  * shuffle keys) — it is ~10× cheaper — but never for oracle-visible
  * values.
  */
object PortableHash {

  /** 60-bit hash: first 15 hex chars of md5, base-16 parsed. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** 32-bit hash: first 8 hex chars of md5. Small enough that bucket
    * arithmetic (the hashing trick) stays in cheap BIGINT ops everywhere. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)
}
