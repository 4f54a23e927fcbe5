package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing.
  *
  * Built from md5-of-UTF8 so the same value hashes identically in Spark
  * and in the DuckDB oracle (`CAST('0x' || substring(md5(x),1,15) AS
  * BIGINT)`). 15 hex chars = 60 bits, so the value always fits a signed
  * 64-bit integer in both engines — never negative, no overflow
  * ambiguity. All of this is built-in Catalyst expressions (md5 / conv /
  * substring), fully codegen'd: no UDF in the hot path.
  */
object PortableHash {

  /** 60-bit non-negative hash of a string column. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Seeded variant: prepends "seed:" so k independent hash families can
    * be derived for MinHash ("0:shingle", "1:shingle", ...).
    */
  def hash60Seeded(seed: Column, c: Column): Column =
    hash60(concat(seed.cast("string"), lit(":"), c))

  /** DuckDB SQL fragment equivalent of [[hash60]] for oracle queries. */
  def duckdbHash60(expr: String): String =
    s"CAST(('0x' || substring(md5($expr), 1, 15)) AS BIGINT)"

  /** Prime modulus for the affine hash family. */
  val P: Long = 1000000007L

  /** k-th member of a universal-ish affine hash family over a base
    * 60-bit hash: `((h mod P) * (2k+1) + (12345k + 677)) mod P`.
    * One md5 per value, k cheap integer transforms — this is what makes
    * MinHash O(shingles) in md5 calls instead of O(shingles * perms).
    * All intermediates fit signed 64-bit: (P-1) * (2k+1) < 2^63 for
    * k <= 4e8.
    */
  def affine(h: Column, k: Int): Column =
    ((h % P) * lit(2L * k + 1) + lit(12345L * k + 677L)) % P
}
