package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering key — the key behind multi-dimensional
  * data skipping: rows range-partitioned and sorted by the
  * interleaved-bit key land so that ANY rectangular predicate on the two
  * source columns touches a contiguous-ish band of files, and per-file
  * min/max stats prune the rest. At 100 TB this is how a
  * `(part, supplier)` range query avoids reading the whole fact table
  * when the layout can only be sorted once.
  *
  * The key is pure integer bit-math (mask → spread → interleave), so it
  * is engine-portable: the DuckDB oracle replays the identical
  * shift/mask cascade and the keys hash-compare bit-exactly.
  */
object ZOrder {

  /** Spread the low 16 bits of `c` to the even bit positions of a 32-bit
    * lane (classic Morton magic-mask cascade), as a non-negative LONG. */
  def spread16(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(65535L))
    val x1 = (x0.bitwiseOR(shiftleft(x0, 8))).bitwiseAND(lit(16711935L)) // 0x00FF00FF
    val x2 = (x1.bitwiseOR(shiftleft(x1, 4))).bitwiseAND(lit(252645135L)) // 0x0F0F0F0F
    val x3 = (x2.bitwiseOR(shiftleft(x2, 2))).bitwiseAND(lit(858993459L)) // 0x33333333
    (x3.bitwiseOR(shiftleft(x3, 1))).bitwiseAND(lit(1431655765L)) // 0x55555555
  }

  /** 32-bit Morton key interleaving the low 16 bits of `a` (even bits)
    * and `b` (odd bits). */
  def zkey2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** The same spread cascade as DuckDB SQL (BIGINT in, BIGINT out). */
  def spread16Sql(e: String): String = {
    val x0 = s"(CAST($e AS BIGINT) & 65535)"
    val x1 = s"(($x0 | ($x0 << 8)) & 16711935)"
    val x2 = s"(($x1 | ($x1 << 4)) & 252645135)"
    val x3 = s"(($x2 | ($x2 << 2)) & 858993459)"
    s"(($x3 | ($x3 << 1)) & 1431655765)"
  }

  /** DuckDB replay of [[zkey2]]. */
  def zkey2Sql(a: String, b: String): String =
    s"(${spread16Sql(a)} | (${spread16Sql(b)} << 1))"
}
