package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Iceberg-style hidden-partitioning transforms (Iceberg spec §Partition
  * Transforms; Delta generated-column partitioning is the same idea): the
  * table is laid out by a FUNCTION of a source column, queries keep
  * filtering on the raw column, and the planner applies the same function
  * to the query literal to prune files on metadata alone.
  *
  * Supported specs, accepted anywhere `partitionBy` takes a string:
  *
  *   - `"c"`                 identity (existing behavior)
  *   - `"days(c)"`           day granularity (`yyyy-MM-dd` of a date/ts)
  *   - `"months(c)"`         month granularity (`yyyy-MM`)
  *   - `"bucket(N, c)"`      N-way hash bucket (CRC-32 of the value's
  *                           UTF-8 string form mod N — Spark's codegen'd
  *                           `crc32` at write time, `java.util.zip.CRC32`
  *                           as the bit-exact plan-time mirror)
  *   - `"truncate(W, c)"`    leading-W-chars prefix
  *
  * Two requirements make driver-side pruning sound, and both are encoded
  * here rather than trusted to callers:
  *
  *   1. The WRITE-side [[Column]] and the PLAN-side [[applyLiteral]] must
  *      be the same pure function of the value's canonical string form
  *      (`yyyy-MM-dd` dates, `yyyy-MM-dd HH:mm:ss…` timestamps), so a
  *      string prefix IS the day/month transform and prefix-taking IS
  *      truncate.
  *   2. Range pruning is valid only for transforms that preserve the
  *      source ordering on those canonical strings ([[orderPreserving]]) —
  *      day/month/truncate prefixes do, buckets do not (a bucketed layout
  *      simply declines range pruning and scans with the row filter).
  *
  * At 100 TB the point of all of this is that pruning consults ONLY the
  * manifest's per-file partition values — never the data, never a
  * directory listing — so `days(event_ts)` over years of logs plans a
  * one-day query from a few manifest entries regardless of table size.
  */
private[graft] object PartitionTransform {

  /** A parsed partition spec: `tag == null` means identity. Non-identity
    * tags are self-contained strings (`"days"`, `"months"`, `"bucket16"`,
    * `"trunc4"`) so a [[SnapshotTable.FileEntry]] can carry its layout's
    * transform through the manifest and later commits can re-apply it. */
  final case class Spec(col: String, tag: String)

  private val Fn1 = """\s*(days|months)\s*\(\s*([^)\s]+)\s*\)\s*""".r
  private val Fn2 = """\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*([^)\s]+)\s*\)\s*""".r

  def parse(spec: String): Spec = spec match {
    case Fn1("days", c)        => Spec(c, "days")
    case Fn1("months", c)      => Spec(c, "months")
    case Fn2("bucket", n, c)   => Spec(c, s"bucket${n.toInt}")
    case Fn2("truncate", w, c) => Spec(c, s"trunc${w.toInt}")
    case c                     => Spec(c.trim, null)
  }

  private val Bucket = """bucket(\d+)""".r
  private val Trunc = """trunc(\d+)""".r

  /** The spec string `parse` would read back — how a layout recorded in
    * manifest entries (`partCol` / `xformCol` + `xformTag`) is turned
    * back into the `partitionBy` argument a rewrite commit needs to
    * PRESERVE that layout (compaction must never flatten a partitioned
    * table to unpartitioned: partition pruning and O(partition)
    * overwrites die with the layout). */
  def unparse(spec: Spec): String = spec.tag match {
    case null      => spec.col
    case "days"    => s"days(${spec.col})"
    case "months"  => s"months(${spec.col})"
    case Bucket(n) => s"bucket($n, ${spec.col})"
    case Trunc(w)  => s"truncate($w, ${spec.col})"
    case t         => throw new IllegalArgumentException(s"unknown transform $t")
  }

  /** The write-side partition value as a Column (always a string). */
  def writeColumn(spec: Spec): Column = {
    val c = col(spec.col)
    spec.tag match {
      case null       => c.cast("string")
      case "days"     => date_format(c, "yyyy-MM-dd")
      case "months"   => date_format(c, "yyyy-MM")
      case Bucket(n)  =>
        pmod(crc32(c.cast("string").cast("binary")), lit(n.toLong)).cast("string")
      case Trunc(w)   => substring(c.cast("string"), 1, w.toInt)
      case t          => throw new IllegalArgumentException(s"unknown transform $t")
    }
  }

  /** The plan-side transform of a query literal's canonical string form —
    * must agree with [[writeColumn]] character-for-character. */
  def applyLiteral(tag: String, v: String): String = tag match {
    case null      => v
    case "days"    => v.take(10)
    case "months"  => v.take(7)
    case Bucket(n) => (crc32Of(v) % n.toLong).toString
    // `substring` counts characters, so a code point outside the BMP
    // (a surrogate pair in the JVM string) is one of the W
    case Trunc(w)  =>
      if (v.codePointCount(0, v.length) <= w.toInt) v
      else v.substring(0, v.offsetByCodePoints(0, w.toInt))
    case t         => throw new IllegalArgumentException(s"unknown transform $t")
  }

  /** Bit-exact JVM mirror of Spark's `crc32(cast(v as binary))`. */
  private def crc32Of(v: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue
  }

  /** Whether `applyLiteral(tag, _)` preserves lexical order of canonical
    * value strings (prefix transforms do) — the precondition for range
    * pruning on the transformed partition values. */
  def orderPreserving(tag: String): Boolean = tag match {
    case null | "days" | "months" | Trunc(_) => true
    case _                                   => false
  }
}
