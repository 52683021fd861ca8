package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Order-preserving sort keys for the reference's comparator types
  * (db/marshal/Types.java:14-52). Each comparator maps column-name bytes to
  * a Spark-orderable value such that ascending Spark ordering of
  * `sortKey(col)` equals the reference comparator's order — including the
  * reversed FreshTimestampType and the empty-bytes edge cases
  * (db/marshal/AbstractType.java:50-70).
  *
  * Spark's BinaryType comparison is unsigned lexicographic, which is exactly
  * FBUtilities.compareByteArrays — so Bytes/Ascii/Utf8 need no transform.
  */
object Comparators {

  /** Scan-pushable raw-byte predicate equivalent to (or implied by) the
    * comparator range [lo, hi]. The sort key for decoded comparators
    * (e.g. LongType's `graft_be_long(col_name)`) is opaque to parquet
    * filter pushdown, so slices over such CFs would scan every page of a
    * row group; this hint restores page/row-group pruning.
    *
    * LongType: signed-numeric order equals unsigned big-endian byte order
    * exactly while the sign bit is clear — so when BOTH bounds are present
    * and non-negative, the raw BETWEEN is EXACTLY the numeric range
    * (negatives sort above all positives in byte order and below `lo`
    * numerically, hence excluded by both). Any other case: no safe hint.
    */
  def pushdownRange(cmp: ComparatorType.Value, nameCol: Column,
      lo: Array[Byte], hi: Array[Byte]): Option[Column] = cmp match {
    case ComparatorType.Long_
        if lo.length == 8 && hi.length == 8 && lo(0) >= 0 && hi(0) >= 0 =>
      Some(nameCol >= lit(lo) && nameCol <= lit(hi))
    case _ => None
  }

  /** True iff `cmp` orders names by their raw bytes (sort key = the name). */
  def rawOrder(cmp: ComparatorType.Value): Boolean =
    cmp == ComparatorType.Bytes || cmp == ComparatorType.Ascii || cmp == ComparatorType.Utf8

  /** Sort key Column for `col` (binary column-name bytes) under `cmp`.
    * The empty byte-array (slice sentinel / degenerate name) sorts FIRST for
    * every comparator (reference AbstractType compare: length-0 first), which
    * for Long/TimeUuid decodes we realize by mapping empty → null
    * (Spark sorts nulls first in ascending order).
    */
  def sortKey(cmp: ComparatorType.Value, col: Column): Column = cmp match {
    case _ if rawOrder(cmp) => col
    case ComparatorType.Long_ =>
      when(length(col) === 0, lit(null)).otherwise(beLong(col))
    case ComparatorType.TimeUuid =>
      // timestamp first, then raw bytes as the tie-break
      // (db/marshal/TimeUUIDType.java:28-93)
      when(length(col) === 0, lit(null))
        .otherwise(struct(timeUuidTs(col).as("t"), col.as("b")))
    case ComparatorType.LexicalUuid =>
      // UUID.compareTo: signed msb then signed lsb (db/marshal/LexicalUUIDType.java)
      when(length(col) === 0, lit(null))
        .otherwise(struct(
          beLong(substring(col, 1, 8)).as("msb"),
          beLong(substring(col, 9, 8)).as("lsb")))
    case ComparatorType.FreshTimestamp =>
      // descending byte order, empty first (fork FreshTimestampType)
      binaryNot(col)
    case ComparatorType.Collating =>
      collationKey(col.cast("string"))
  }
}
