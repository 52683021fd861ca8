package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{CfMeta, Comparators, ComparatorType}

/** SlicePredicate — the per-row projection/predicate layer (SURVEY §2.2).
  * Matches interface/cassandra.thrift:188-229: either an explicit name list
  * or a (start, finish, reversed, count) range; empty start/finish bytes
  * mean unbounded (db/filter/SSTableSliceIterator.java:70-80 sentinels).
  */
sealed trait SlicePredicate
case class SliceRange(
    start: Array[Byte] = Array.emptyByteArray,
    finish: Array[Byte] = Array.emptyByteArray,
    reversed: Boolean = false,
    count: Int = 100)
  extends SlicePredicate
case class SliceByNames(names: Seq[Array[Byte]]) extends SlicePredicate

object Slice {

  /** Apply a slice predicate over a reconciled LIVE view.
    *
    * `nameCol` is the sliced dimension: `col_name` for standard CFs and for
    * sub-slices inside one supercolumn; `super_name` when slicing the
    * top-level entities of a super CF (thrift get_slice with a
    * ColumnParent naming only the CF — SliceQueryFilter.filterSuperColumn,
    * db/filter/SliceQueryFilter.java:66-96).
    *
    * `count` counts live top-level entities per key — dense_rank (not
    * row_number) so a supercolumn with many subcells counts once
    * (SliceQueryFilter.collectReducedColumns live-count semantics,
    * db/filter/SliceQueryFilter.java:104-147; tombstones were already
    * consumed by reconciliation, SURVEY §2.6).
    */
  def apply(
      live: DataFrame,
      cmp: ComparatorType.Value,
      nameCol: String,
      pred: SlicePredicate,
      perKey: Seq[String] = Seq("key")): DataFrame = {
    val named = nameFilters(cmp, nameCol, pred).foldLeft(live)(_.filter(_))
    pred match {
      case SliceRange(_, _, reversed, count) if count != Int.MaxValue =>
        val sk = Comparators.sortKey(cmp, col(nameCol))
        val order = if (reversed) sk.desc_nulls_last else sk.asc_nulls_first
        val w = Window.partitionBy(perKey.map(col): _*).orderBy(order)
        named
          .withColumn("_rank", dense_rank().over(w))
          .filter(col("_rank") <= count)
          .drop("_rank")
      case _ => named // names, or an unlimited slice: no rank
    }
  }

  /** The per-name conjuncts of a slice predicate, ahead of its count rank:
    * the name list (NamesQueryFilter, db/filter/NamesQueryFilter.java:31-91)
    * or the start/finish bounds in comparator order.
    */
  def nameFilters(cmp: ComparatorType.Value, nameCol: String, pred: SlicePredicate): Seq[Column] =
    pred match {
      case SliceByNames(names) => Seq(col(nameCol).isin(names.map(lit(_)): _*))
      case r: SliceRange =>
        val (lo, hi) = bounds(r)
        val sk = Comparators.sortKey(cmp, col(nameCol))
        val skLit = (b: Array[Byte]) => Comparators.sortKey(cmp, lit(b))
        (Option.when(lo.nonEmpty)(sk >= skLit(lo)) ++
          Option.when(hi.nonEmpty)(sk <= skLit(hi)) ++
          // a redundant raw-byte range that parquet CAN push (page pruning
          // on the decoded-comparator sort key's source column)
          Comparators.pushdownRange(cmp, col(nameCol), lo, hi)).toSeq
    }

  /** The [[nameFilters]] conjuncts a parquet scan can evaluate: the name
    * list and raw-byte ranges. They depend on the column's name alone, so a
    * keyed read also applies them to the raw cells before reconciling.
    */
  def scanFilters(cmp: ComparatorType.Value, nameCol: String, pred: SlicePredicate): Seq[Column] =
    pred match {
      case r: SliceRange if !Comparators.rawOrder(cmp) =>
        val (lo, hi) = bounds(r)
        Comparators.pushdownRange(cmp, col(nameCol), lo, hi).toSeq
      case _ => nameFilters(cmp, nameCol, pred)
    }

  // In a reversed slice `start` is the upper bound (thrift:202-213).
  private def bounds(r: SliceRange): (Array[Byte], Array[Byte]) =
    if (r.reversed) (r.finish, r.start) else (r.start, r.finish)

  /** Read-amplification guard (fork ReadColumnsLimit,
    * db/filter/SliceQueryFilter.java:113-146 + DatabaseDescriptor:2114-2120):
    * hard-error when any row's live column count exceeds `limit` — surfaces
    * pathological wide rows instead of silently burning executor memory.
    */
  def withReadGuard(live: DataFrame, limit: Int, perKey: Seq[String] = Seq("key")): DataFrame = {
    val w = Window.partitionBy(perKey.map(col): _*)
    live
      .withColumn("_cnt", org.apache.spark.sql.functions.count(lit(1)).over(w))
      .filter(
        when(col("_cnt") > limit,
          raise_error(concat(lit("ReadColumnsLimit exceeded for key "), col("key"))))
          .otherwise(lit(true)).cast("boolean"))
      .drop("_cnt")
  }

  /** Live top-level-entity count per key — get_count (thrift:342-346,
    * CassandraServer.java:321-333 implements it literally as slice + size;
    * here it is a codegen'd count(distinct) aggregate instead).
    */
  def count(live: DataFrame, isSuper: Boolean, perKey: Seq[String] = Seq("key")): DataFrame = {
    val entity = if (isSuper) col("super_name") else col("col_name")
    live.groupBy(perKey.map(col): _*).agg(count_distinct(entity).as("n"))
  }
}
