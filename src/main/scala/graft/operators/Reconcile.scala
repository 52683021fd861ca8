package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge & reconciliation operators (SURVEY §2.3) — the heart of the engine.
  *
  * The reference merges N versions of each column (memtables + SSTables +
  * replicas) with a deterministic, order-insensitive priority rule
  * (db/Column.java:196-210 `comparePriority`):
  *   1. the tombstone wins timestamp ties;
  *   2. otherwise the higher timestamp wins;
  *   3. equal-timestamp live columns tie-break on unsigned value bytes
  *      (FBUtilities.compareByteArrays — greater value wins).
  *
  * Spark realization: `max(struct(ts, tombstone::int, value))` — struct
  * comparison evaluates the fields in order, and Spark's BinaryType
  * comparison is unsigned lexicographic, so the struct maximum IS
  * comparePriority. A single hash aggregation with map-side partial
  * aggregation; no custom code in the hot path, full whole-stage codegen.
  *
  * Container tombstones (row-level / supercolumn-level deletes,
  * db/ColumnFamilyStore.java:663-717 `removeDeleted*`) shadow any column
  * whose timestamp is <= the container's markedForDeleteAt. They are carried
  * as marker cells (`col_name IS NULL`) and applied by joining each cell
  * against the per-key (and per-supercolumn) maximum deletion timestamp.
  */
object Reconcile {

  /** One winning version per (key, super_name, col_name), tombstones
    * included (the caller decides whether to GC or surface them).
    * Marker cells (col_name NULL) pass through reduced the same way.
    *
    * Exactly one shuffle; partial aggregation runs map-side, so at 100 TB
    * the shuffled volume is one cell per distinct column per map partition,
    * not one per version. The aggregate is the native ReconcileMax
    * TypedImperativeAggregate (graft.functions.ReconcileMax): declarative
    * struct-max/max_by formulations fall back to SortAggregate (a
    * per-partition sort of the whole scan), while this plans as
    * ObjectHashAggregate — hash-based, no sort — the plan that survives a
    * 100× scale-up.
    */
  def latestCells(cells: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(cells.sparkSession)
    cells
      .groupBy(col("key"), col("super_name"), col("col_name"))
      .agg(call_function("graft_reconcile",
        col("value"), col("ts"), col("tombstone"), col("local_del_time")).as("w"))
      .select(
        col("key"),
        col("super_name"),
        col("col_name"),
        col("w.value").as("value"),
        col("w.ts").as("ts"),
        col("w.tombstone").as("tombstone"),
        col("w.local_del_time").as("local_del_time"))
  }

  /** Row-level deletion horizon per key: (key, row_del_ts, row_del_ldt).
    * Marker = col_name NULL and super_name NULL
    * (ColumnFamily.markedForDeleteAt, db/ColumnFamily.java:233-252).
    */
  def rowTombstones(cells: DataFrame): DataFrame =
    cells
      .filter(col("col_name").isNull && col("super_name").isNull && col("tombstone"))
      .groupBy(col("key"))
      .agg(max(struct(col("ts"), col("local_del_time"))).as("w"))
      .select(col("key"), col("w.ts").as("row_del_ts"), col("w.local_del_time").as("row_del_ldt"))

  /** Supercolumn-level deletion horizon per (key, super_name)
    * (SuperColumn.markedForDeleteAt, db/SuperColumn.java:84-92).
    */
  def superTombstones(cells: DataFrame): DataFrame =
    cells
      .filter(col("col_name").isNull && col("super_name").isNotNull && col("tombstone"))
      .groupBy(col("key"), col("super_name"))
      .agg(max(struct(col("ts"), col("local_del_time"))).as("w"))
      .select(
        col("key"), col("super_name"),
        col("w.ts").as("sc_del_ts"), col("w.local_del_time").as("sc_del_ldt"))

  /** Drop cells shadowed by their containing row / supercolumn tombstone:
    * keep a column iff ts > max(row_del_ts, sc_del_ts)
    * (db/ColumnFamilyStore.java:663-717: `column.timestamp() <=
    * cf.getMarkedForDeleteAt()` ⇒ removed; subcolumns additionally against
    * the supercolumn's markedForDeleteAt).
    *
    * The tombstone-marker sets are tiny relative to the data (they are
    * deletes, not data); Spark/AQE broadcasts them when small, otherwise
    * this is a shuffle join on the same `key` the caller already groups by.
    */
  def shadowByContainers(cells: DataFrame): DataFrame =
    shadowByContainersGiven(cells, rowTombstones(cells), superTombstones(cells))

  /** Shadowing against PRECOMPUTED horizons — the sidecar path: compaction
    * persists the (tiny) horizon tables next to the runs, so reads join
    * against them instead of re-aggregating marker cells out of the full
    * store (CellStore.writeWithHorizons).
    */
  def shadowByContainersGiven(cells: DataFrame, rowDel: DataFrame, scDel: DataFrame): DataFrame = {
    cells
      .filter(col("col_name").isNotNull)
      .join(rowDel, Seq("key"), "left")
      // null super_name never equi-joins ⇒ standard cells skip SC horizon — correct
      .join(scDel, Seq("key", "super_name"), "left")
      .filter(
        col("ts") > coalesce(
          greatest(col("row_del_ts"), col("sc_del_ts")),
          lit(Long.MinValue)))
      .drop("row_del_ts", "row_del_ldt", "sc_del_ts", "sc_del_ldt")
  }

  /** The user-visible reconciled LIVE view: LWW per column, container
    * shadowing applied, tombstones consumed. This is the dataframe every
    * read operator (get / get_slice / get_count / get_range_slices) runs on.
    */
  def liveView(cells: DataFrame): DataFrame =
    // horizons from the RAW cells, not the reconciled stream: max(ts, ldt)
    // is associative so the horizons are identical (this is exactly what
    // the persisted sidecar computes), and it keeps the two horizon
    // branches to a marker filter + max agg — without this they each ran
    // the full ReconcileMax, dragging `value` (the widest column) into
    // their scans; now column pruning drops it from both
    shadowByContainersGiven(latestCells(cells),
      rowTombstones(cells), superTombstones(cells)).filter(!col("tombstone"))

  /** Live view with precomputed horizons (sidecar read path). */
  def liveViewGiven(cells: DataFrame, rowDel: DataFrame, scDel: DataFrame): DataFrame =
    shadowByContainersGiven(latestCells(cells), rowDel, scDel).filter(!col("tombstone"))

  /** [[liveView]] for a KEY-BOUNDED cell set — point reads, multigets,
    * materialized range pages — in ONE keyed pass, the analog of the
    * reference's single collated merge (CollatingIterator +
    * ColumnFamily.resolve): the restriction is scanned once and
    * repartitioned by `key` once; one aggregate per (key, super_name,
    * col_name) yields both the LWW winner and `tmax`, the column's best
    * tombstone ts. Marker groups (col_name NULL) reduce alongside, so
    * their `tmax` IS the container horizon: [[shadowKeyed]] spreads it
    * over `key` (row) and (key, super_name) (supercolumn) as windows.
    * HashPartitioning(key) satisfies the aggregate, both windows and the
    * caller's per-key slice window, so the whole read runs behind that
    * one exchange — no horizon branches, no broadcast joins. Horizons
    * come from `tmax`, not the marker's winner, so they equal the
    * raw-cell [[rowTombstones]]/[[superTombstones]] horizons.
    * KEY-BOUNDED ONLY: the full-CF [[liveView]] keeps map-side partial
    * aggregation ahead of its exchange — shuffling raw versions of a
    * 100 TB CF would forfeit that compression — while a keyed read's
    * row volume is bounded by the 10k-key page convention, so its raw
    * keyed shuffle is small by construction at any corpus size.
    */
  def liveViewKeyed(cells: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(cells.sparkSession)
    val perColumn = cells.repartition(col("key"))
      .groupBy(col("key"), col("super_name"), col("col_name"))
      .agg(
        call_function("graft_reconcile",
          col("value"), col("ts"), col("tombstone"), col("local_del_time")).as("w"),
        tombstoneMax)
    shadowKeyed(perColumn, when(!col("w.tombstone"), col("w.ts")))
      .select(
        col("key"),
        col("super_name"),
        col("col_name"),
        col("w.value").as("value"),
        col("w.ts").as("ts"),
        col("w.tombstone").as("tombstone"),
        col("w.local_del_time").as("local_del_time"))
  }

  /** The live (key, super_name, col_name) set of a KEY-BOUNDED cell set,
    * value-free: [[liveViewKeyed]]'s shape with the winner replaced by two
    * scalar maxima. Tombstone wins timestamp ties, so a column is live iff
    * its best live ts strictly beats its best tombstone ts and both
    * container horizons — whether the winner is live never depends on
    * the value, so the value column stays pruned out of the scan.
    */
  def liveColumnsKeyed(cells: DataFrame): DataFrame = {
    val perColumn = cells
      .select(col("key"), col("super_name"), col("col_name"), col("ts"), col("tombstone"))
      .repartition(col("key"))
      .groupBy(col("key"), col("super_name"), col("col_name"))
      .agg(max(when(!col("tombstone"), col("ts"))).as("lmax"), tombstoneMax)
    shadowKeyed(perColumn,
      when(col("lmax") > coalesce(col("tmax"), lit(Long.MinValue)), col("lmax")))
      .select(col("key"), col("super_name"), col("col_name"))
  }

  private def tombstoneMax = max(when(col("tombstone"), col("ts"))).as("tmax")

  /** Container shadowing for a key-clustered per-column frame carrying
    * `tmax`: the row horizon is the max `tmax` of the key's row marker,
    * the supercolumn horizon that of its (key, super_name) marker — both
    * windows partitioned on a superset of `key`, so they need no
    * exchange of their own. Keeps the non-marker columns whose `liveTs`
    * (null for a dead column) strictly beats both horizons, exactly the
    * [[shadowByContainersGiven]] filter.
    */
  private def shadowKeyed(perColumn: DataFrame, liveTs: Column): DataFrame = {
    val marker = col("col_name").isNull
    def horizon(markerKind: Column, keys: String*) =
      max(when(marker && markerKind, col("tmax")))
        .over(Window.partitionBy(keys.map(col): _*))
    perColumn
      .withColumn("sc_del_ts", horizon(col("super_name").isNotNull, "key", "super_name"))
      .withColumn("row_del_ts", horizon(col("super_name").isNull, "key"))
      .filter(!marker && liveTs > coalesce(
        greatest(col("row_del_ts"), col("sc_del_ts")), lit(Long.MinValue)))
  }

  /** Compaction output view (SURVEY §2.7): winning versions with tombstones
    * RETAINED unless expired — a tombstone (column-level or marker) is
    * purged only when local_del_time < gcBefore (db/CompactionManager.java:
    * 636-643; gcBefore = now - gcGraceSeconds). Shadowed live cells are
    * dropped outright (they lost to a container delete).
    */
  def compacted(cells: DataFrame, gcBeforeSeconds: Int): DataFrame = {
    val latest = latestCells(cells)
    // raw-derived horizons for the same reason as liveView: the marker
    // branches stay value-free (column-pruned scans)
    val live = shadowByContainersGiven(latest,
      rowTombstones(cells), superTombstones(cells))
    val keptColumns = live.filter(
      !col("tombstone") || col("local_del_time") >= gcBeforeSeconds)
    // container markers survive GC the same way (ColumnFamilyStore.removeDeleted)
    val keptMarkers = latest.filter(
      col("col_name").isNull && col("local_del_time") >= gcBeforeSeconds)
    keptColumns.unionByName(keptMarkers)
  }
}
