package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.CassandraLens
import graft.model.{Cell, CfMeta, PartitionerType}
import graft.operators.SliceRange
import graft.pipeline.Dedup
import graft.sources.CellStore

/** A closed-loop workload with one client. `build` makes the engine's
  * inputs from the seed (timed as set-up, several times per run);
  * `prepare` builds the truth model (not timed); `cycle` issues the next
  * unit of work and is repeated until the run's deadline has passed.
  */
trait Workload {
  def build(dir: String): Unit
  def prepare(): Unit = ()
  def warm(rec: Recorder): Unit
  def cycle(rec: Recorder): Unit
  /** The kind of the unit the next `cycle` issues: a traced run alternates
    * traced and untraced units within each kind.
    */
  def nextKind: String = "cycle"
  /** Cycles a loop runs even past its deadline. A workload whose
    * cycle is close to the loop's length sets it, so that every run holds
    * the same number of cycles whatever the machine's speed: otherwise a
    * run fits one cycle more or less, and the first cycle after warm-up is
    * the slowest.
    */
  def minCycles: Int = 1
  /** Derives the phase's throughput from its samples. */
  def finish(rec: Recorder, loopS: Double): Unit
  /** End-of-run work, once per run, after the last phase. */
  def end(rec: Recorder): Unit = ()
  /** Parquet files of the main store, the base of `files_pruned_ratio`. */
  def storeFiles: Long = 0L
  /** Store and input sizes, recorded beside the metrics. */
  def sizes: Map[String, Any]
  /** Per-layer counts only the workload sees (directory listings, progress). */
  def layerCounts: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "point_read" => new PointRead(spark, seed)
    case "ingest_compact" => new IngestCompact(spark, seed)
    case "dedup_batch" => new DedupBatch(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def sigs(df: DataFrame): Vector[String] =
    df.select("key", "super_name", "col_name", "value").collect().toVector.map(sig)
  def sig(r: Row): String = {
    def b(i: Int) = if (r.isNullAt(i)) null else r.getAs[Array[Byte]](i)
    LiveCell(r.getString(0), b(1), b(2), b(3), 0).sig
  }

  /** None when the response holds exactly the expected cells. */
  def diff(what: String, got: Seq[String], want: Seq[String]): Option[String] = {
    val (g, w) = (got.toSet, want.toSet)
    if (g == w && got.size == want.size) None
    else Some(s"$what: ${got.size} cells returned, ${want.size} expected, " +
      s"${(g -- w).size} unexpected, ${(w -- g).size} missing")
  }

  /** Nearest-rank median of a role's samples, as `op_p50_ms` takes it (the
    * lower of two), None when any failed or none exist.
    */
  def median(rec: Recorder, role: String): Option[Double] =
    rec.samples.get(role).filter(xs => xs.nonEmpty && !xs.exists(_.isInfinite))
      .map { xs => val s = xs.sorted; s((s.size - 1) / 2) }

  def dirBytes(fs: FileSystem, p: Path): Long =
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L

  /** Logical size of a cell: the bytes a client sent for it. */
  def logicalBytes(c: Cell): Long =
    c.key.length + Option(c.super_name).map(_.length).getOrElse(0) +
      Option(c.col_name).map(_.length).getOrElse(0) + c.value.length + 13
  def logicalBytes(c: LiveCell): Long =
    c.key.length + Option(c.superName).map(_.length).getOrElse(0) + c.colName.length +
      c.value.length + 13
}

/** Shared shape of the standard-CF stores: RandomPartitioner, BytesType,
  * `%010d` keys, C0..C4 with 32-byte values, written run by run with
  * `CellStore.write` into `run=<i>` directories.
  */
abstract class RunStore(spark: SparkSession, seed: Long, val keys: Int, val runs: Int,
    overwrite: Double, filesPerRun: Int) extends Workload {
  val meta: CfMeta = CfMeta("Standard1", partitioner = PartitionerType.Random)
  var storeDir: String = _
  var storedCells = 0L

  def history(i: Int): Array[Cell] = Gen.history(seed, runs, overwrite, i).map(_._2)

  /** Writes the runs, and `more` stores beside them. The writes are
    * independent: issue them together, as a bulk loader would, so job
    * latency overlaps instead of adding up.
    */
  def writeRuns(dir: String, more: Seq[() => Unit] = Nil): Unit = {
    import spark.implicits._
    val (s, n, ow) = (seed, runs, overwrite)
    storeDir = s"$dir/store"
    val writes = (0 until runs).map { r => () =>
      val cells = spark.range(0, keys, 1, 4).as[Long].flatMap { i =>
        Gen.history(s, n, ow, i.toInt).iterator.filter(_._1 == r).map(_._2)
      }.toDF()
      CellStore.write(cells, meta, s"$storeDir/run=$r", filesPerRun)
    } ++ more
    writes.map(w => Future(w())(ExecutionContext.global)).foreach(Await.result(_, Duration.Inf))
  }

  def lens(): CassandraLens = new CassandraLens(CellStore.readRuns(spark, storeDir), meta)

  override def storeFiles: Long = {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(storeDir), true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  private val truthCache = mutable.HashMap.empty[Int, Vector[LiveCell]]
  def truth(i: Int): Vector[LiveCell] = truthCache.getOrElseUpdate(i, Truth.liveCells(history(i)))
}

/** stress.py's read path over a 4-run store, Gaussian keys, a request mix
  * of get / get_slice / reversed slice / multiget / get_count / super-CF
  * slice, and 15% of requests through a hot-key row-cache lens.
  */
final class PointRead(spark: SparkSession, seed: Long)
    extends RunStore(spark, seed, keys = 20000, runs = 4, overwrite = 0.25, filesPerRun = 4) {
  val superKeys = 1000
  val superMeta: CfMeta = CfMeta("Super1", isSuper = true, partitioner = PartitionerType.Random)
  val hotKeys: Vector[Int] = {
    val r = Gen.rng(seed, 4)
    Iterator.continually(r.nextInt(keys)).distinct.take(keys / 100).toVector
  }
  private var plain: CassandraLens = _
  private var hot: CassandraLens = _
  private var sup: CassandraLens = _
  private val rng = Gen.rng(seed, 5)
  /** The request mix, 20 requests in a fixed interleaved order so any run
    * length sees it in proportion: get 4, slice 4, hot 3, reversed 3,
    * multiget 2, count 2, super 2. The 15% hot share is given; the other
    * weights are chosen, not derived from a measured trace (stress.py runs
    * each operation in its own loop).
    */
  private val deck = Seq("get", "slice", "hot", "reversed", "multiget", "get", "slice", "count",
    "hot", "super", "get", "slice", "reversed", "multiget", "get", "slice", "hot", "count",
    "reversed", "super")

  def build(dir: String): Unit = {
    import spark.implicits._
    val s = seed
    writeRuns(dir, Seq(() => {
      val superCells = spark.range(0, superKeys, 1, 2).as[Long]
        .flatMap(i => Gen.superHistory(s, i.toInt).iterator).toDF()
      CellStore.write(superCells, superMeta, s"$dir/super", 2)
    }))
    plain = lens()
    sup = new CassandraLens(CellStore.read(spark, s"$dir/super"), superMeta)
    hot = plain.withRowCache(hotKeys.map(Gen.key))
    hot.getSlice(Gen.key(hotKeys.head), None, SliceRange(count = 5)).collect() // fills the cache
  }

  def sizes: Map[String, Any] = Map("keys" -> keys, "runs" -> runs, "files_per_run" -> 4,
    "hot_keys" -> hotKeys.size, "super_keys" -> superKeys, "stored_cells" -> storedCells)

  override def prepare(): Unit =
    storedCells = (0 until keys).iterator.map(i => history(i).length.toLong).sum

  private def superTruth(i: Int) = Truth.liveCells(Gen.superHistory(seed, i))

  private def request(rec: Recorder, kind: String, t: Tracer): Unit = {
    val k = Gen.gaussianKey(rng, keys)
    val key = Gen.key(k)
    val sl = (n: Int, rev: Boolean) => SliceRange(reversed = rev, count = n)
    kind match {
      case "hot" =>
        val h = hotKeys(rng.nextInt(hotKeys.size))
        rec.op("op", kind)(Workload.sigs(t.apiCall(hot.getSlice(Gen.key(h), None, sl(5, false)))))(
          Workload.diff(kind, _, Truth.slice(truth(h), 5, false).map(_.sig)))
      case "get" =>
        val c = rng.nextInt(Gen.ColNames.length)
        rec.op("op", kind)(Workload.sigs(t.apiCall(plain.get(key, None, Gen.ColNames(c)))))(
          Workload.diff(kind, _, truth(k).filter(x => Truth.cmpBytes(x.colName, Gen.ColNames(c)) == 0).map(_.sig)))
      case "slice" =>
        rec.op("op", kind)(Workload.sigs(t.apiCall(plain.getSlice(key, None, sl(5, false)))))(
          Workload.diff(kind, _, Truth.slice(truth(k), 5, false).map(_.sig)))
      case "reversed" =>
        rec.op("op", kind)(Workload.sigs(t.apiCall(plain.getSlice(key, None, sl(3, true)))))(
          Workload.diff(kind, _, Truth.slice(truth(k), 3, true).map(_.sig)))
      case "multiget" =>
        val ks = (k +: Seq.fill(19)(Gen.gaussianKey(rng, keys))).distinct
        rec.op("op", kind)(Workload.sigs(t.apiCall(plain.multigetSlice(ks.map(Gen.key), None, sl(5, false)))))(
          Workload.diff(kind, _, ks.flatMap(x => Truth.slice(truth(x), 5, false)).map(_.sig)))
      case "count" =>
        rec.op("op", kind)(t.apiCall(plain.getCount(Seq(key), None)).collect().toSeq
          .map(r => s"${r.getString(0)}=${r.getLong(1)}"))(
          Workload.diff(kind, _, Some(truth(k).size).filter(_ > 0).map(n => s"$key=$n").toSeq))
      case "super" =>
        val s = rng.nextInt(superKeys)
        rec.op("op", kind)(Workload.sigs(t.apiCall(sup.getSlice(Gen.key(s), None, sl(2, false)))))(
          Workload.diff(kind, _, Truth.superSlice(superTruth(s), 2).map(_.sig)))
    }
  }

  /** Two whole decks: the first requests run several times slower while
    * the JVM compiles Catalyst and the per-request generated code. The
    * read path keeps speeding up for minutes after (see README), so the
    * loop times a fixed point on that curve, not a plateau; one deck less
    * left runs spread twice as wide.
    */
  def warm(rec: Recorder): Unit = for (_ <- 1 to 2; kind <- deck) request(rec, kind, rec.tracer)

  private var pos = 0

  /** One request, the next of the deck: its interleaved order keeps any
    * prefix close to the mix.
    */
  def cycle(rec: Recorder): Unit = {
    request(rec, deck(pos % deck.size), rec.tracer)
    pos += 1
  }

  override def nextKind: String = deck(pos % deck.size)

  def finish(rec: Recorder, loopS: Double): Unit =
    rec.values("throughput_per_s") = rec.samples.get("op").map(_.count(!_.isInfinite)).getOrElse(0) / loopS
}

/** Writes beside reads: seeded mutation batches arrive as files in the
  * source directory of `CellStream.writeToStore(compactAtRuns = 4)`; each
  * flush is followed by a read-after-write get_slice, and the run ends with
  * one full fold that purges tombstones past gcGrace.
  */
final class IngestCompact(spark: SparkSession, seed: Long) extends Workload {
  import IngestCompact._
  val meta: CfMeta = CfMeta("Standard1", partitioner = PartitionerType.Random)
  val baseKeys = 10000
  val batchCells = 10000
  private val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
  private var dir: String = _
  private var query: StreamingQuery = _
  private var batch = 0
  private var keyCount = baseKeys
  private val truth = mutable.HashMap.empty[String, mutable.ArrayBuffer[Cell]]
  private val seenRuns = mutable.HashSet.empty[Long]
  private val rng = Gen.rng(seed, 7)
  var bytesWritten = 0L
  var logicalWritten = 0L
  var flushBytes = 0L
  var flushes = 0
  var minorCompactions = 0
  var compactionBytes = 0L
  var runsLiveMax = 0
  private var touched: Vector[String] = Vector.empty

  def store = s"$dir/store"

  /** Batch 0 is the base (every key, C0..C4); later batches mix 40%
    * inserts of new keys, 48% overwrites, 10% column deletes and 2% row
    * deletes; half of the deletes carry a local deletion time past gcGrace.
    */
  def batchCellsOf(b: Int): Vector[Cell] = {
    val r = Gen.rng(seed, 6, b)
    val ts0 = 10000L * (b + 1)
    def ts = ts0 + r.nextInt(10000)
    def ldt = if (r.nextBoolean()) GcBefore - 1000 else GcBefore + 1000
    if (b == 0) (0 until baseKeys).toVector.flatMap { i =>
      Gen.ColNames.toVector.map(c => Gen.live(Gen.key(i), null, c, Gen.value(r), ts))
    } else {
      val out = Vector.newBuilder[Cell]
      var n = 0
      while (n < batchCells) {
        val u = r.nextDouble()
        if (u < 0.4) {
          val k = Gen.key(keyCount); keyCount += 1
          Gen.ColNames.foreach(c => out += Gen.live(k, null, c, Gen.value(r), ts)); n += 5
        } else {
          val k = Gen.key(r.nextInt(keyCount))
          val c = Gen.ColNames(r.nextInt(Gen.ColNames.length))
          out += (if (u < 0.88) Gen.live(k, null, c, Gen.value(r), ts)
            else if (u < 0.98) Gen.colTomb(k, null, c, ts, ldt)
            else Gen.rowTomb(k, ts, ldt))
          n += 1
        }
      }
      out.result()
    }
  }

  private var pending: Vector[Cell] = Vector.empty

  private def stage(b: Int): Unit = {
    pending = batchCellsOf(b)
    spark.createDataFrame(pending).coalesce(1).write.parquet(s"$dir/staging/$b")
  }

  /** Moves the staged batch file into the stream's source directory; the
    * truth model takes the batch at the same moment.
    */
  private def arrive(b: Int): Unit = {
    val part = fs.listStatus(new Path(s"$dir/staging/$b")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new Path(s"$dir/src/batch-$b.parquet"))
    pending.foreach { c =>
      truth.getOrElseUpdate(c.key, mutable.ArrayBuffer.empty) += c
      logicalWritten += Workload.logicalBytes(c)
    }
    touched = pending.map(_.key).distinct
  }

  /** The store's `run=<id>` directories. */
  private def runDirs(): Seq[(Long, Path)] =
    fs.listStatus(new Path(store)).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("run=")) n.drop(4).toLongOption.map(_ -> st.getPath) else None
    }

  /** Accounts new run directories: flushes (id >= 0) and compactions (< 0). */
  private def listRuns(): Unit = {
    val runs = runDirs()
    runsLiveMax = math.max(runsLiveMax, runs.size)
    runs.filterNot { case (id, _) => seenRuns(id) }.foreach { case (id, p) =>
      seenRuns += id
      val bytes = Workload.dirBytes(fs, p)
      bytesWritten += bytes
      if (id < 0) { minorCompactions += 1; compactionBytes += bytes }
      else if (id > 0) { flushBytes += bytes; flushes += 1 }
    }
  }

  def build(d: String): Unit = {
    close()
    dir = d
    truth.clear(); seenRuns.clear()
    batch = 0; keyCount = baseKeys
    bytesWritten = 0; logicalWritten = 0; flushBytes = 0; flushes = 0
    minorCompactions = 0; compactionBytes = 0; runsLiveMax = 0
    fs.mkdirs(new Path(s"$dir/src"))
    val src = spark.readStream.schema(Cell.schema).parquet(s"$dir/src")
    query = graft.streaming.CellStream.writeToStore(src, store, s"$dir/checkpoint",
      compactAtRuns = 4).start()
    stage(0); arrive(0)
    query.processAllAvailable()
    listRuns()
    batch = 1
    stage(batch)
  }

  def sizes: Map[String, Any] = Map("base_keys" -> baseKeys, "batch_cells" -> batchCells,
    "compact_at_runs" -> 4, "batches" -> (batch - 1), "keys_end" -> keyCount)

  private def lens() = new CassandraLens(CellStore.readRuns(spark, store), meta)

  /** One batch: flush, then read after write. Returns the flushed cells
    * and the flush time, or None when the flush failed.
    */
  private def one(rec: Recorder, role: String): Option[(Int, Double)] = {
    val (b, n) = (batch, pending.size)
    val t0 = System.nanoTime()
    val flushed = rec.op(role, "flush") { arrive(b); query.processAllAvailable() } { _ =>
      query.exception.map(e => s"stream failed: ${e.getMessage.take(200)}")
    }.map(_ => (n, (System.nanoTime() - t0) / 1e6))
    listRuns()
    val key = touched(rng.nextInt(touched.size))
    rec.op("read", "read_after_write")(Workload.sigs(rec.tracer.apiCall(
      lens().getSlice(key, None, SliceRange(count = 5)))))(
      Workload.diff(s"read after batch $b", _, Truth.slice(Truth.liveCells(truth(key)), 5, false).map(_.sig)))
    batch += 1
    stage(batch)
    flushed
  }

  /** Three batches: with compactAtRuns = 4 every three consecutive flushes
    * hold exactly one minor compaction, so the throughput over whole cycles
    * (cells over flush time) always carries one compaction stall in three.
    */
  private def cycleOf(rec: Recorder, role: String): Unit = {
    val done = Seq.fill(3)(one(rec, role))
    if (done.forall(_.isDefined)) {
      rec.sample(s"$role.cells", done.flatten.map(_._1).sum)
      rec.sample(s"$role.flush_ms", done.flatten.map(_._2).sum)
    }
  }

  def warm(rec: Recorder): Unit = cycleOf(rec, "warm")

  def cycle(rec: Recorder): Unit = cycleOf(rec, "op")

  /** A cycle takes 4 to 5.5 s: two, so six flushes, in every run. */
  override def minCycles: Int = 2

  def finish(rec: Recorder, loopS: Double): Unit = {
    val ms = rec.samples.get("op.flush_ms").map(_.sum).getOrElse(0.0)
    if (ms > 0) rec.values("throughput_per_s") = rec.samples("op.cells").sum / (ms / 1000)
  }

  override def end(rec: Recorder): Unit = {
    if (runDirs().size < 2) one(rec, "extra")
    query.stop()
    def purgeable = CellStore.readRuns(spark, store)
      .filter(col("tombstone") && col("local_del_time") < GcBefore).count()
    if (purgeable == 0) rec.fail("no tombstone past gcGrace before the full fold: nothing to check")
    rec.op("compact", "full_fold") {
      CellStore.compactCellRuns(spark, store, GcBefore, low = 0.0,
        high = Double.PositiveInfinity, minRunBytes = Long.MaxValue)
    } { folds =>
      if (folds.size != 1) Some(s"full fold made ${folds.size} folds")
      else Some(purgeable).filter(_ != 0).map(n => s"$n tombstones past gcGrace survived the full fold")
    }
    listRuns()
    val sample = Iterator.continually(Gen.key(rng.nextInt(keyCount))).distinct.take(50).toVector
    rec.op("read", "read_after_fold")(Workload.sigs(lens().multigetSlice(sample, None,
      SliceRange(count = 5))))(Workload.diff("read after full fold", _,
      sample.flatMap(k => truth.get(k).toVector.flatMap(c => Truth.slice(Truth.liveCells(c), 5, false)))
        .map(_.sig)))
    rec.values("compact_s") = rec.samples.get("compact").map(_.head / 1000).getOrElse(Double.NaN)
    val liveBytes = truth.valuesIterator.map(c => Truth.liveCells(c).map(Workload.logicalBytes).sum).sum
    rec.values("write_amp") = bytesWritten.toDouble / logicalWritten
    rec.values("space_amp") = Workload.dirBytes(fs, new Path(store)).toDouble / liveBytes
  }

  override def layerCounts: Map[String, Double] = {
    val progress = if (query == null) Nil
      else query.recentProgress.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = if (progress.isEmpty) 0.0
      else progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / progress.size
    Map("sources.flush_bytes_per_batch" -> (if (flushes == 0) 0.0 else flushBytes.toDouble / flushes),
      "sources.runs_live_max" -> runsLiveMax.toDouble,
      "operators.minor_compactions" -> minorCompactions.toDouble,
      "operators.compaction_bytes_rewritten" -> compactionBytes.toDouble,
      "streaming.add_batch_ms" -> dur("addBatch"), "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.trigger_ms" -> dur("triggerExecution"))
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }
}

object IngestCompact {
  /** gcBefore of the final full fold: tombstones deleted before it purge. */
  val GcBefore: Int = Gen.DelTime
}

/** One pass of the three near-duplicate operators over a seeded corpus
  * shaped like the repository bench's sf0.1 `documents` table (see
  * [[Gen.corpus]]), with planted near-duplicate copies on top.
  */
final class DedupBatch(spark: SparkSession, seed: Long) extends Workload {
  val baseDocs = 5000
  val editedCopies = 500
  private var docs: DataFrame = _
  private var texts: Vector[(Long, String)] = _
  private var planted: Vector[(Long, Long)] = _
  private lazy val sets: Map[Long, Set[String]] = texts.map { case (i, t) => i -> Truth.shingles(t) }.toMap
  private val rng = Gen.rng(seed, 9)

  private def corpus(): (Vector[(Long, String)], Vector[(Long, Long)]) = {
    val (t, p) = Gen.corpus(seed, baseDocs, editedCopies)
    (t.zipWithIndex.map { case (x, i) => (i.toLong, x) }, p.map { case (a, b) => (a.toLong, b.toLong) })
  }

  def build(dir: String): Unit = {
    val (t, p) = corpus()
    texts = t; planted = p
    import spark.implicits._
    texts.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents")
    docs = spark.read.parquet(s"$dir/documents")
  }

  override def prepare(): Unit = sets.size

  def sizes: Map[String, Any] = Map("docs" -> texts.size, "base_docs" -> baseDocs,
    "edited_copies" -> editedCopies, "planted_pairs" -> planted.size)

  private def pairs(df: DataFrame, a: String, b: String): Vector[(Long, Long)] =
    df.select(a, b).collect().toVector.map(r => (r.getLong(0), r.getLong(1)))

  /** Planted pairs above the bar must be reported; a sample of the
    * reported pairs is recomputed and must clear the bar too.
    */
  private def check(kind: String, got: Vector[(Long, Long)], directed: Boolean,
      score: (Long, Long) => Double, recall: Boolean): Option[String] = {
    val gotSet = got.map { case (a, b) => if (directed || a < b) (a, b) else (b, a) }.toSet
    val must = if (!recall) Vector.empty else planted.flatMap { case (a, b) =>
      if (directed) Vector((a, b), (b, a)).filter { case (x, y) => score(x, y) >= 0.8 }
      else if (score(a, b) >= 0.8) Vector((math.min(a, b), math.max(a, b))) else Vector.empty
    }
    val missing = must.filterNot(gotSet)
    val bad = Gen.shuffled(got, rng).take(100).filter { case (a, b) => score(a, b) < 0.8 - 1e-9 }
    if (missing.isEmpty && bad.isEmpty) None
    else Some(s"$kind: ${missing.size} planted pairs missing, ${bad.size} sampled pairs below 4/5")
  }

  /** One pass of the three operators; the pass is the timed unit, each
    * operator is also kept under `operator.<name>`.
    */
  private def pass(rec: Recorder, role: String): Unit = {
    val t = rec.tracer
    val j = (a: Long, b: Long) => Truth.jaccard(sets(a), sets(b))
    val c = (a: Long, b: Long) => Truth.containment(sets(a), sets(b))
    val failed0 = rec.failed
    val t0 = System.nanoTime()
    rec.op("operator", "neardup")(pairs(t.apiCall(Dedup.nearDuplicates(docs, "doc_id", "text", 3, 4, 5,
      hashShingles = true)), "ia", "ib"))(check("nearDuplicates", _, directed = false, j, recall = true))
    rec.op("operator", "minhash")(pairs(t.apiCall(Dedup.minhashNearDuplicates(docs, "doc_id", "text",
      3, 32, 8, 4, 5)), "ia", "ib"))(check("minhashNearDuplicates", _, directed = false, j, recall = false))
    rec.op("operator", "containment")(pairs(t.apiCall(Dedup.containmentNearDuplicates(docs, "doc_id", "text",
      3, 4, 5, hashShingles = true)), "sub_id", "sup_id"))(
      check("containmentNearDuplicates", _, directed = true, c, recall = true))
    rec.sample(role, if (rec.failed == failed0) (System.nanoTime() - t0) / 1e6 else Double.PositiveInfinity)
  }

  /** One pass, about twice as long as the next while the JVM compiles the
    * operators' planning and generated code. The pass after it is still
    * 10 to 20% slower than later ones, but a second warm-up pass does not
    * fit the benchmark's run budget.
    */
  def warm(rec: Recorder): Unit = pass(rec, "warm")

  def cycle(rec: Recorder): Unit = pass(rec, "op")

  /** A pass takes 6 to 9 s. Two in every run: their nearest-rank median is
    * the faster, almost always the second, which is within about 5% of
    * later passes. A run holding one pass or two by the machine's speed
    * reported either the first pass or the second, up to 30% apart.
    */
  override def minCycles: Int = 2

  def finish(rec: Recorder, loopS: Double): Unit =
    Workload.median(rec, "op").foreach(ms => rec.values("throughput_per_s") = texts.size / (ms / 1000))
}
