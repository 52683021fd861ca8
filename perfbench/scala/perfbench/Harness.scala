package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one run records: latency samples by role, request counts,
  * failures with their first messages and named values.
  * A failed request is kept as an infinite sample, so it misses every
  * latency limit instead of vanishing from the percentiles.
  */
final class Recorder(val tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Rows returned to the client by successful requests. */
  var rowsOut = 0L

  def sample(role: String, ms: Double): Unit =
    samples.getOrElseUpdate(role, mutable.ArrayBuffer.empty) += ms

  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }

  /** Time one request: `call` runs under the request's job group and is
    * timed; `check` then compares the response with the truth model,
    * outside the timed region. Returns the result, or None on failure.
    */
  def op[T](role: String, kind: String)(call: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.request(kind)(call)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(e) =>
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        sample(role, Double.PositiveInfinity); sample(s"$role.$kind", Double.PositiveInfinity)
        None
      case Right(v) =>
        val bad = try check(v) catch { case e: Throwable => Some(s"check threw $e") }
        bad match {
          case Some(why) =>
            fail(s"$kind: $why")
            sample(role, Double.PositiveInfinity); sample(s"$role.$kind", Double.PositiveInfinity)
            None
          case None =>
            sample(role, ms); sample(s"$role.$kind", ms)
            v match { case rows: Iterable[_] => rowsOut += rows.size; case _ => }
            Some(v)
        }
    }
  }
}

/** Driver heap and GC time, read from the JVM's own beans. Heap figures
  * are live heap (every heap pool, measured right after a collection): raw
  * pool peaks follow the collector's adaptive young generation sizing more
  * than the workload.
  */
object JvmStats {
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPoolNames(pool) => u.getUsed
        }.sum
        peak = math.max(peak, used)
      }
  }
  private lazy val heapPoolNames: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private lazy val installed: Unit = { heapPoolNames; ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  } }

  /** Start a new peak window. */
  def resetPeak(): Unit = { installed; peak = 0L }
  /** Live heap now: used heap after full collections, repeated until it
    * holds still. Spark frees broadcast and shuffle blocks from its cleaner
    * thread only after a collection has found their handles unreachable,
    * so one collection leaves them counted.
    */
  def liveMb(): Double = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var (prev, now, rounds) = (Long.MaxValue, used, 1)
    while (rounds < 6 && prev - now > (2L << 20)) {
      Thread.sleep(200)
      prev = now; now = used; rounds += 1
    }
    now / 1048576.0
  }

  /** Peak live heap since [[resetPeak]], measured after each collection
    * that ran inside the window.
    */
  def peakMb: Double = {
    Thread.sleep(50) // notifications arrive on their own thread
    peak / 1048576.0
  }
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Fixed contention probes, run before and after every measured phase:
  * a single-thread integer loop and a full read of a fixed ~32 MB parquet
  * slab. They do the same work on every run, so a slow reading means the
  * machine, not the engine, was busy.
  */
object Probes {
  def cpuMs(): Double = {
    val t0 = System.nanoTime()
    var h = 0x12345678L
    var i = 0
    while (i < 30000000) { h = h * 6364136223846793005L + 1442695040888963407L; h ^= h >>> 29; i += 1 }
    if (h == 42) println("") // keeps the loop live
    (System.nanoTime() - t0) / 1e6
  }

  /** Builds the slab once per checkout (fixed content, not seeded). */
  def ensureSlab(spark: SparkSession, dir: String): Unit = {
    val f = new java.io.File(dir)
    if (f.exists()) return
    val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}"
    spark.range(0, 700000, 1, 4)
      .selectExpr("id", "sha2(cast(id as string), 256) as a", "xxhash64(id) as b")
      .write.mode("overwrite").parquet(tmp)
    new java.io.File(tmp).renameTo(f)
  }

  def ioMs(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    spark.read.parquet(dir).selectExpr("bit_xor(xxhash64(id, a, b))").collect()
    (System.nanoTime() - t0) / 1e6
  }
}

/** Minimal JSON writer for the run's raw result. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => str(other.toString)
  }
}
