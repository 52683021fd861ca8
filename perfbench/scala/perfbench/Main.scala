package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession

/** One benchmark run in one JVM:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *        --slab DIR [--budget B]
  *
  * Builds the workload's inputs twice (set-up reports their median, so
  * their mean: the first build runs on a cold JVM), warms up, probes the
  * machine, runs the closed loop for S seconds and writes the raw result
  * (samples, values, probes, per-layer counts) as JSON to FILE. `run.py` turns that into the metrics line.
  * With --trace 1 traced and untraced units of work alternate within the
  * loop, so the run also measures the tracing overhead.
  *
  * `--budget B` bounds the JVM's wall time from its start: set-up drops
  * its repeat builds and the loop shortens when a slow program would not
  * fit otherwise, so a regression still reports figures. The planned and
  * actual loop lengths are in the result.
  */
object Main {
  val Builds = 2
  /** Time kept free after the loop for end-of-run work, on top of as much
    * again as warm-up took.
    */
  val ReserveS = 15.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workload, seed, seconds) = (a("workload"), a("seed").toLong, a("seconds").toDouble)
    val trace = a.getOrElse("trace", "0") == "1"
    val (work, out) = (a("work"), a("out"))
    val budget = a.get("budget").map(_.toDouble).getOrElse(Double.PositiveInfinity)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def elapsedS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val spark = GraftSession.create()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val result = mutable.LinkedHashMap.empty[String, Any]
    try {
      val slab = a("slab")
      val t0 = System.nanoTime()
      Probes.ensureSlab(spark, slab)
      result("slab_s") = (System.nanoTime() - t0) / 1e9
      val tracer = new Tracer(spark)
      val w = Workload(workload, spark, seed)
      val builds = mutable.ArrayBuffer.empty[Double]
      // a repeat build only while set-up stays within a third of the budget
      while (builds.size < Builds && (builds.isEmpty || elapsedS + builds.last < budget / 3)) {
        val t = System.nanoTime()
        w.build(s"$work/build-${builds.size}")
        builds += (System.nanoTime() - t) / 1e9
      }
      val tt = System.nanoTime()
      w.prepare()
      val truthS = (System.nanoTime() - tt) / 1e9
      val warmRec = new Recorder(tracer)
      val tw = System.nanoTime()
      w.warm(warmRec)
      val warmS = (System.nanoTime() - tw) / 1e9
      // what set-up leaves resident; measured before the loop, whose own
      // retention (Spark's status store grows with every query) depends on
      // how many requests a run completes
      val heapLive = JvmStats.liveMb()
      // after warm-up, so the probe reads a warm JVM: right after the builds
      // the first parquet read took 1.2 to 2 s against 0.3 to 0.5 s
      val probes = mutable.LinkedHashMap[String, Double](
        "cpu_before_ms" -> Probes.cpuMs(), "io_before_ms" -> Probes.ioMs(spark, slab))

      val loopS = math.max(1.0, math.min(seconds, budget - elapsedS - ReserveS - warmS))
      // warm-up is slower than a cycle, so it bounds what the minimum costs
      val minCycles = if (elapsedS + ReserveS + warmS * (w.minCycles + 1) < budget) w.minCycles else 1
      val phases = loop(w, tracer, trace, loopS, minCycles)
      val last = phases.last._1
      w.end(last)
      tracer.stop()
      probes("cpu_after_ms") = Probes.cpuMs()
      probes("io_after_ms") = Probes.ioMs(spark, slab)

      val recs = warmRec +: phases.map(_._1)
      result ++= Seq(
        "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
        "cpus" -> GraftSession.cpus,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory" -> sys.env.getOrElse("SPARK_DRIVER_MEM", ""),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "sizes" -> w.sizes,
        "loop_s_planned" -> seconds, "loop_s" -> loopS, "min_cycles" -> minCycles,
        "budget_s" -> budget,
        "setup" -> Map("session_s" -> sessionS, "builds_s" -> builds, "warmup_s" -> warmS,
          "truth_s" -> truthS),
        "heap_live_mb" -> heapLive,
        "probes" -> probes,
        "attempted" -> recs.map(_.attempted).sum,
        "failed" -> recs.map(_.failed).sum,
        "errors" -> recs.flatMap(_.errors).take(20),
        "phases" -> phases.map { case (rec, p) =>
          p ++ Seq("attempted" -> rec.attempted, "failed" -> rec.failed,
            "samples" -> rec.samples, "values" -> rec.values)
        })
      if (trace) {
        val traced = phases.last
        result("layers") = Layers(tracer, traced._1, w, traced._2("gc_ms").asInstanceOf[Double],
          probes)
        val spans = tracer.spans.toSeq ++ tracer.derivedSpans()
        val spanFile = s"$work/spans.jsonl"
        Files.write(Paths.get(spanFile), spans.map { s =>
          Json(mutable.LinkedHashMap[String, Any]("name" -> s.name, "request" -> s.group,
            "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs)
        }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        result("spans_file") = spanFile
        result("span_counts") = spans.groupBy(_.name).view.mapValues(_.size).toMap
      }
      w.close()
    } catch {
      case e: Throwable =>
        result("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      Files.write(Paths.get(out), Json(result).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** The closed loop for `secs` seconds and at least `minCycles` units of
    * work. Untraced it is one phase. Traced,
    * units of work alternate between an untraced and a traced phase by
    * their kind, in the order untraced, traced, traced, untraced, so the
    * drift of a run (the JIT keeps speeding requests up) weighs on both
    * phases alike and their difference is the tracing overhead. A traced
    * loop runs past `secs` until its units make whole blocks of four, so a
    * workload with one kind of unit (a pass, a 3-batch cycle) ends on a
    * complete untraced, traced, traced, untraced block. A phase's `loop_s`
    * is the time spent in its own units; GC time is the loop's, shared in
    * that proportion.
    */
  def loop(w: Workload, tracer: Tracer, trace: Boolean,
      secs: Double, minCycles: Int): Seq[(Recorder, mutable.LinkedHashMap[String, Any])] = {
    val recs = Seq.fill(if (trace) 2 else 1)(new Recorder(tracer))
    val busy = Array.fill(recs.size)(0L)
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var units = 0
    JvmStats.resetPeak()
    val gc0 = JvmStats.gcMs
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    if (trace) tracer.start()
    while (System.nanoTime() < deadline || units < minCycles || busy.contains(0L) ||
        (trace && units % 4 != 0)) {
      val i = if (!trace) 0 else {
        val k = w.nextKind
        val n = seen(k)
        seen(k) = n + 1
        if (n % 4 == 1 || n % 4 == 2) 1 else 0
      }
      tracer.active = i == 1
      val t0 = System.nanoTime()
      w.cycle(recs(i))
      busy(i) += System.nanoTime() - t0
      units += 1
    }
    tracer.active = true
    val gcMs = (JvmStats.gcMs - gc0).toDouble
    val peak = JvmStats.peakMb
    val total = math.max(1L, busy.sum).toDouble
    recs.indices.map { i =>
      w.finish(recs(i), busy(i) / 1e9)
      recs(i) -> mutable.LinkedHashMap[String, Any]("name" -> (if (i == 0) "untraced" else "traced"),
        "loop_s" -> busy(i) / 1e9, "heap_peak_mb" -> peak, "gc_ms" -> gcMs * busy(i) / total)
    }
  }
}

/** Per-layer metrics of the traced phase: per-request means, ratios with
  * their base stated in the metric name. Layers a workload does not
  * exercise read 0.
  */
object Layers {
  def apply(t: Tracer, rec: Recorder, w: Workload, gcMs: Double,
      probes: collection.Map[String, Double]): Map[String, Double] = {
    val reqs = t.spans.filter(_.name == "request").toVector
    val ops = math.max(1, reqs.size).toDouble
    val api = t.spans.filter(_.name == "api.call").toVector
    val jobs = t.jobs.values.toVector
    val stages = t.stages.toVector
    val qs = t.queries.toVector
    val rowsOut = math.max(1L, rec.rowsOut).toDouble
    def per(x: Double) = x / ops
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    // wall of a request not covered by any of its jobs
    val gap = reqs.map { r =>
      val iv = jobs.filter(j => j.startMs < r.endMs && j.endMs > r.startMs)
        .map(j => (math.max(j.startMs, r.startMs), math.min(j.endMs, r.endMs))).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (s, e) =>
        val s2 = math.max(s, end)
        if (e > s2) covered += e - s2
        end = math.max(end, e)
      }
      (r.endMs - r.startMs) - covered
    }
    val apiJobs = api.map(s => jobs.count(j => j.startMs >= s.startMs && j.startMs <= s.endMs))
    val hotQs = qs.filter(q => t.groupOfExec(q.execId).startsWith("hot-"))
      .groupBy(q => t.groupOfExec(q.execId))
    val storeFiles = w.storeFiles.toDouble
    val storeScans = qs.map(_.scans).sum
    val tasks = stages.map(_.tasks).sum
    val phase = (p: String) => qs.flatMap(_.phases).filter(_._1 == p).map(x => x._3 - x._2).sum.toDouble
    val op = (k: String) => rec.samples.get(s"operator.$k").toSeq.flatten.filterNot(_.isInfinite).sorted
    val median = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else xs(xs.size / 2)
    val passes = rec.samples.get("op").map(_.size).getOrElse(0)
    val isDedup = w.isInstanceOf[DedupBatch]
    Map(
      "api.call_ms" -> per(api.map(s => s.endMs - s.startMs).sum.toDouble),
      "api.call_jobs" -> ratio(apiJobs.sum, api.size),
      "api.cache_hit_ratio" -> ratio(hotQs.count(_._2.forall(_.files == 0)), hotQs.size),
      "plans.analysis_ms" -> per(phase("analysis")),
      "plans.optimization_ms" -> per(phase("optimization")),
      "plans.physical_ms" -> per(phase("planning")),
      "plans.codegen_compiles_per_op" -> per(t.codegenCompiles.toDouble),
      "spark.jobs_per_op" -> per(jobs.size),
      "spark.stages_per_op" -> per(stages.size),
      "spark.tasks_per_op" -> per(tasks),
      "spark.driver_gap_ms" -> per(gap.sum.toDouble),
      "spark.task_wait_ms" -> ratio(stages.map(_.waitMs).sum, tasks),
      "spark.task_failures" -> stages.map(_.failures).sum.toDouble,
      "sources.files_per_op" -> per(qs.map(_.files).sum.toDouble),
      "sources.files_pruned_ratio" ->
        (if (storeFiles == 0 || storeScans == 0) 0.0
         else math.max(0.0, 1 - qs.map(_.files).sum / (storeScans * storeFiles))),
      "sources.scan_bytes_per_op" -> per(stages.map(_.inputBytes).sum.toDouble),
      "sources.scan_rows_per_row_out" -> qs.map(_.scanRows).sum / rowsOut,
      "sources.scan_ms" -> per(qs.map(_.scanNs).sum / 1e6),
      "exchange.count_per_op" -> per(qs.map(_.exchanges).sum.toDouble),
      "exchange.shuffle_bytes_per_op" -> per(qs.map(_.shuffleBytes).sum.toDouble),
      "exchange.shuffle_write_ms" -> per(qs.map(_.shuffleWriteNs).sum / 1e6),
      "functions.reconcile_agg_ms" -> per(qs.map(_.reconcileNs).sum / 1e6),
      "functions.versions_per_live_cell" ->
        ratio(qs.map(_.reconcileIn).sum.toDouble, qs.map(_.reconcileOut).sum.toDouble),
      "operators.slice_rows_in_per_out" -> qs.map(_.windowRowsIn).sum / rowsOut,
      "pipeline.neardup_s" -> median(op("neardup")) / 1000,
      "pipeline.minhash_s" -> median(op("minhash")) / 1000,
      "pipeline.containment_s" -> median(op("containment")) / 1000,
      "pipeline.shuffle_bytes" ->
        (if (isDedup && passes > 0) stages.map(_.shuffleBytes).sum.toDouble / passes else 0.0),
      "pipeline.join_rows_per_pair" ->
        (if (isDedup) qs.map(_.joinRows).sum / rowsOut else 0.0),
      "jvm.gc_ms" -> per(gcMs),
      "env.cpu_probe_ms" -> math.max(probes("cpu_before_ms"), probes("cpu_after_ms")),
      "env.io_probe_ms" -> math.max(probes("io_before_ms"), probes("io_after_ms"))
    ) ++ Seq("sources.flush_bytes_per_batch", "sources.runs_live_max", "operators.minor_compactions",
      "operators.compaction_bytes_rewritten", "streaming.add_batch_ms", "streaming.wal_commit_ms",
      "streaming.query_planning_ms", "streaming.trigger_ms").map(k => k -> w.layerCounts.getOrElse(k, 0.0))
  }
}
