package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every declared query, timed over
  * `SPARK_GRAFT_BENCH_ITERS` (default 3) full round-robin passes,
  * reported as per-query MEDIANS — single-run numbers proved ±2×
  * noisy round-over-round on byte-identical code. Between queries the
  * cache is cleared so one query's persisted/spooled state can't
  * contaminate the next measurement, and failures are recorded in an
  * `errors` map instead of being swallowed as a fake timing.
  *
  * Each query is forced through the `noop` datasource sink, not
  * `.count()`: count lets Catalyst prune every projected column and
  * drop the final sort, so for the scalar-sweep queries a count-based
  * timing measures little more than a parquet scan. The noop sink
  * evaluates every output column of every row (same execution shape
  * as a real write) while discarding the bytes (round-4 verdict #1).
  *
  * Round-17 instrumentation (r16 verdict #1/#5 — the
  * q_weighted_percentile 4 s ↔ 16 s bimodal mode was undiagnosable
  * from wall time alone): every timed run also records the JVM-wide
  * deltas of process CPU time, GC time, and JIT compilation time,
  * plus the post-query code-cache occupancy — the three candidate
  * culprits (GC pause / JIT recompile storm / code-cache sweeper
  * stall) each leave a distinct signature in those columns. And the
  * slowest `SPARK_GRAFT_BENCH_SLOW_N` (default 20) queries by
  * base-pass median get `SPARK_GRAFT_BENCH_EXTRA` (default 2) extra
  * passes — median-of-5 on exactly the tail where run-to-run spread
  * concentrates, ~1 min of extra sweep for a stable slowest-10 list.
  *
  * Output contract (round-7 verdict #7): the full report — total,
  * per-query medians, errors, per-iteration runs + JVM columns — is
  * WRITTEN TO `/root/repo/BENCH_QUERIES.json` (committed with the
  * round, so the judge's regression diff is exact), and stdout ends
  * with a SHORT JSON line that always fits a 2,000-byte tail capture:
  * total, pointer to the report file, and the slowest queries inline.
  * The complete one-line form still prints immediately before it for
  * human eyes; only the LAST line is the machine contract. Seven
  * rounds of `parsed: null` proved a 133-entry map can never ride
  * the tail.
  */
object Bench {

  /** JVM-wide counters sampled around each timed run. All cumulative
    * since JVM start; per-query cost is the delta. Process CPU covers
    * every thread (driver + all local[n] executor threads), GC time
    * sums all collectors, JIT time is HotSpot's total compilation
    * wall estimate, code-cache is the sum of the segmented CodeHeap
    * pools' used bytes (the pool a full sweeper stall shows up in).
    */
  private object Jvm {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    private val os = ManagementFactory.getOperatingSystemMXBean
    def cpuMs: Long = os match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val t = b.getProcessCpuTime; if (t < 0) -1L else t / 1000000L
      case _ => -1L
    }
    def gcMs: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    /** G1 CONCURRENT cycle count (the "G1 Concurrent GC" bean counts
      * cycles; its collectionTime covers only the STW remark/cleanup
      * pauses — the concurrent-mark CPU itself is native-thread burn
      * invisible to both gc_ms and tcpu_ms). Added r22: the spike-mode
      * attribution column — the r21 tcpu_ms column proved the ~10×
      * CPU-spike runs are native VM burn (e.g. q_text_tokenize_budget:
      * 40.6 s process CPU, 7.5 s java-thread, 0.2 s STW-GC, 1.2 s JIT
      * in a 4.65 s wall), and ConcGCThreads=6 at the default 8g heap
      * makes concurrent mark exactly a ~6-threads-flat-out suspect.
      * A -1 sentinel where the bean is absent (non-G1 collectors).
      */
    def concGcN: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .find(_.getName == "G1 Concurrent GC").map(_.getCollectionCount).getOrElse(-1L)
    def jitMs: Long =
      Option(ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime).getOrElse(-1L)
    def codeCacheMb: Double =
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("CodeHeap") || p.getName == "Code Cache")
        .map(p => Option(p.getUsage).map(_.getUsed).getOrElse(0L)).sum / 1e6
    /** Sum of CPU time over all JAVA threads. Process CPU minus this
      * is NATIVE VM burn (concurrent-GC workers, JIT compiler threads,
      * VM ops) — invisible to gc_ms (STW-only) and to ThreadMXBean
      * itself. Added r21: a rare mid-sweep mode burns ~10x process CPU
      * with FLAT operator metrics / STW-GC / jit_ms (e.g. one
      * q_weighted_quantiles run at 112 s CPU for 13 s wall where every
      * SQLMetric summed < 1 s); this column decides java-side vs
      * native-side for whatever run it strikes next. Thread death
      * between samples undercounts the java share (executor pools are
      * stable, so in practice the error is small).
      */
    private val tmx = ManagementFactory.getThreadMXBean
    // supported-but-disabled JVMs return -1 per thread, which would
    // read as tcpu_ms=0 (all CPU misattributed to native burn) — try
    // to enable once, and fall back to the -1 sentinel if we can't
    private val tcpuOk: Boolean = tmx.isThreadCpuTimeSupported && {
      try { if (!tmx.isThreadCpuTimeEnabled) tmx.setThreadCpuTimeEnabled(true); true }
      catch { case NonFatal(_) => false }
    }
    def threadCpuMs: Long =
      if (!tcpuOk) -1L
      else tmx.getAllThreadIds.map { id =>
        val t = tmx.getThreadCpuTime(id); if (t > 0) t else 0L
      }.sum / 1000000L
  }

  private final case class Run(
      wallSec: Double, cpuMs: Long, gcMs: Long, jitMs: Long, ccacheMb: Double,
      tcpuMs: Long, concGcN: Long)

  /** Host-calibration canary (r20 verdict #3): wall seconds of a
    * fixed, deterministic, single-threaded CPU-bound mix loop, timed
    * at sweep start and end. Five rounds of verdicts adjudicated the
    * box's ±20% load window by hand; dividing sweep totals by the
    * canary makes cross-sweep and driver-vs-builder comparisons
    * mechanical (same code, busier box ⇒ canary inflates with it).
    * One warm-up run precedes each measured run so JIT state does not
    * masquerade as load. The mixed value is published via a volatile
    * so the loop cannot be dead-code-eliminated.
    */
  @volatile private var canarySink: Long = 0L
  private def canarySec(): Double = {
    def pass(): Double = {
      var h = 0x9E3779B97F4A7C15L
      val t0 = System.nanoTime()
      var i = 0L
      while (i < 300000000L) {
        h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= h >>> 29
        i += 1L
      }
      canarySink = h
      (System.nanoTime() - t0) / 1e9
    }
    pass() // warm-up: JIT the loop
    pass()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val extraIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA", "2").toInt
    val slowN = sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOW_N", "20").toInt
    val benchT0 = System.nanoTime()
    val canaryStart = canarySec()
    val spark = engine.Core.session("graft-bench")
    // dev-loop subset filter (driver sets nothing → full sweep)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // an empty/blank filter means the full sweep
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val runs = scala.collection.mutable.Map.empty[String, Vector[Run]]
      .withDefaultValue(Vector.empty)
    val errors = scala.collection.mutable.Map.empty[String, String]

    // Per-RUN executed-plan + SQLMetrics capture for the historically
    // bimodal tail (r18 verdict #1b/#4): a slow run of a traced query
    // can be DIFFED against a fast one — plan-shape flips (broadcast
    // vs SMJ, missing WholeStageCodegen ids), metric blowups (shuffle
    // bytes, output rows), or extra re-derived sub-executions each
    // name themselves. Reads the shared SQLAppStatusStore (alive even
    // with the UI off), so every sub-execution of the run — including
    // scratch-checkpoint writes and training-barrier collects — is
    // captured with the execution's own formatted plan and final
    // metric values. Traced queries only (default: the r18 suspects);
    // cost is a 300 ms bus-drain sleep per traced run.
    val planTrace = sys.env.getOrElse("SPARK_GRAFT_BENCH_PLAN_Q",
      "q_weighted_percentile,q_weighted_quantiles,q_sim_pq,q_sim_ivfpq,q_sim_matryoshka_mrl")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val planDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PLAN_DIR", "/tmp/graft_bench_plans"))
    try java.nio.file.Files.createDirectories(planDir) catch { case _: java.io.IOException => () }
    val runCounter = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def lastExecId(): Long =
      try spark.sharedState.statusStore.executionsList().lastOption.map(_.executionId).getOrElse(-1L)
      catch { case NonFatal(_) => -1L }
    def capturePlans(name: String, runIdx: Int, sinceId: Long, wallSec: Double): Unit =
      try {
        // the status bus is async: poll until the execution list stops
        // growing AND every captured execution has a completion time
        // (up to ~3 s) instead of assuming one fixed drain interval —
        // exactly the slow runs being diagnosed are the ones with
        // listener backlogs that outlive a fixed sleep
        val store = spark.sharedState.statusStore
        var last = -1
        var stable = 0
        var spins = 0
        while (stable < 2 && spins < 20) {
          Thread.sleep(150)
          val es = store.executionsList().filter(_.executionId > sinceId)
          val n = es.size
          val allDone = es.forall(_.completionTime.isDefined)
          if (n == last && allDone) stable += 1 else stable = 0
          last = n
          spins += 1
        }
        val execs = store.executionsList().filter(_.executionId > sinceId)
        val sb = new StringBuilder
        sb.append(s"# query=$name run=$runIdx wall_sec=$wallSec sub_executions=${execs.size}\n")
        for (e <- execs) {
          val mv = store.executionMetrics(e.executionId)
          sb.append(s"\n== execution ${e.executionId} (${(e.completionTime.map(_.getTime).getOrElse(0L) - e.submissionTime) / 1000.0}s) ==\n")
          sb.append(e.physicalPlanDescription).append("\nMETRICS:\n")
          for (m <- e.metrics)
            sb.append(s"  ${m.name} [${m.accumulatorId}] = ${mv.getOrElse(m.accumulatorId, "-")}\n")
        }
        java.nio.file.Files.writeString(planDir.resolve(s"$name-r$runIdx.txt"), sb.toString)
      } catch { case NonFatal(_) => () }

    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      spark.catalog.clearCache()
      // Force a GC so ContextCleaner releases shuffle files / broadcasts
      // held by the previous query's dropped references. Without this the
      // sweep accumulates un-reclaimed executor state in the shared JVM and
      // mid-sweep queries read 3-6x slower than the same query standalone
      // (e.g. q_agg_groupby 7.8s in the r5 sweep vs 1.9s alone) — that's
      // measurement contamination, not query cost. On a real cluster each
      // query would run in its own application; this approximates that.
      System.gc()
      val traced = planTrace(name)
      val sinceId = if (traced) lastExecId() else -1L
      val (cpu0, gc0, jit0, tcpu0, cgc0) =
        (Jvm.cpuMs, Jvm.gcMs, Jvm.jitMs, Jvm.threadCpuMs, Jvm.concGcN)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        runs(name) = runs(name) :+ Run(wall,
          if (cpu0 < 0) -1L else Jvm.cpuMs - cpu0,
          Jvm.gcMs - gc0,
          if (jit0 < 0) -1L else Jvm.jitMs - jit0,
          Jvm.codeCacheMb,
          if (tcpu0 < 0) -1L else Jvm.threadCpuMs - tcpu0,
          if (cgc0 < 0) -1L else Jvm.concGcN - cgc0)
        if (traced) {
          runCounter(name) = runCounter(name) + 1
          capturePlans(name, runCounter(name), sinceId, wall)
        }
      } catch {
        case NonFatal(e) =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }

    for (_ <- 0 until iters; (name, fn) <- names) timed(name, fn)
    def median(v: Vector[Double]): Double = {
      val s = v.sorted
      if (s.isEmpty) -1.0 else s(s.size / 2)
    }
    def wall(n: String): Vector[Double] = runs(n).map(_.wallSec)
    // tail sharpening: the slowest-N by base-pass median get extra
    // full passes, so exactly the queries that decide the slowest-10
    // list (and carry most of the spread) are median-of-(iters+extra)
    val slowSet = names.map { case (n, _) => n -> median(wall(n)) }
      .filter(_._2 >= 0).sortBy(-_._2).take(slowN).map(_._1).toSet
    for (_ <- 0 until extraIters; (name, fn) <- names if slowSet(name)) timed(name, fn)

    def jmap(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def fmt(d: Double): String = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val meds = names.map { case (n, _) => n -> median(wall(n)) }
    val qs = jmap(meds.map { case (k, v) => k -> fmt(v) })
    val allRuns = jmap(names.map { case (n, _) =>
      n -> wall(n).map(fmt).mkString("[", ",", "]") })
    // the JVM columns ride beside `runs`, index-aligned per query; the
    // -1 "MXBean unsupported" sentinel becomes JSON null so consumers
    // never mistake it for a measured delta
    def sentinel(v: Long): String = if (v < 0) "null" else v.toString
    val allCpu = jmap(names.map { case (n, _) =>
      n -> runs(n).map(r => sentinel(r.cpuMs)).mkString("[", ",", "]") })
    val allGc = jmap(names.map { case (n, _) =>
      n -> runs(n).map(_.gcMs.toString).mkString("[", ",", "]") })
    val allJit = jmap(names.map { case (n, _) =>
      n -> runs(n).map(r => sentinel(r.jitMs)).mkString("[", ",", "]") })
    val allCc = jmap(names.map { case (n, _) =>
      n -> runs(n).map(r => fmt(r.ccacheMb)).mkString("[", ",", "]") })
    // java-thread CPU beside process CPU: the gap is native VM burn
    // (concurrent GC / JIT threads / VM ops) - see Jvm.threadCpuMs
    val allTcpu = jmap(names.map { case (n, _) =>
      n -> runs(n).map(r => sentinel(r.tcpuMs)).mkString("[", ",", "]") })
    // G1 concurrent cycles per run (see Jvm.concGcN): a spiked run with
    // a multi-cycle delta here names concurrent-mark workers as the
    // native burn mechanically, inside the artifact itself
    val allCgc = jmap(names.map { case (n, _) =>
      n -> runs(n).map(r => sentinel(r.concGcN)).mkString("[", ",", "]") })
    val errs = jmap(errors.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> ("\"" + v.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\"") })
    val total = meds.map(_._2).filter(_ >= 0).sum
    // the artifact carries its own error bar: per-query cross-iteration
    // spread (max − min), summed — full sweeps on this box vary ±10%
    // with machine load (r16: 323–362 s for identical code), and a
    // grader diffing totals round-over-round needs to see whether a
    // delta exceeds the run's own noise floor
    val spread = names.map { case (n, _) =>
      val v = wall(n)
      if (v.size < 2) 0.0 else v.max - v.min
    }.sum
    // medians over MEASURED values only: an unsupported MXBean records
    // the -1 sentinel per run, and mixing sentinels into a median sum
    // would drive the headline negative
    def medOf(v: Vector[Long]): Long = {
      val m = v.filter(_ >= 0).sorted
      m.lift(m.size / 2).getOrElse(0L)
    }
    val gcSec = names.map { case (n, _) => medOf(runs(n).map(_.gcMs)) }.sum / 1e3
    val jitSec = names.map { case (n, _) => medOf(runs(n).map(_.jitMs)) }.sum / 1e3
    // two totals, two names (r17 verdict #5: PERF quoted a wall
    // number against the artifact's queries-total): `value` stays the
    // per-query-median sum (the contract headline), `wall_total_sec`
    // is this process's whole-sweep wall including warm-up iterations
    // and setup — quote whichever, but by its own name
    val wallTotal = (System.nanoTime() - benchT0) / 1e9
    // host canary re-measured at sweep end; host_factor is the mean of
    // the two runs (seconds — a busier box reads higher). Normalize a
    // cross-sweep total comparison by dividing each total by its
    // sweep's host_factor.
    val canaryEnd = canarySec()
    val hostFactor = (canaryStart + canaryEnd) / 2
    val canaryJson =
      s""""host_factor":${fmt(hostFactor)},"host_canary_sec":[${fmt(canaryStart)},${fmt(canaryEnd)}]"""
    // paths are interpolated into the machine-readable JSON: a quote
    // or backslash in an env-provided path must not break the parse
    def jesc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val sfJson = jesc(sfDir)
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","wall_total_sec":${fmt(wallTotal)},"spread_sec":${fmt(spread)},"gc_sec":${fmt(gcSec)},"jit_sec":${fmt(jitSec)},$canaryJson,"queries":$qs,"errors":$errs,"iters":$iters,"sf":"$sfJson"}"""
    // complete structured report to files: the repo copy is the one the
    // judge diffs round-over-round; /tmp keeps the per-iteration runs.
    // Dev-loop SUBSET runs (BENCH_ONLY) must not clobber the committed
    // full report with a partial one — they write only the /tmp copy.
    val report =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","wall_total_sec":${fmt(wallTotal)},"spread_sec":${fmt(spread)},"gc_sec":${fmt(gcSec)},"jit_sec":${fmt(jitSec)},$canaryJson,"queries":$qs,"errors":$errs,"iters":$iters,"extra_iters":$extraIters,"runs":$allRuns,"cpu_ms":$allCpu,"gc_ms":$allGc,"jit_ms":$allJit,"ccache_mb":$allCc,"tcpu_ms":$allTcpu,"concgc_n":$allCgc,"sf":"$sfJson"}"""
    val sinks = if (only.isEmpty) Seq("/root/repo/BENCH_QUERIES.json", "/tmp/graft_bench_detail.json")
                else Seq("/tmp/graft_bench_detail.json")
    for (p <- sinks)
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), report)
      catch { case _: java.io.IOException => () }
    spark.stop()
    // the full line prints for humans, but LAST comes a short headline
    // guaranteed to survive a 2,000-byte stdout tail capture intact
    val slowest = jmap(meds.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => k -> fmt(v) })
    // the pointer must reference the file THIS run wrote — a subset
    // run pointing at the committed full report would attribute some
    // earlier sweep's numbers to itself
    val reportPath = sinks.head
    // the sidecar field names the file only when this run actually
    // writes it (full sweeps) — a subset run claiming the committed
    // sidecar would attribute someone else's numbers to itself
    // one constant for the write AND the advertised field — derived
    // from the checkout (env override, else the working directory),
    // never a hardcoded absolute path that lies on a moved checkout
    val sidecarPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SIDECAR",
      java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_LAST.json").toString)
    val sidecarField =
      if (only.isEmpty) s""""sidecar":"${jesc(sidecarPath)}",""" else ""
    val shortLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","wall_total_sec":${fmt(wallTotal)},"spread_sec":${fmt(spread)},"gc_sec":${fmt(gcSec)},"jit_sec":${fmt(jitSec)},$canaryJson,"n_queries":${meds.size},"n_errors":${errors.size},"iters":$iters,"sf":"$sfJson","queries_file":"${jesc(reportPath)}",$sidecarField"slowest":$slowest}"""
    // self-parsing contract (r18 verdict #5: the driver's `parsed` has
    // been null for seven rounds because sbt's [success] banner trails
    // the stdout JSON): the short machine line is ALSO written to a
    // fixed sidecar the driver can read without tail-parsing stdout.
    // Subset (BENCH_ONLY) dev runs skip it, same as BENCH_QUERIES.json.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sidecarPath), shortLine)
      catch { case _: java.io.IOException => () }
    println(fullLine)
    println(shortLine)
  }
}
