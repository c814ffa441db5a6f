package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession

import graft.core.Tables
import graft.ops.Relational

/** Closed-loop benchmark: one client runs a workload's job mix one
  * job at a time, pass after pass, and writes raw samples as JSON for
  * `run.py` to check and aggregate.
  *
  * {{{
  * perfbench.Main --workload W --seconds S --trace 0|1 --cpus N
  *                --data DIR --out DIR --result FILE
  * }}}
  *
  * Untraced (`--trace 0`): [[WarmUpPasses]] untimed warm-up passes (their
  * end marks `setup_s`, measured from JVM start), then timed passes until
  * `S` seconds of job time have run. Traced (`--trace 1`): the warm-up, then
  * untraced passes for half the window (the overhead base), then passes
  * with every listener of [[Trace]] registered. Between jobs, outside
  * every timing window: clearCache, clearStaged, clearMemo, System.gc. */
object Main {
  final case class Sample(name: String, seconds: Double, error: Option[String],
                          windowMs: (Long, Long), counts: Map[String, Double])
  final case class Pass(samples: Seq[Sample], heapMb: Double)
  /** Untimed passes before timing starts: the first is cold, and the JIT
    * still compiles through the second. Later passes run 5-10% faster
    * still, but at the same rate in every run, so they are timed. */
  val WarmUpPasses = 2

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.all(o("workload"))
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[${o("cpus")}]")
      .config("spark.sql.shuffle.partitions", o("cpus"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.log.level", "ERROR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] session ready ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s after JVM start")
    val meters = new Meters
    var trace: Option[Trace] = None
    val ctx = new JobCtx(spark, o("data"), o("out"), meters,
      df => trace.foreach(_.addPhases(df.queryExecution)))

    def runJob(job: Job): Sample = {
      Workloads.hygiene(spark)
      trace.foreach(_ => ListenerDrain(spark.sparkContext))
      spark.sparkContext.setLocalProperty(Trace.ModuleProperty, job.module)
      def probe() = Map("cpu_ns" -> meters.cpuNs.toDouble,
        "wchar" -> meters.wchar.toDouble, "gc_ms" -> meters.gcMs.toDouble,
        "staged_writes" -> Tables.stagedWriteCount.toDouble,
        "two_phase_runs" -> Relational.twoPhaseRunCount.toDouble,
        "memo_reads" -> Tables.memoReadCount.toDouble) ++
        trace.map(_.snapshot()).getOrElse(Map.empty)
      meters.takeBuildNs()
      val before = probe()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val error =
        try { job.run(ctx); None }
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] ${job.name} FAILED: ${Meters.brief(e)}")
          Some(Meters.brief(e))
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      val build = meters.takeBuildNs() / 1e9
      trace.foreach(_ => ListenerDrain(spark.sparkContext))
      val after = probe()
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      Sample(job.name, dt, error, (w0, w1), delta + ("build_s" -> build))
    }

    def runPass(): Pass = {
      workload.beforePass(ctx)
      meters.watchHeap(true)
      val samples = workload.jobs.map(runJob)
      Workloads.hygiene(spark)
      Pass(samples, meters.heapAfterGcPeak / 1e6)
    }

    /** Passes until `budget` seconds of job time have run (at least one). */
    def passes(budget: Double): Seq[Pass] = {
      val out = Seq.newBuilder[Pass]
      var spent = 0.0
      while (spent == 0.0 || spent < budget) {
        val p = runPass()
        out += p
        spent += p.samples.map(_.seconds).sum
      }
      out.result()
    }

    (1 to WarmUpPasses).foreach { i =>
      System.err.println(s"[perfbench] warm-up pass $i: " + runPass().samples
        .map(j => f"${j.name} ${j.seconds}%.2fs").mkString(", "))
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val timed = passes(if (traced) seconds / 2 else seconds)
    val (tracedPasses, tracedOnly) =
      if (!traced) (Nil, Nil)
      else {
        // full call stacks, so a job's frames reach back into graft code
        System.setProperty("spark.callstack.depth", "1000")
        val t = new Trace(Workloads.opFrames)
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
        spark.streams.addListener(t.streaming)
        trace = Some(t)
        val tp = passes(seconds / 2).map(p => layers(p.samples, t, o("data")))
        val extra = workload.tracedOnly.map(runJob)
        (tp, extra)
      }
    meters.watchHeap(false)
    val v0 = System.nanoTime()
    val verified = workload.verify(ctx)
    System.err.println(f"[perfbench] timed passes done; verified in ${(System.nanoTime() - v0) / 1e9}%.1f s")

    val json = Json.obj(
      "setup_s" -> setupS,
      "passes" -> timed.map(passJson),
      "traced_passes" -> tracedPasses,
      "traced_only" -> tracedOnly.map(s => Json.obj(
        "name" -> s.name, "seconds" -> s.seconds, "error" -> s.error,
        "memo_reads" -> s.counts("memo_reads"), "counts" -> s.counts)),
      "verify" -> verified,
      "oracles" -> Workloads.oracles(workload.jobs ++
        (if (traced) workload.tracedOnly else Nil)))
    Files.writeString(Paths.get(o("result")), json.json)
    spark.stop()
  }

  private def sampleJson(s: Main.Sample): Json.Raw = Json.obj(
    "name" -> s.name, "seconds" -> s.seconds, "error" -> s.error,
    "memo_reads" -> s.counts("memo_reads"))

  private def passJson(p: Pass): Json.Raw = {
    val s = p.samples
    def sum(k: String) = s.map(_.counts.getOrElse(k, 0.0)).sum
    Json.obj(
      "batch_s" -> s.map(_.seconds).sum,
      "cpu_s" -> sum("cpu_ns") / 1e9,
      "bytes_written_mb" -> sum("wchar") / 1e6,
      "heap_after_gc_peak_mb" -> p.heapMb,
      "jobs" -> s.map(sampleJson))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer figures of one traced pass. */
  private def layers(s: Seq[Sample], t: Trace, dataDir: String): Json.Raw = {
    def sum(k: String) = s.map(_.counts.getOrElse(k, 0.0)).sum
    def secs(p: String => Boolean) = s.filter(j => p(j.name)).map(_.seconds)
    val wall = s.map(_.seconds).sum
    val windows = s.map(_.windowMs)
    val inJobs = Trace.coveredMs(t.jobIntervals(), windows) / 1e3
    val outside = math.max(0.0, wall - inJobs)
    val days = s.filter(_.name.startsWith("ods_day_"))
    val counters = Seq("spark.jobs", "spark.stages", "spark.tasks",
      "spark.executor_run_s", "spark.executor_cpu_s", "spark.scan_mb",
      "spark.shuffle_read_mb", "spark.shuffle_write_mb",
      "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
      "streaming.batches", "streaming.input_rows", "streaming.trigger_s",
      "streaming.add_batch_s", "streaming.query_planning_s",
      "streaming.wal_commit_s", "streaming.commit_offsets_s")
    // operator jobs: inside direct (staged) operator calls vs. inside the
    // registered queries, whose inputs sit under smallCutoff
    val opJobs = Workloads.opFrames.flatMap { case (op, _, _) =>
      val k = s"ops.${op}_jobs"
      val (direct, viaQueries) = s.partition(_.name == op)
      Seq(k -> direct.map(_.counts.getOrElse(k, 0.0)).sum,
        s"ops.${op}_small_jobs" -> viaQueries.map(_.counts.getOrElse(k, 0.0)).sum)
    }
    val m = counters.map(k => k -> sum(k)) ++ opJobs ++ Seq(
      "batch_s" -> wall,
      "spark.job_s" -> inJobs,
      "driver.build_s" -> sum("build_s"),
      "driver.outside_jobs_s" -> outside,
      "driver.outside_jobs_frac" -> (if (wall > 0) outside / wall else 0.0),
      "core.staged_writes" -> sum("staged_writes"),
      "core.memo_reads" -> sum("memo_reads"),
      "core.job_s" -> sum("module.core.job_s"),
      "core.output_mb" -> sum("module.core.output_mb"),
      "ops.two_phase_runs" -> sum("two_phase_runs"),
      "etl.ods_merge_s" -> median(days.map(_.seconds)),
      "etl.ods_merge_max_s" -> (0.0 +: days.map(_.seconds)).max,
      "etl.write_amp" -> median(days.map(d => d.counts.getOrElse("spark.output_mb", 0.0) /
        Workloads.NightlyBatch.stagingMb(dataDir, d.name.stripPrefix("ods_day_").toInt))),
      "trgx.mlvar_s" -> secs(_ == "mlvar_trees").sum,
      "trgx.shift_cut_s" -> secs(_ == "shift_cut").sum,
      "llm.job_s" -> sum("module.llm.job_s"),
      "jvm.gc_s" -> sum("gc_ms") / 1e3) ++
      Workloads.opFrames.map(f => s"ops.${f._1}_s" -> secs(_ == f._1).sum) :+
      ("jobs" -> s.map(sampleJson))
    Json.obj(m: _*)
  }
}

/** Just enough JSON for the result file. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(json: String)
  def quote(s: String): String = graft.core.Json.quote(s)
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(j) => j
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).json
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}"))
}
