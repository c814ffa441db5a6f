package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Tables
import graft.etl.Pipelines
import graft.llm.Dedup
import graft.ops.{Apportion, Graph}
import graft.streaming.StreamOps

/** What a job can do while it runs: build its result frame (timed as
  * driver build time) and write it where the correctness check reads it. */
final class JobCtx(val spark: SparkSession, val dataDir: String,
                   val outDir: String, meters: Meters,
                   onBuilt: DataFrame => Unit) {
  def build(f: => DataFrame): DataFrame = {
    val df = meters.building(f)
    onBuilt(df)
    df
  }

  /** Materialize `df` as the job's published result (one file, row
    * order kept, as the repository's own correctness dump writes it). */
  def publish(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
}

/** One unit of the batch: a registered query, one ODS day, one operator.
  * `oracle` marks a registered query whose output its DuckDB oracle twin
  * checks. */
final case class Job(name: String, module: String, run: JobCtx => Unit,
                     oracle: Boolean = false)

/** A workload: its job mix, a hook that restores the starting state
  * before every pass (outside every timing window), and the checks the
  * JVM itself runs after the timed passes. */
trait Workload {
  def jobs: Seq[Job]
  def beforePass(ctx: JobCtx): Unit = ()
  /** name -> None (output verified) or Some(reason). */
  def verify(ctx: JobCtx): Map[String, Option[String]] = Map.empty
  /** Extra work timed once, in the traced run only. */
  def tracedOnly: Seq[Job] = Nil
}

object Workloads {
  private def queryJob(name: String, module: String): Job =
    Job(name, module, ctx =>
      ctx.publish(name, ctx.build(SparkEntry.queries(name)(ctx.spark,
        ctx.dataDir))), oracle = true)

  /** The nightly warehouse batch: standalone report queries over the
    * star tables, then the bolome ODS load — a day-by-day merge, mlvar
    * trees and shift-cut features over the result, a registered bolome
    * query. Every pass starts from the same day-0 ODS. */
  object NightlyBatch extends Workload {
    /** The report at the time-weighted median of the standalone report
      * batch (perfbench/README.md): a staged sliding score over the
      * orders star, a config join and a report reshape. */
    val reports = Seq("report_channel_metrics_opportunity")
    val bolome = Seq("model_debut")
    val days = 1
    private def live(ctx: JobCtx) = s"${ctx.outDir}/ods_live"
    private def rng(ctx: JobCtx) = s"${ctx.outDir}/ods_rng"

    override def beforePass(ctx: JobCtx): Unit = {
      Seq(live(ctx), rng(ctx), live(ctx) + "__staged",
          live(ctx) + "__replaced").foreach(StreamOps.deletePath(ctx.spark, _))
      val day0 = Paths.get(s"${ctx.dataDir}/ods/day_0")
      Files.createDirectories(Paths.get(live(ctx)))
      Files.list(day0).forEach(f =>
        Files.copy(f, Paths.get(live(ctx)).resolve(f.getFileName)))
    }

    private def dayJob(d: Int) = Job(s"ods_day_$d", "etl", ctx =>
      Pipelines.odsMerge(ctx.spark,
        ctx.spark.read.parquet(s"${ctx.dataDir}/ods/stg_$d"), live(ctx),
        Seq("okey"), Seq("custkey", "status", "price", "dt"), "dw_id",
        "okey", "dt", rng(ctx)))

    private val mlvar = Job("mlvar_trees", "trgx", ctx => {
      val ods = ctx.spark.read.parquet(live(ctx))
      ctx.publish("mlvar_trees", ctx.build(Pipelines.mlvarUserOrderTrees(
        ods, "custkey", Seq("dt", "okey"), Seq("price"))))
    })

    private val shiftCut = Job("shift_cut", "trgx", ctx => {
      val trees = ctx.spark.read.parquet(s"${ctx.outDir}/mlvar_trees")
      ctx.publish("shift_cut", ctx.build(Pipelines.shiftCutFeatures(
        trees, "custkey", asOf, 30, 3, "price")))
    })

    /** Shift-cut anchor: the last staging day. */
    val asOf: String = java.time.LocalDate.parse("2016-01-01")
      .plusDays(days - 1L).toString

    /** Size on disk of day `d`'s staging batch. */
    def stagingMb(dataDir: String, d: Int): Double =
      new java.io.File(s"$dataDir/ods/stg_$d").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum / 1e6

    val jobs: Seq[Job] = reports.map(queryJob(_, "rpt")) ++
      (1 to days).map(dayJob) ++ Seq(mlvar, shiftCut) ++
      bolome.map(queryJob(_, "queries"))
    /** 31 report pipelines over one shared star: too variable pass to
      * pass to gate on, so it is timed once, traced. */
    override def tracedOnly: Seq[Job] = Seq(queryJob("report_family_full", "rpt"))
  }

  /** The corpus layer on both sides of `smallCutoff`: registered link,
    * dedup and streaming queries whose inputs sit under every
    * driver-replica gate, then graph and apportion operators called
    * directly on inputs above the library's default gate, so they run
    * the staged DataFrame loop. */
  object CorpusGraph extends Workload {
    val corpus = Seq("link_pagerank" -> "ops", "dedup_exact" -> "llm",
      "streaming_rng_ingest" -> "streaming")

    /** operator metric name -> (call at a given smallCutoff). */
    val ops: Seq[(String, (JobCtx, Long) => DataFrame)] = Seq(
      "page_rank" -> ((c, cut) =>
        Graph.pageRankScaled(edges(c), "src", "dst", 2, cut)),
      "hits" -> ((c, cut) => Graph.hitsScaled(edges(c), "src", "dst", 1, cut)),
      "label_propagation" -> ((c, cut) =>
        Graph.labelPropagationCommunities(edges(c), "src", "dst", 1,
          smallCutoff = cut)),
      "connected_components" -> ((c, cut) =>
        Dedup.connectedComponents(
          edges(c).select(col("src").as("id1"), col("dst").as("id2")),
          smallCutoff = cut)),
      "largest_remainder" -> ((c, cut) =>
        Apportion.largestRemainder(shares(c), Seq("k"), "w", 1000000L, cut)),
      "capped_largest_remainder" -> ((c, cut) =>
        Apportion.cappedLargestRemainder(shares(c), Seq("k"), "w", "cap",
          1000000L, cut)))
    /** The library's default gate: inputs above it take the staged loop. */
    val stagedCutoff = 100000L

    private def edges(c: JobCtx) = c.spark.read.parquet(s"${c.dataDir}/graph/edges")
    private def shares(c: JobCtx) = c.spark.read.parquet(s"${c.dataDir}/graph/shares")

    private val timedOps = Set("largest_remainder")
    private val opJobs = ops.map { case (n, f) =>
      Job(n, "ops", ctx => ctx.publish(n, ctx.build(f(ctx, stagedCutoff))))
    }
    val jobs: Seq[Job] = corpus.map { case (n, m) => queryJob(n, m) } ++
      opJobs.filter(j => timedOps(j.name))
    /** The slower staged loops run once, traced, so their layers show. */
    override def tracedOnly: Seq[Job] = opJobs.filterNot(j => timedOps(j.name))

    /** Each staged result must equal the operator's exact driver replica
      * on the same input (smallCutoff = Long.MaxValue). */
    override def verify(ctx: JobCtx): Map[String, Option[String]] =
      ops.filter(op => new java.io.File(s"${ctx.outDir}/${op._1}").exists)
        .map { case (n, f) =>
          n -> (try {
            val staged = ctx.spark.read.parquet(s"${ctx.outDir}/$n")
            val replica = f(ctx, Long.MaxValue)
              .select(staged.columns.map(col).toSeq: _*)
            val extra = staged.exceptAll(replica).count()
            val missing = replica.exceptAll(staged).count()
            if (extra + missing == 0) None
            else Some(s"$extra rows only staged, $missing only in replica")
          } catch { case e: Exception => Some(Meters.brief(e)) })
        }.toMap
  }

  /** Tracked operators: metric name, defining object, method prefix. */
  val opFrames: Seq[(String, String, String)] = Seq(
    ("page_rank", "graft.ops.Graph$", "pageRank"),
    ("hits", "graft.ops.Graph$", "hits"),
    ("label_propagation", "graft.ops.Graph$", "labelPropagation"),
    ("connected_components", "graft.llm.Dedup$", "connectedComponents"),
    ("largest_remainder", "graft.ops.Apportion$", "largestRemainder"),
    ("capped_largest_remainder", "graft.ops.Apportion$", "cappedLargestRemainder"))

  val all: Map[String, Workload] = Map(
    "nightly_batch" -> NightlyBatch, "corpus_graph" -> CorpusGraph)

  /** Oracle SQL for every registered query the run executed. */
  def oracles(jobs: Seq[Job]): Map[String, String] =
    jobs.filter(_.oracle).map(j => j.name -> SparkEntry.oracleSql(j.name)).toMap

  /** Reset per-job state the library keeps between calls. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Tables.clearStaged()
    Tables.clearMemo()
    System.gc()
  }
}
