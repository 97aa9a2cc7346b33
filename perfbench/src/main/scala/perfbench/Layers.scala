package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import perfbench.Census.{Job, Snapshot, Task}
import perfbench.Tracer.Span

/** Per-layer metrics of one traced pass, from its spans and the census.
  *
  * The layers are the engine's modules. A span name is `<layer>.<call>`;
  * its seconds become `<layer>.<call>_s`. Jobs are attributed to spans by
  * job group, and within a span to a module by their call site (the
  * source file of the first engine frame that ran the action).
  */
object Layers {
  val QueryIds: Seq[String] = IterativeQueries.Queries.map(_.takeWhile(_ != '_'))

  /** Every per-layer metric with its unit; all are reported on every
    * workload, 0 where the workload bypasses the layer.
    */
  val units: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.sched_wait_s" -> "s", "spark.core_busy_frac" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.result_mb" -> "MB", "spark.failed_tasks" -> "count",
    "sources.scan_s" -> "s", "sources.decode_s" -> "s", "sources.write_s" -> "s",
    "sources.write_amp" -> "ratio",
    "core.idx_s" -> "s", "core.split_s" -> "s", "core.get_jobs_per_call" -> "count",
    "core.get_input_mb_per_call" -> "MB", "core.get_p50_ms" -> "ms", "core.get_p95_ms" -> "ms",
    "functions.fit_s" -> "s", "functions.fit_jobs" -> "count", "functions.chain_s" -> "s",
    "operators.gates_s" -> "s", "operators.exact_dedup_s" -> "s",
    "operators.neardup_s" -> "s", "operators.neardup_jobs" -> "count",
    "operators.xval_s" -> "s", "operators.export_s" -> "s",
    "operators.neardup_candidates" -> "count", "operators.neardup_removed" -> "count",
    "operators.lsh_useful_frac" -> "ratio",
    "trace.traced_wall_s" -> "s", "trace.overhead_s" -> "s", "trace.self_sum_s" -> "s",
    "peak_rss_mb" -> "MB", "fail_frac" -> "ratio") ++
    QueryIds.flatMap(q => Seq(s"SparkEntry.$q.wall_s" -> "s",
      s"SparkEntry.$q.plan_s" -> "s", s"SparkEntry.$q.jobs" -> "count"))

  private val MB = 1e6

  /** Source file name → engine module, from the source tree under `src`. */
  def modules(src: String): Map[String, String] = {
    val root = Paths.get(src)
    if (!Files.isDirectory(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val rel = root.relativize(p)
        p.getFileName.toString -> (if (rel.getNameCount > 1) rel.getName(0).toString else "SparkEntry")
      }.toMap
  }

  private def siteFile(site: String): String =
    site.split(" at ", 2).lift(1).map(_.takeWhile(_ != ':')).getOrElse("")

  def apply(spans: Seq[Span], snap: Snapshot, getCalls: Int, cores: Int, src: String,
      inputBytes: Double): Map[String, Double] = {
    val byName = spans.groupBy(_.name)
    val fileModule = modules(src)
    def secs(name: String): Double = byName.getOrElse(name, Nil).map(_.seconds).sum
    def groups(name: String): Set[String] =
      byName.getOrElse(name, Nil).flatMap(s => Tracer.subtree(spans, s.id))
        .map(id => s"${spans(id).runId}/$id").toSet
    def jobs(name: String): Vector[Job] = { val g = groups(name); snap.jobs.filter(j => g(j.group)) }
    def tasks(name: String): Vector[Task] = { val g = groups(name); snap.tasks.filter(t => g(t.group)) }
    def jobSecs(js: Seq[Job]): Double = js.map(_.seconds).sum

    val pass = byName("pass").head
    val wall = pass.seconds
    val pj = jobs("pass")
    val pt = tasks("pass")
    val passGroups = groups("pass")
    val fitJobs = jobs("sources.prepare_feat").filter(j => fileModule.get(siteFile(j.site)).contains("functions"))
    val taskRun = pt.map(_.runMs).sum / 1e3
    val self = Tracer.selfSeconds(spans)
    val perCall = if (getCalls == 0) 0.0 else 1.0 / getCalls

    val m = Map(
      "spark.jobs" -> pj.size.toDouble,
      "spark.stages" -> snap.stages.count(passGroups).toDouble,
      "spark.tasks" -> pt.size.toDouble,
      "spark.driver_gap_s" -> Snapshot(pj, pt, snap.stages).idleSeconds(pass.startMs, pass.endMs),
      "spark.task_run_s" -> taskRun,
      "spark.task_cpu_s" -> pt.map(_.cpuNs).sum / 1e9,
      "spark.sched_wait_s" -> pt.map(_.waitMs).sum / 1e3,
      "spark.core_busy_frac" -> taskRun / (wall * cores),
      "spark.shuffle_write_mb" -> pt.map(_.shuffleWrite).sum / MB,
      "spark.shuffle_read_mb" -> pt.map(_.shuffleRead).sum / MB,
      "spark.spill_mb" -> pt.map(_.spill).sum / MB,
      "spark.result_mb" -> pt.map(_.result).sum / MB,
      "spark.failed_tasks" -> pt.count(_.failed).toDouble,
      "sources.scan_s" -> secs("sources.scan"),
      "sources.decode_s" -> secs("sources.decode"),
      "sources.write_s" -> jobSecs(pj.filter(_.site.startsWith("parquet at "))),
      "sources.write_amp" -> (if (inputBytes > 0) pt.map(_.output).sum / inputBytes else 0.0),
      // positional indexing: DabDataset's zipWithIndex runs its count job
      // from `df.rdd`, inside a query execution
      "core.idx_s" -> jobSecs(pj.filter(j => j.site.startsWith("zipWithIndex at ") ||
        j.site.startsWith("rdd at DabDataset.scala"))),
      "core.split_s" -> secs("core.split"),
      "core.get_jobs_per_call" -> jobs("core.get").size * perCall,
      "core.get_input_mb_per_call" -> tasks("core.get").map(_.input).sum / MB * perCall,
      "functions.fit_s" -> jobSecs(fitJobs),
      "functions.fit_jobs" -> fitJobs.size.toDouble,
      "functions.chain_s" -> secs("functions.chain"),
      "operators.gates_s" -> secs("operators.gates"),
      "operators.exact_dedup_s" -> secs("operators.exact_dedup"),
      "operators.neardup_s" -> secs("operators.neardup"),
      "operators.neardup_jobs" -> jobs("operators.neardup").size.toDouble,
      "operators.xval_s" -> secs("operators.xval"),
      "operators.export_s" -> secs("operators.export"),
      "trace.self_sum_s" -> Tracer.subtree(spans, pass.id).toSeq.map(self).sum) ++
      QueryIds.flatMap { q =>
        Seq(s"SparkEntry.$q.wall_s" -> secs(s"SparkEntry.$q"),
          s"SparkEntry.$q.plan_s" -> secs(s"SparkEntry.$q.plan"),
          s"SparkEntry.$q.jobs" -> jobs(s"SparkEntry.$q").size.toDouble)
      }
    units.map(_._1).map(k => k -> 0.0).toMap ++ m
  }
}
