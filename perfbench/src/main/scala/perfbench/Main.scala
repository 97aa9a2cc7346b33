package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Extraction, Formats, JDouble, JNull}
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run in one JVM: set up, warm, measure, write the record.
  *
  *   --workload W --seed N --seconds S --trace 0|1 --input DIR --out DIR --src DIR
  *
  * Set-up ends after one warm pass. Untraced (--trace 0): timed passes, at
  * least [[TimedPasses]], until S seconds have elapsed; the record carries
  * the end-to-end metrics, `wall_s` as the median pass. Traced (--trace 1):
  * [[TimedPasses]] untraced passes, then one traced pass with spans and the
  * [[Census]], then the workload's probes; the record carries the
  * per-layer metrics and the tracing overhead against the untraced median. The record goes
  * to `<out>/record.json`; stdout is for progress only.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmToMainS = uptimeS()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = a("out")
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(out))

    val envPre = Env.stamp(cores)
    val envPreS = uptimeS() - jvmToMainS

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val census = if (trace) Some(new Census(spark.sparkContext)) else None
    val runId = s"$workload-$seed-${System.currentTimeMillis()}"
    val c = new Ctx(spark, new Tracer(spark, enabled = false, runId), a("input"), out, seed)
    val w = Workload(workload, a("input"))
    w.setup(c)
    // the first pass after JVM start runs at about half of steady speed
    val warmS = Seq.fill(WarmPasses)(w.pass(c, dump = false))
    // JVM start to ready, less the environment stamp (the benchmark's own work)
    val setupS = uptimeS() - envPreS
    c.getMs.clear()

    val walls = ArrayBuffer.empty[Double]
    var perLayer = Map.empty[String, Double]
    var traceRecord = Map.empty[String, Any]
    if (!trace) {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      // the pass expected to be the last one also writes the check outputs
      var dumped = false
      while (walls.size < TimedPasses || elapsed < seconds) {
        val last = walls.size + 1 >= TimedPasses &&
          elapsed + walls.lastOption.getOrElse(warmS.last) >= seconds
        walls += w.pass(c, dump = last)
        println(f"pass ${walls.size}: ${walls.last}%.3f s")
        dumped ||= last
      }
      if (!dumped) w.pass(c, dump = true)
    } else {
      walls ++= Seq.fill(TimedPasses)(w.pass(c, dump = false))
      val untraced = Stats.median(walls.toVector)
      val cen = census.get
      cen.drain(); cen.reset()
      val before = c.getMs.size
      c.tr = new Tracer(spark, enabled = true, runId)
      val traced = w.pass(c, dump = true)
      val probes = w.probes(c)
      val tracedGets = c.getMs.drop(before).toVector
      val snap = cen.snapshot()
      val inputBytes = w.describe.get("input_bytes").fold(0.0)(_.toString.toDouble)
      perLayer = Layers(c.tr.spans.toSeq, snap, tracedGets.size, cores, a("src"), inputBytes) ++
        probes ++ Map(
          "core.get_p50_ms" -> Stats.quantile(tracedGets, 0.50),
          "core.get_p95_ms" -> Stats.quantile(tracedGets, 0.95),
          "trace.traced_wall_s" -> traced,
          "trace.overhead_s" -> (traced - untraced))
      traceRecord = Map(
        "spans" -> c.tr.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "run" -> s.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)),
        "jobs" -> snap.jobs.map(j => Map("id" -> j.id, "group" -> j.group, "site" -> j.site,
          "seconds" -> j.seconds, "ok" -> j.ok)))
    }
    val peakRss = Env.peakRssMb()
    val heapMb = Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0)
    spark.stop()
    val envPost = Env.stamp(cores)

    val gets = c.getMs.toVector
    if (trace) perLayer ++= Map("peak_rss_mb" -> peakRss,
      "fail_frac" -> (if (c.attempted == 0) 0.0 else c.failed.toDouble / c.attempted))
    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "heap_mb" -> heapMb, "input" -> w.describe,
      "setup" -> Map("setup_s" -> setupS, "jvm_to_main_s" -> jvmToMainS,
        "env_stamp_s" -> envPreS, "warm_passes_s" -> warmS),
      "pass_walls_s" -> walls.toVector, "get_samples" -> gets.size,
      "get_ms" -> gets,
      "ops" -> Map("attempted" -> c.attempted, "failed" -> c.failed, "errors" -> c.errors.take(20)),
      "env_pre" -> envPre, "env_post" -> envPost,
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "wall_s" -> Stats.median(walls.toVector),
        "peak_rss_mb" -> peakRss),
      "reads" -> Map(
        "get_p50_ms" -> Stats.quantile(gets, 0.50),
        "get_p95_ms" -> Stats.quantile(gets, 0.95)),
      "per_layer" -> perLayer, "trace" -> traceRecord,
      "units" -> (Layers.units ++ Seq("setup_s" -> "s", "wall_s" -> "s",
        "get_p50_ms" -> "ms", "get_p95_ms" -> "ms")).toMap)
    Files.write(Paths.get(out, "record.json"), Json.write(record).getBytes("UTF-8"))
    println(s"perfbench: $workload seed=$seed trace=$trace passes=${walls.size} done")
  }

  val WarmPasses = 1
  /** The pass after the warm one is still 10–25% slower than later ones,
    * and by how much varies; `wall_s` is the median over at least two.
    */
  val TimedPasses = 2

  private def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); 0 when empty, as for
    * a layer the workload bypasses.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
}

object Json {
  /** Maps, sequences and scalars through json4s; NaN and infinities, which
    * JSON cannot hold, become null.
    */
  def write(x: Any): String = {
    implicit val fmt: Formats = DefaultFormats
    compact(render(Extraction.decompose(x).transform {
      case JDouble(d) if d.isNaN || d.isInfinite => JNull
    }))
  }
}
