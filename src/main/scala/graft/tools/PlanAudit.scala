package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{CartesianProductExec,
  ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec,
  WindowGroupLimitExec}

import graft.{SparkEntry, Tables}

/** Structural plan audit — the standing scale gate (r12 verdict #2).
  *
  * [[violations]] walks a query's executed plan (subqueries included)
  * and reports, as human-readable strings:
  *
  *  1. any `CartesianProduct` — never acceptable in this library
  *     (every intentional cross join is against a ≤B-row aggregate or
  *     local table that Catalyst sizes, so it plans as
  *     BroadcastNestedLoopJoin while the broadcast threshold is > 0;
  *     the audit runs at the default threshold);
  *  2. any window operator with an EMPTY partition spec — a global
  *     window moves its whole input through ONE task, the one-executor
  *     sort/OOM at 100 TB (the q266 class of defect) — unless the
  *     query is in [[globalWindowAllow]], the per-query list of
  *     windows over documented BOUNDED tables (cap stated per entry);
  *  3. any shuffle join (sort-merge or shuffled-hash) whose one side
  *     reads ONLY declared dimension tables (region/nation — bounded
  *     at 25/5 rows regardless of scale factor): those must broadcast.
  *
  * `PlanAuditSpec` runs this over EVERY `SparkEntry.queries` entry at
  * sf0.001 on each `sbt test` — a new cartesian or corpus-sized global
  * window fails the suite instead of shipping green — and proves the
  * gate catches the reverted q266 window (the lint-self-test
  * discipline). The `main` remains for ad-hoc shuffle counting.
  */
object PlanAudit {

  /** Queries allowed a partition-less window, each over a documented
    * bounded table — the value states the table and its row cap (the
    * invariant that makes a one-task window acceptable). Anything NOT
    * in this map that plans a global window fails the suite.
    */
  val globalWindowAllow: Map[String, String] = Map(
    "q46_unique_encode" ->
      "dense_rank over DISTINCT c_mktsegment (5 rows)",
    "q65_group_random_kfold" ->
      "row_number over DISTINCT c_nationkey (25 rows)",
    "q121_curation_funnel" ->
      "running product over the per-stage funnel table (4 rows)",
    "q322_curation_costs" ->
      "cumulative drops over the 5-row stage list (q121's window shape)",
    "q176_trailing_revenue" ->
      "RANGE frame over the per-DAY aggregate (calendar-bounded)",
    "q180_skyline" ->
      "prefix-max prune over DISTINCT (price, size) groups (collapsed)",
    "q196_survival_km" ->
      "KM product over DISTINCT event durations (collapsed cells)",
    "q201_km_censored" ->
      "KM product over DISTINCT durations incl. censored (collapsed)",
    "q204_kmv_setops" ->
      "bottom-k rank over KMV sketch rows (<=k=256 per set)",
    "q217_kmv_quantiles" ->
      "rank over the KMV sketch table (<=k=256 rows)",
    "q222_nelson_aalen" ->
      "cumulative hazard over DISTINCT durations (collapsed cells)",
    "q238_budget_sample" ->
      "Hamilton remainder rank over the per-stratum quota table (<=|sources|)",
    "q241_dyadic_quantiles" ->
      "readout over the dyadic histogram sketch (bounded levels*buckets)",
    "q245_equifreq_bins" ->
      "boundary cumsum over DISTINCT values' cell table (collapsed)",
    "q251_decile_lift" ->
      "cum/total windows over the decile table (<=10 rows; ranks are two-phase)",
    "q252_emd_drift" ->
      "CDF cumsum over histogram bins (<=B=24 cells)",
    "q255_stream_emd" ->
      "CDF cumsum over histogram bins (<=B=24 cells, stream-built)",
    "q259_log_rank" ->
      "at-risk cumsum over DISTINCT durations (collapsed cells)",
    "q260_zipf_profile" ->
      "frequency rank over the DISTINCT-count histogram (collapsed)",
    "q277_conformal" ->
      "order-statistic cumsum over DISTINCT residual cells (collapsed)")

  /** Expand a physical plan into every node, descending through AQE
    * wrappers and subquery plans.
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val roots = p +: p.subqueriesAll
    roots.flatMap(_.collect {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case n => Seq(n)
    }.flatten)
  }

  /** Leaf parquet table names (file stem of each scanned path) under a
    * subtree — used to decide whether a join side is dimension-only.
    */
  private def scannedTables(p: SparkPlan): Seq[String] =
    allNodes(p).collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map { rp =>
        val n = rp.getName
        if (n.endsWith(".parquet")) n.stripSuffix(".parquet") else n
      }
    }.flatten

  /** Dimension tables bounded by the schema itself (25 nations, 5
    * regions at every scale factor): a shuffle join against these is
    * always wrong — broadcast them.
    */
  val dimTables: Set[String] = Set("region", "nation")

  def violations(name: String, df: DataFrame): Seq[String] = {
    val nodes = allNodes(df.queryExecution.executedPlan)
    val out = Seq.newBuilder[String]
    nodes.foreach {
      case c: CartesianProductExec =>
        out += s"$name: CartesianProduct in plan (${c.simpleStringWithNodeId()})"
      case w: WindowExec if w.partitionSpec.isEmpty
          && !globalWindowAllow.contains(name) =>
        out += s"$name: partition-less WindowExec (global window over " +
          "unbounded input — the q266 class); allowlist only with a " +
          "documented row cap"
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty
          && !globalWindowAllow.contains(name) =>
        out += s"$name: partition-less WindowGroupLimitExec"
      case j: SortMergeJoinExec =>
        dimOnlySide(name, j.left, j.right).foreach(out += _)
      case j: ShuffledHashJoinExec =>
        dimOnlySide(name, j.left, j.right).foreach(out += _)
      case _ => ()
    }
    out.result()
  }

  private def dimOnlySide(name: String, left: SparkPlan,
      right: SparkPlan): Option[String] =
    Seq(left, right).flatMap { side =>
      val ts = scannedTables(side)
      if (ts.nonEmpty && ts.forall(dimTables.contains))
        Some(s"$name: shuffle join with dimension-only build side " +
          s"(${ts.distinct.mkString(",")}) — broadcast it")
      else None
    }.headOption

  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession("graft-planaudit")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args(0)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    var bad = 0
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      println(s"===== $name =====")
      println("shuffles=" + "Exchange hashpartitioning".r.findAllIn(plan).length +
        " bcastEx=" + "BroadcastExchange".r.findAllIn(plan).length +
        " bhj=" + "BroadcastHashJoin".r.findAllIn(plan).length +
        " bnlj=" + "BroadcastNestedLoopJoin".r.findAllIn(plan).length +
        " smj=" + "SortMergeJoin".r.findAllIn(plan).length +
        " cartesian=" + "CartesianProduct".r.findAllIn(plan).length +
        " wscg=" + """\*\(""".r.findAllIn(plan).length)
      val v = violations(name, df)
      v.foreach(s => println(s"VIOLATION $s"))
      bad += v.size
      if (args.length == 2) println(plan.take(4000))
    }
    println(s"AUDIT_VIOLATIONS=$bad")
    spark.stop()
  }
}
