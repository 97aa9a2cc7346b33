package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Extra args beyond (sfDir, outDir) name a query subset — used by the
  * ScaleUp gate to re-check float/decimal-sensitive queries at 10×
  * without paying for the full suite.
  */
object Verify {
  /** The named queries (none = all); an unknown name fails, named. */
  def subset(names: Seq[String]): Set[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains).distinct
    require(unknown.isEmpty, s"Verify names unknown queries: ${unknown.sorted.mkString(",")}")
    names.toSet
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val subset: Set[String] = this.subset(args.drop(2).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // invariance-audit knobs (COVERAGE.md): the same board must produce
    // identical values under different shuffle fan-outs and with AQE on
    // or off — cluster-like configs, exercised by the r13 audit
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_AQE").foreach(v =>
      builder.config("spark.sql.adaptive.enabled", v))
    // the 2000-partition audit config needs headroom for memory-sink
    // collects (720 tasks' serialized results > the 1g default on q82)
    sys.env.get("SPARK_GRAFT_MAX_RESULT_SIZE").foreach(v =>
      builder.config("spark.driver.maxResultSize", v))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed += name -> String.valueOf(e.getMessage)
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    // A query that THROWS leaves no output dir, and a per-name compare
    // would silently omit it — recording an all-green round over a
    // shrunken query set (exactly the round-8 TIMESTAMP_NTZ incident).
    // Persist the failure list next to the outputs so any consumer can
    // (and tools/check_oracle.py does) fail the gate on omissions, and
    // exit non-zero so scripted runs can't miss it.
    val errJson = "{\"full\": " + (subset.isEmpty: Boolean) +
      ", \"failed\": " + jsonObject(failed) + "}"
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    println(s"VERIFY_FAILED=${failed.size}" +
      (if (failed.isEmpty) "" else failed.map(_._1).mkString(" [", ",", "]")))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** `oracle_sql.json`: every registered query's name → DuckDB SQL. */
  def oracleJson: String = jsonObject(SparkEntry.oracleSql)

  /** A JSON object of string members. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR in oracle SQL would otherwise
    * make the compare's json.load fail and silently zero the round's
    * correctness.
    */
  private def jsonObject(members: Iterable[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    members.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
