package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest an LLM document corpus into the engine's canonical
  * `(doc_id: long, text: string, …meta)` shape from the formats corpora
  * actually ship in — JSONL (one JSON object per line, the Common
  * Crawl / HF-datasets convention), CSV, or parquet.
  *
  * Columns: the text field is required (`textField`, default "text";
  * renamed to `text`). If the input carries no usable id column, a
  * stable one is synthesized; how depends on `idStrategy`:
  *
  *  - `"file-ordinal"` (default): `doc_id = xxhash64(file, ordinal of
  *    the row within its file)`. Deterministic for a fixed input layout
  *    regardless of how Spark splits the files, so ids survive re-reads
  *    under different split configs. **ASSUMES A SHARDED CORPUS**: the
  *    per-file ordinal is a `row_number` window partitioned by file
  *    name, so every row of one file passes through one task — fine for
  *    the usual many-shards layout (each shard ≲ a few GB), wrong for a
  *    single monolithic 500 GB jsonl, which funnels the whole input
  *    through one task. The in-file order comes from
  *    `monotonically_increasing_id`, which tracks split order — correct
  *    for line-oriented formats read in order, heuristic in general.
  *  - `"split-ordinal"`: `doc_id = xxhash64(file, split-encoded
  *    ordinal)` where the ordinal is `monotonically_increasing_id`'s
  *    (partition, position) encoding. Pure map-side — no window, no
  *    shuffle — so a single giant file parallelizes across its splits;
  *    the trade is that ids are stable only for a fixed split layout
  *    (same Spark version + `spark.sql.files.maxPartitionBytes` etc.).
  *    Use for monolithic inputs or when ids only need to be unique
  *    within one run.
  *
  * For a dense 0..n−1 id (the reference's `_idx` semantics), wrap the
  * result in `DabDataset.fromDataFrame` instead — one job that
  * materializes the table as an eager stage.
  */
object DocumentSource {

  /** Read `path` as jsonl/csv/parquet (by extension, or `format`
    * override), normalize to (doc_id, text, …rest).
    */
  def read(spark: SparkSession, path: String, textField: String = "text",
      idField: Option[String] = None, format: Option[String] = None,
      idStrategy: String = "file-ordinal"): DataFrame = {
    require(Set("file-ordinal", "split-ordinal").contains(idStrategy),
      s"unknown idStrategy '$idStrategy' (file-ordinal | split-ordinal)")
    val fmt = format.getOrElse {
      val p = path.toLowerCase
      if (p.endsWith(".jsonl") || p.endsWith(".json") || p.endsWith(".jsonl.gz")) "json"
      else if (p.endsWith(".csv") || p.endsWith(".csv.gz")) "csv"
      else "parquet"
    }
    val raw = fmt match {
      case "json" => spark.read.json(path)
      case "csv" => spark.read.option("header", "true").csv(path)
      case _ => spark.read.parquet(path)
    }
    require(raw.columns.contains(textField),
      s"document source $path has no '$textField' column (columns: ${raw.columns.mkString(", ")})")
    val withText =
      if (textField == "text") raw
      else raw.withColumnRenamed(textField, "text")
    idField match {
      case Some(f) =>
        require(withText.columns.contains(f), s"no id column '$f' in $path")
        withText.withColumn("doc_id", col(f).cast("long"))
      case None if idStrategy == "split-ordinal" =>
        // map-side id for monolithic inputs: monotonically_increasing_id
        // encodes (partition, position-in-partition), so hashing it with
        // the file name is unique with no window and no shuffle; each
        // split of a giant file proceeds in parallel
        withText.withColumn("doc_id",
          xxhash64(input_file_name(), monotonically_increasing_id()))
      case None =>
        // split-layout-stable id: hash of (file, row ordinal within
        // file). The per-file window is the sharded-corpus funnel
        // documented in the object scaladoc.
        withText
          .withColumn("_file", input_file_name())
          .withColumn("_ord",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy("_file")
              .orderBy(monotonically_increasing_id())))
          .withColumn("doc_id", xxhash64(col("_file"), col("_ord")))
          .drop("_file", "_ord")
    }
  }
}
