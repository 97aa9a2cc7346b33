package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-layout helpers for the 100 TB posture: bucketed and
  * partitioned table layouts that let repeated joins/aggregations on the
  * same key run shuffle-free (SURVEY §2.3 "co-located joins via
  * bucketing").
  *
  * Bucketing writes each table pre-hashed into N buckets on the join key;
  * a join of two tables bucketed the same way needs NO Exchange on either
  * side — at cluster scale that removes the dominant cost of fact-fact
  * joins that recur per pipeline run (e.g. lineitem ⋈ orders in every
  * revenue query, or doc ⋈ doc-features in a training pipeline).
  */
object Layout {

  /** Drop a managed table AND its warehouse directory. A fresh session's
    * catalog does not know tables whose location survived a prior JVM
    * (file-backed warehouse, in-memory catalog), so Overwrite alone fails
    * with LOCATION_ALREADY_EXISTS — the orphaned directory must go too.
    */
  def dropTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = try new java.net.URI(wh).getPath catch { case _: Exception => wh }
    val dir = new java.io.File(path, table)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
      f.delete(); ()
    }
    if (dir.exists) rm(dir)
  }

  /** Persist `df` as a bucketed+sorted managed table on `key`, replacing
    * any previous table or orphaned location of the same name.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    dropTable(df.sparkSession, table)
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Join two co-bucketed tables on their bucket key — plans as a
    * sort-merge join with zero shuffle when both sides share bucket
    * count/key.
    */
  def colocatedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Partitioned-directory layout (partition pruning for selective scans):
    * one directory per distinct value of `partCol`.
    */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)

  /** Z-order clustering key for two dimensions: bucket each dimension
    * to 16 bits (value DIV `xStep` / `yStep`, modulo 2^16) and Morton-
    * interleave via the native [[graft.plans.MortonInterleave]]
    * expression. Range-partitioning + sorting a table by `zkey` before
    * writing gives every output file bounded min/max in BOTH
    * dimensions, so parquet row-group skipping prunes on either filter
    * column — the multi-dimension layout story a compound sort cannot
    * deliver for the trailing column.
    */
  /** Bloom-filtered join: build a Bloom filter over the small side's
    * join keys, broadcast it, and drop non-matching big-side rows
    * BEFORE the join's shuffle — the explicit runtime-filter semi-join
    * reduction. False positives survive the filter and die in the
    * actual join, so the result is EXACTLY the inner join.
    *
    * When it pays: the small side is too large to broadcast-hash-join
    * row-for-row (100s of MB) but its key set fits a few MB of Bloom
    * bits — the big side then sheds (1 − selectivity) of its shuffle
    * volume map-side. With a truly small side Spark broadcasts anyway
    * and this adds nothing; with AQE's own runtime bloom injection
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) this is the
    * deterministic, always-on form of the same plan. Keys are longs;
    * `fpp` trades bitset size vs wasted shuffle.
    */
  def bloomFilteredJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, fpp: Double = 0.01): DataFrame = {
    val n = small.count()
    // empty build side: Spark's BloomFilterAggregate yields a null
    // buffer over zero rows and .stat.bloomFilter NPEs deserializing
    // it — and no screen is needed anyway, the inner join is empty by
    // construction (broadcast prunes the big side fast)
    if (n == 0L) {
      return big.join(
        org.apache.spark.sql.functions.broadcast(small),
        org.apache.spark.sql.functions.col(bigKey) ===
          org.apache.spark.sql.functions.col(smallKey))
    }
    val bf = small.stat.bloomFilter(smallKey, math.max(n, 1L), fpp)
    val bc = big.sparkSession.sparkContext.broadcast(bf)
    val mightU = org.apache.spark.sql.functions.udf(
      (k: Long) => bc.value.mightContainLong(k))
    big.filter(mightU(org.apache.spark.sql.functions.col(bigKey)))
      .join(small, org.apache.spark.sql.functions.col(bigKey) ===
        org.apache.spark.sql.functions.col(smallKey))
  }

  def zorderKey(x: org.apache.spark.sql.Column, xStep: Long,
      y: org.apache.spark.sql.Column, yStep: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    graft.plans.GraftExtensions.mortonNative(
      pmod(floor(x / xStep).cast("long"), lit(65536L)),
      pmod(floor(y / yStep).cast("long"), lit(65536L)))
  }

  /** Re-layout `df` clustered by the Z-value of two dimensions: range-
    * partition on `zkey` (one skew-aware shuffle — range bounds come
    * from Spark's reservoir sampling) and sort within partitions, so a
    * subsequent parquet write emits files whose per-file min/max are
    * tight rectangles in (x, y) space.
    */
  def zorderBy(df: DataFrame, xCol: String, xStep: Long,
      yCol: String, yStep: Long, numFiles: Int = 32): DataFrame = {
    import org.apache.spark.sql.functions.col
    val keyed = df.withColumn("_zkey",
      zorderKey(col(xCol), xStep, col(yCol), yStep))
    keyed.repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
  }

  /** Zone maps of a layout: deterministic "files" = `numFiles`
    * equal-width ranges of the OCCUPIED key span — width = (max−min)
    * DIV numFiles + 1, file = (key−min) DIV width — so the cut adapts
    * to any scale factor (a fixed 2³²-based width degenerates to one
    * file when the data covers a corner of the key space) yet stays
    * exactly replayable in any engine, unlike reservoir-sampled range
    * bounds. Each file carries row count and per-dim min/max — the
    * parquet footer stats a data-skipping scan planner reads. One
    * min/max agg (1×1 cross join) + one partial-agg'd groupBy(file);
    * ≤ numFiles rows out.
    */
  def zoneMaps(df: DataFrame, keyCol: String, xCol: String, yCol: String,
      numFiles: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions._
    val ext = df.agg(min(keyCol).as("_kmin"), max(keyCol).as("_kmax"))
    df.crossJoin(ext)
      .withColumn("_file", expr(
        s"($keyCol - _kmin) DIV ((_kmax - _kmin) DIV $numFiles + 1)"))
      .groupBy("_file")
      .agg(count(lit(1)).as("n_rows"),
        min(xCol).as("min_x"), max(xCol).as("max_x"),
        min(yCol).as("min_y"), max(yCol).as("max_y"))
  }

  /** Pruning stats of a rectangular predicate against a [[zoneMaps]]
    * table: ONE row (n_files, files_scanned, rows_total, rows_scanned)
    * — a file is scanned iff its (min, max) box overlaps the query
    * box, exactly the parquet row-group skipping rule. Comparing this
    * row across layouts of the SAME data (compound sort vs Z-order vs
    * Hilbert) measures what the layout is worth before any rewrite
    * ships.
    */
  def boxScanStats(zones: DataFrame, loX: Long, hiX: Long,
      loY: Long, hiY: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val hit = col("min_x") <= hiX && col("max_x") >= loX &&
      col("min_y") <= hiY && col("max_y") >= loY
    zones.agg(count(lit(1)).as("n_files"),
      sum(when(hit, 1L).otherwise(0L)).as("files_scanned"),
      sum("n_rows").as("rows_total"),
      sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_scanned"))
  }

  /** Rendezvous (highest-random-weight) shard of an id among `k`
    * shards: argmax over s of splitmix64(id ⊕ GOLD·(s+1)), ties to the
    * smaller s. The consistent-sharding rule behind export/compaction
    * layouts: when k grows to k′, ONLY ids whose argmax lands on a new
    * shard move (expected (k′−k)/k′ of rows) — no mass reshuffle, no
    * ring metadata. Seeds mix by XOR, not +, so ANSI overflow checking
    * never trips. All comparisons are signed-long, engine-identical.
    */
  def rendezvousShard(id: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(k >= 1 && k <= 1024, "rendezvousShard wants 1 <= k <= 1024")
    val Gold = BigInt("9e3779b97f4a7c15", 16)
    val Mask = (BigInt(1) << 64) - 1
    val cands = (0 until k).map { s =>
      val seed = ((Gold * (s + 1)) & Mask).toLong
      struct(graft.plans.GraftExtensions
        .splitmix64Native(id.bitwiseXOR(lit(seed))).as("h"),
        lit(-s).as("ns"))
    }
    (-greatest(cands: _*).getField("ns")).cast("long")
  }

  /** Shard-migration report for a rendezvous resize `kFrom` → `kTo`:
    * one row per NEW shard — population, how many rows arrived from a
    * different old shard, and (sanity) rows whose old shard id ≥ kFrom
    * (impossible; always 0). The movement total divided by the corpus
    * is the consistent-hashing guarantee: ≈ (kTo−kFrom)/kTo, never a
    * full reshuffle. One scan, one k-bounded aggregate.
    */
  def shardMigration(df: DataFrame, idCol: String, kFrom: Int,
      kTo: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(col(idCol).cast("long").as("_id"))
      .withColumn("_from", rendezvousShard(col("_id"), kFrom))
      .withColumn("_to", rendezvousShard(col("_id"), kTo))
      .groupBy(col("_to").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_from") =!= col("_to"), 1L).otherwise(0L))
          .as("n_moved_in"))
  }

  /** Zone-map (min/max data-skipping) effectiveness of a layout: with
    * rows placed into buckets by `bucketCol` (the layout under test),
    * how many ordered bucket PAIRS have overlapping [min, max] ranges
    * of `valCol` — the fraction of the table a min/max-pruned point
    * or range query on `valCol` cannot skip. 0 ≈ perfectly clustered
    * (sorted layout: only adjacent boundary overlaps); → 1 ≈ every
    * file must be read (hash layout). Exact integers; the rate is one
    * Q9 floor division over B·(B−1).
    *
    * This is the measurement BEHIND the repo's layout advice: run it
    * on candidate partition keys before committing a 100 TB rewrite.
    *
    * Scale shape: one partial-agg'd groupBy to B (min, max, count)
    * rows; the pair join is B² on that driver-scale table (B = #files
    * / partitions under test, ≤ a few thousand) — never touches rows
    * again.
    */
  def zoneMapOverlap(df: DataFrame, bucketCol: org.apache.spark.sql.Column,
      valCol: org.apache.spark.sql.Column, label: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val z = Dedup.materialize(df
      .select(bucketCol.cast("long").as("_b"), valCol.cast("long").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy("_b")
      .agg(min("_v").as("_lo"), max("_v").as("_hi")))
    val nb = z.agg(count(lit(1)).as("n_buckets"))
    val pairs = z
      .join(z.select(col("_b").as("_b2"), col("_lo").as("_lo2"),
        col("_hi").as("_hi2")),
        col("_b") =!= col("_b2") && col("_lo") <= col("_hi2") &&
          col("_lo2") <= col("_hi"))
      .agg(count(lit(1)).as("n_overlap_pairs"))
    nb.crossJoin(pairs)
      .withColumn("layout", lit(label))
      .withColumn("overlap_q9", when(col("n_buckets") > 1, expr(
        "(CAST(n_overlap_pairs AS DECIMAL(38,0)) * 1000000000) " +
          "DIV (CAST(n_buckets AS DECIMAL(19,0)) * (n_buckets - 1))")))
      .select(col("layout"), col("n_buckets"), col("n_overlap_pairs"),
        col("overlap_q9"))
  }
}
