package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Physical layout: bucketed joins must plan without a shuffle on either
  * side; partitioned writes must prune at scan time.
  */
class LayoutSpec extends SparkSpec {

  test("co-bucketed join plans with zero Exchange (shuffle-free)") {
    val li = Tables.lineitem(spark, sf()).select("l_orderkey", "l_quantity")
    val os = Tables.orders(spark, sf()).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Layout.writeBucketed(li, "li_bkt", "l_orderkey", 8)
    Layout.writeBucketed(os, "os_bkt", "l_orderkey", 8)
    // disable broadcast so the join would otherwise shuffle both sides
    try withoutBroadcast {
      val joined = Layout.colocatedJoin(spark, "li_bkt", "os_bkt", "l_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(600))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(300))
      // row count matches the unbucketed join
      val expected = Tables.lineitem(spark, sf()).join(
        Tables.orders(spark, sf()),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS os_bkt")
    }
  }

  test("partitioned write prunes partitions at scan (PartitionFilters)") {
    val path = java.nio.file.Files.createTempDirectory("graft_part").toString + "/docs"
    Layout.writePartitioned(Tables.documents(spark, sf()), path, "lang")
    val q = spark.read.parquet(path).filter(col("lang") === "en")
    q.collect()
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan.take(500))
    // only the en partition contributes
    val full = Tables.documents(spark, sf())
    assert(q.count() == full.filter(col("lang") === "en").count())
  }

  test("bloomFilteredJoin: equals the inner join; bloom prunes map-side") {
    import spark.implicits._
    val big = spark.range(0, 20000)
      .select((col("id") % 1000).as("k"), col("id").as("payload"))
    val small = (0L until 50L).map(i => (i, s"dim$i")).toDF("sk", "name")
    val got = graft.operators.Layout
      .bloomFilteredJoin(big, small, "k", "sk")
      .groupBy("sk").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = big.join(small, col("k") === col("sk"))
      .groupBy("sk").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want && got.size == 50)
    // the bloom itself rejects (nearly all of) the 95% non-matching keys
    val bf = small.stat.bloomFilter("sk", 50, 0.01)
    val passed = (0L until 1000L).count(bf.mightContainLong)
    assert(passed < 100, s"bloom passed $passed of 1000 keys")
  }

  test("bloomFilteredJoin: EMPTY build side is an empty join, not an NPE") {
    // Spark's BloomFilterAggregate returns a null buffer over zero
    // rows and .stat.bloomFilter NPE'd deserializing it — found by the
    // sf0.001 gate where no supplier cleared the q190 filter
    import spark.implicits._
    val big = spark.range(0, 100)
      .select(col("id").as("k"), col("id").as("payload"))
    val none = Seq.empty[(Long, String)].toDF("sk", "name")
    val out = graft.operators.Layout.bloomFilteredJoin(big, none, "k", "sk")
    assert(out.count() == 0L)
    assert(out.columns.toSeq == Seq("k", "payload", "sk", "name"))
  }

  test("zoneMaps: equal-width file cut + per-file min/max; boxScanStats overlap rule") {
    import spark.implicits._
    import graft.operators.Layout
    // keys span [0, 99] with numFiles=10 → width = 99 DIV 10 + 1 = 10,
    // file = k DIV 10
    val pts = Seq(
      (0L, 10L, 20L), (5L, 30L, 5L),        // file 0
      (10L, 100L, 200L),                     // file 1
      (95L, 1000L, 1L), (99L, 900L, 3L)).toDF("k", "x", "y") // file 9
    val zm = Layout.zoneMaps(pts, "k", "x", "y", 10).orderBy("_file")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(zm.toSeq == Seq(
      (0L, 2L, 10L, 30L, 5L, 20L),
      (1L, 1L, 100L, 100L, 200L, 200L),
      (9L, 2L, 900L, 1000L, 1L, 3L)))
    // offset invariance: shifting every key by a constant moves min
    // with it — identical files
    val shifted = pts.select((col("k") + 1000000).as("k"), col("x"), col("y"))
    val zs = Layout.zoneMaps(shifted, "k", "x", "y", 10).orderBy("_file")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(zs.toSeq == zm.toSeq)
    // box [25,150]×[10,60]: file 0 overlaps (max_x 30 ≥ 25, min_y 5 ≤ 60,
    // max_y 20 ≥ 10), file 1 fails on y (min_y 200 > 60), file 9 fails x
    val st = Layout.boxScanStats(
        Layout.zoneMaps(pts, "k", "x", "y", 10), 25, 150, 10, 60)
      .collect().head
    assert((st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3)) ==
      ((3L, 1L, 5L, 2L)))
    // boundary touch counts as overlap (the skipping rule is inclusive)
    val b = Layout.boxScanStats(
        Layout.zoneMaps(pts, "k", "x", "y", 10), 30, 30, 20, 20)
      .collect().head
    assert(b.getLong(1) == 1L)
  }

  test("zoneMapOverlap: hand-computed pair overlap; sorted layout scores 0") {
    import spark.implicits._
    // buckets: 0→[0,10], 1→[5,15] (overlap both ways), 2→[20,30] (clear)
    val df = Seq((0, 0L), (0, 10L), (1, 5L), (1, 15L), (2, 20L), (2, 30L))
      .toDF("b", "v")
    val r = Layout.zoneMapOverlap(df, col("b"), col("v"), "t").collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ("t", 3L, 2L, 2000000000L / 6L))
    // disjoint ranges (a sorted write): zero overlapping pairs
    val s = Seq((0, 0L), (0, 4L), (1, 5L), (1, 9L), (2, 10L), (2, 14L))
      .toDF("b", "v")
    val z = Layout.zoneMapOverlap(s, col("b"), col("v"), "t").collect().head
    assert((z.getLong(2), z.getLong(3)) == (0L, 0L))
  }
}
