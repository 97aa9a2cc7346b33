package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.DabDataset
import graft.operators.Dedup

/** Core table-layer goldens, mirroring the reference's unit tests
  * (FIXTURES.md F1/F2; reference tests/test_dataset.py, tests/test_abstract.py).
  */
class DabDatasetSpec extends SparkSpec {
  import spark.implicits._

  private def toy: DabDataset = {
    val df = Seq(
      (1.0, 0.0, "1"), (1.0, 0.0, "2"), (1.0, 0.0, "3"))
      .toDF("test1", "test2", "test3")
    DabDataset.dataset(df)
  }

  test("dataset adds auto-columns and dense _idx (F1)") {
    val ds = toy
    assert(ds.len == 3)
    assert(ds.keys.toSet == Set("test1", "test2", "test3",
      "test_only", "dataset_id", "dataset_str"))
    val idx = ds.df.select("_idx").as[Long].collect().sorted
    assert(idx.toSeq == Seq(0L, 1L, 2L))
    val row = ds.get(0)
    assert(row.getAs[Double]("test1") == 1.0)
    assert(row.getAs[Int]("dataset_id") == 0)
    assert(row.getAs[String]("dataset_str") == "Dataset")
  }

  test("add / remove / alias / activeKeys") {
    val ds = toy.add("test4", col("test3")).addAlias("test3", "alias3")
    assert(ds.keys.contains("test4") && ds.keys.contains("alias3"))
    val removed = ds.remove("test4")
    assert(!removed.keys.contains("test4"))
    val act = removed.setActiveKeys("test1", "test3")
    assert(act.active.columns.toSeq == Seq("_idx", "test1", "test3"))
  }

  test("setAt point-updates one cell, wraps negative index (test_dataset.py:112-136)") {
    // db['test_only'][0] = 1; db['dataset_id'][0] = 1
    val ds = toy
      .setAt("test_only", 0, lit(1))
      .setAt("dataset_id", 0, lit(1))
      .setAt("test3", -1, lit("last"))
    val rows = ds.df.orderBy("_idx")
      .select("test_only", "dataset_id", "test3").collect()
    assert(rows(0).getAs[Double]("test_only") == 1.0)
    assert(rows(0).getAs[Int]("dataset_id") == 1)
    assert(rows(1).getAs[Int]("dataset_id") == 0) // others untouched
    assert(rows(2).getAs[String]("test3") == "last") // -1 → len-1
    assert(rows(0).getAs[String]("test3") == "1")
  }

  test("selectIndices / selectSlice keep positional order and renumber") {
    val ds = DabDataset.fromDataFrame(
      spark.range(10).toDF("v").orderBy("v"))
    val sel = ds.selectIndices(Seq(2L, 5L, 7L))
    val rows = sel.df.orderBy("_idx").select("_idx", "v").as[(Long, Long)].collect()
    assert(rows.toSeq == Seq((0L, 2L), (1L, 5L), (2L, 7L)))
    val sliced = ds.selectSlice(1, 9, 3) // positions 1,4,7
    assert(sliced.df.orderBy("_idx").select("v").as[Long].collect().toSeq == Seq(1L, 4L, 7L))
  }

  test("sampleReplicate repeats rows by factor (reference test_abstract.py:4-34)") {
    val ds = DabDataset.fromDataFrame(
      Seq("1", "2", "3", "4").toDF("v").orderBy("v"))
    val rep = ds.sampleReplicate(lit(3))
    assert(rep.len == 12)
    val vs = rep.df.orderBy("_idx").select("v").as[String].collect()
    assert(vs.toSeq == Seq("1", "1", "1", "2", "2", "2", "3", "3", "3", "4", "4", "4"))
  }

  test("split: 100 samples, win=50 → 2 chunks of 50 (test_abstract.py:125-181)") {
    val df = Seq(Tuple1((1 to 100).map(_.toDouble))).toDF("data")
    val ds = DabDataset.fromDataFrame(df).split(Seq("data"), 50)
    assert(ds.len == 2)
    val chunks = ds.df.orderBy("_idx").select("data").as[Seq[Double]].collect()
    assert(chunks(0) == (1 to 50).map(_.toDouble))
    assert(chunks(1) == (51 to 100).map(_.toDouble))
  }

  test("split power2: win=4 → 25 chunks of 4; win=5→8 → 12 chunks of 8") {
    val df = Seq(Tuple1((1 to 100).map(_.toDouble))).toDF("data")
    val p4 = DabDataset.fromDataFrame(df).split(Seq("data"), 4, power2 = true)
    assert(p4.len == 25)
    assert(p4.df.select(size(col("data"))).as[Int].head() == 4)
    val p8 = DabDataset.fromDataFrame(df).split(Seq("data"), 5, power2 = true)
    assert(p8.len == 12)
    assert(p8.df.select(size(col("data"))).as[Int].head() == 8)
  }

  test("split replicates scalar metadata per chunk (add_split semantics)") {
    val df = Seq(
      ("a", (1 to 10).map(_.toDouble)),
      ("b", (1 to 10).map(_.toDouble))).toDF("label", "data").orderBy("label")
    val ds = DabDataset.fromDataFrame(df).split(Seq("data"), 5)
    val rows = ds.df.orderBy("_idx").select("label").as[String].collect()
    assert(rows.toSeq == Seq("a", "a", "b", "b"))
  }

  test("split length invariant: Σ max(1, ⌊(len−win)/win⌋+1) (abstract.py:968-987)") {
    val lens = Seq(3, 10, 17, 32, 100)
    val df = lens.map(n => Tuple1((1 to n).map(_.toDouble))).toDF("data")
    val win = 8
    val expected = lens.map(n => math.max(1, (n - win) / win + 1)).sum
    // note: for n < win the chunk is short but still emitted once
    val got = DabDataset.fromDataFrame(df).split(Seq("data"), win).len
    assert(got == expected)
  }

  test("concat preserves order, offsets _idx and dataset_id (dataset.py:182-221)") {
    val a = DabDataset.dataset(Seq(1.0, 2.0).toDF("v").orderBy("v"), "a")
    val b = DabDataset.dataset(Seq(3.0, 4.0).toDF("v").orderBy("v"), "b")
    val c = a.concat(b)
    assert(c.nrDatasets == 2)
    val rows = c.df.orderBy("_idx")
      .select("_idx", "v", "dataset_id").as[(Long, Double, Int)].collect()
    assert(rows.toSeq == Seq((0L, 1.0, 0), (1L, 2.0, 0), (2L, 3.0, 1), (3L, 4.0, 1)))
  }

  test("concat intersect keeps common columns only (abstract.py:1580-1637)") {
    val a = DabDataset.fromDataFrame(Seq((1, "x")).toDF("k", "only_a"))
    val b = DabDataset.fromDataFrame(Seq(2).toDF("k"))
    val c = a.concat(b, intersect = true)
    assert(c.keys.toSeq == Seq("k"))
    assert(c.len == 2)
  }

  test("filterNonePad keeps row count, nulls payload (FilterAbstract return_none)") {
    val ds = DabDataset.fromDataFrame(spark.range(5).toDF("v"))
      .filterNonePad("v", col("v") % 2 === 0)
    assert(ds.len == 5)
    assert(ds.df.filter(col("v").isNull).count() == 2)
  }

  test("subsampleByStr + randomSubsample determinism (select.py)") {
    val df = Seq("a", "a", "b", "c").toDF("g").orderBy("g")
    val ds = DabDataset.fromDataFrame(df)
    assert(ds.subsampleByStr("g", Seq("a")).len == 2)
    val s1 = ds.randomSubsample(0.5, seed = 7).df.select("g").as[String].collect().toSeq
    val s2 = ds.randomSubsample(0.5, seed = 7).df.select("g").as[String].collect().toSeq
    assert(s1 == s2)
  }

  test("collectStacked and iterator return rows in position order (DataAbstract)") {
    val df = Seq(Tuple1(Seq(1.0, 2.0)), Tuple1(Seq(3.0, 4.0)), Tuple1(Seq(5.0, 6.0)))
      .toDF("data")
    val ds = DabDataset.fromDataFrame(df)
    val stacked = ds.collectStacked("data")
    assert(stacked.map(_.toSeq).toSeq ==
      Seq(Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(5.0, 6.0)))
    val idxOrder = ds.iterator.map(_.getAs[Long]("_idx")).toSeq
    assert(idxOrder == Seq(0L, 1L, 2L))
  }

  test("addMap applies a chain in place and threads info (MapAbstract)") {
    import graft.functions.{Chain, Scaler, Logarithm}
    val df = Seq(Tuple1(Seq(1.0, 10.0, 100.0))).toDF("data")
    val ds = DabDataset.fromDataFrame(df)
      .addMap("data", Chain(Seq(Scaler("wav_2_01"), Logarithm("natural"))), Some("mapped"))
    val out = ds.df.select("mapped").as[Seq[Double]].head()
    assert(math.abs(out.head - math.log(1.0)) < 1e-12) // (1+1)/2 = 1 → ln 1
    assert(ds.keys.contains("mapped_info"))
    assert(ds.keys.contains("data")) // original kept when newKey given
  }

  test("unpack projects columns in order (UnpackAbstract)") {
    val ds = toy
    assert(ds.unpack("test3", "test1").columns.toSeq == Seq("test3", "test1"))
  }

  test("sampleReplicate: factor 0 drops the row (abstract.py:746-883)") {
    val ds = DabDataset.fromDataFrame(
      Seq(("a", 2), ("b", 0), ("c", 1)).toDF("k", "f"))
    val out = ds.sampleReplicate(col("f"))
    val ks = out.df.orderBy("_idx").select("k").as[String].collect().toSeq
    assert(ks == Seq("a", "a", "c"))
    assert(out.df.select("_idx").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("nested table: recursive selection + nested active keys (abstract.py:1648-1675)") {
    val outer = DabDataset.fromDataFrame(
      Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v"))
    val inner = DabDataset.fromDataFrame(
      Seq(("x", 10.0), ("y", 20.0), ("z", 30.0)).toDF("name", "score"))
    val ds = outer.addNested("meta", inner)
    assert(ds.keys.contains("meta"))
    // dotted active key projects the nested field under its qualified name
    val act = ds.setActiveKeys("k", "meta.name").active
    assert(act.columns.toSeq == Seq("_idx", "k", "meta.name"))
    assert(act.orderBy("_idx").collect().map(_.getString(2)).toSeq == Seq("x", "y", "z"))
    // outer selection recurses into the nested table (iterative_select):
    // nested rows stay aligned and renumber with the outer positions
    val sel = ds.select(col("v") >= 2)
    assert(sel.len == 2)
    val sub = sel.nested("meta")
    assert(sub.df.orderBy("_idx").select("name").as[String].collect().toSeq == Seq("y", "z"))
    assert(sub.df.select("_idx").as[Long].collect().sorted.toSeq == Seq(0L, 1L))
  }

  test("addDict: clashing keys replaced by the incoming table (abstract.py:1566 dict update)") {
    val a = DabDataset.fromDataFrame(Seq((1, "x"), (2, "y")).toDF("n", "s"))
    val b = DabDataset.fromDataFrame(Seq(("X", 10.0), ("Y", 20.0)).toDF("s", "v"))
    val out = a.addDict(b)
    assert(out.keys.sorted == Seq("n", "s", "v"))
    val rows = out.df.orderBy("_idx").select("n", "s", "v")
      .as[(Int, String, Double)].collect().toSeq
    assert(rows == Seq((1, "X", 10.0), (2, "Y", 20.0)))
  }

  // ---- numbering: one job, and later readers share its stage ----

  test("fromDataFrame and split number rows in one job each") {
    val df = Seq(("a", (1 to 10).map(_.toDouble)), ("b", (1 to 20).map(_.toDouble)))
      .toDF("k", "data")
    val made = traced(DabDataset.fromDataFrame(df))
    assert(made.jobs == 1, s"fromDataFrame ran ${made.jobs} jobs")
    val split = traced(made.result.split(Seq("data"), 5))
    assert(split.jobs == 1, s"split ran ${split.jobs} jobs")
    assert(split.result.df.orderBy("_idx").select("_idx", "k").as[(Long, String)]
      .collect().toSeq == (0L until 6L).zip(Seq("a", "a", "b", "b", "b", "b")))
  }

  test("an upstream UDF runs once per row when the split table is read twice") {
    val calls = spark.sparkContext.longAccumulator("decode calls")
    val decode = udf((n: Int) => { calls.add(1); (1 to n).map(_.toDouble) })
    val ds = DabDataset.fromDataFrame(Seq(10, 20, 30).toDF("n"))
      .add("data", decode(col("n")))
      .split(Seq("data"), 10)
    assert(ds.len == 6)
    assert(ds.df.select(sum(size(col("data")))).as[Long].head() == 60L)
    assert(calls.value == 3L, s"the UDF ran ${calls.value} times for 3 rows")
  }

  test("_idx is dense and in input order over empty partitions, 0 rows and 1 row") {
    // ids 0 | 1 | 2 | 3,4 in four partitions; the filter empties two
    val input = spark.range(0, 5, 1, 4).toDF().filter(col("id") =!= 1 && col("id") =!= 2)
    assert(Dedup.partitionRows(Dedup.materialize(input, eager = true)).toSeq ==
      Seq(1L, 0L, 0L, 2L))
    def numbered(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      DabDataset.fromDataFrame(df).df.select("_idx", "id").as[(Long, Long)]
        .collect().toSeq
    assert(numbered(input) == Seq((0L, 0L), (1L, 3L), (2L, 4L)))
    assert(numbered(spark.range(0, 0, 1, 4).toDF()).isEmpty)
    assert(numbered(spark.range(7, 8, 1, 4).toDF()) == Seq((0L, 7L)))
  }

  test("get and getRange run one job per call, rows in _idx order") {
    val ds = DabDataset.fromDataFrame(spark.range(0, 40, 1, 4).toDF("v"))
      .select(col("v") % 2 === 1) // odd v at positions 0..19
    val one = traced(ds.get(7))
    assert(one.jobs == 1 && one.result.getAs[Long]("v") == 15L)
    val range = traced(ds.getRange(3, 13))
    assert(range.jobs == 1)
    assert(range.result.map(_.getLong(0)).toSeq == (3L until 13L))
    assert(range.result.map(_.getAs[Long]("v")).toSeq == (3L until 13L).map(2 * _ + 1))
    assert(ds.getRange(5, 5).isEmpty && ds.getRange(30, 40).isEmpty)
    val missing = intercept[NoSuchElementException](ds.get(20))
    assert(missing.getMessage.contains("20"))
    intercept[NoSuchElementException](ds.get(-1))
    val doubled = DabDataset.fromExisting(Seq((0L, "a"), (0L, "b")).toDF("_idx", "k"))
    intercept[IllegalArgumentException](doubled.get(0))
  }

  test("a DabDataset built and read inside withPipeline frees its stage at exit") {
    val sc = spark.sparkContext
    def persisted(id: Int) = sc.getPersistentRDDs.get(id)
      .exists(_.getStorageLevel != StorageLevel.NONE)
    val (rows, stageId) = Dedup.withPipeline {
      val ds = DabDataset.fromDataFrame(spark.range(0, 10, 1, 4).toDF("v"))
      // the numbered frame scans the stage the numbering job filled
      val stage = ds.df.queryExecution.analyzed.asInstanceOf[LogicalRDD]
        .rdd.dependencies.head.rdd
      assert(persisted(stage.id))
      (ds.getRange(2, 5).map(_.getAs[Long]("v")).toSeq, stage.id)
    }
    assert(rows == Seq(2L, 3L, 4L))
    assert(!persisted(stageId))
  }
}
