package graft.layout

import graft.SparkTestBase
import graft.curve.{Curves, CurveExpressions}
import org.apache.spark.sql.functions._
import scala.util.Random

class LayoutSpecSuite extends SparkTestBase {

  import LayoutWriter.LayoutSpec

  private lazy val data = {
    val rnd = new Random(7)
    val rows = (1 to 20000).map { i =>
      (i.toLong, rnd.nextInt(1000), rnd.nextDouble() * 100.0,
        f"cat${rnd.nextInt(20)}%02d", rnd.nextInt(365))
    }
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("id", "x", "y", "cat", "day")
  }

  test("curve expressions match the kernels (interpreted + codegen paths)") {
    val spark2 = spark
    import spark2.implicits._
    val df = (0 until 2000).map(i => (i.toLong % 64, (i / 64).toLong % 64)).toDF("a", "b")
    val bits = 6
    val got = df
      .select(col("a"), col("b"),
        CurveExpressions.zvalue(bits, col("a"), col("b")).as("z"),
        CurveExpressions.hilbertvalue(bits, col("a"), col("b")).as("h"))
      .collect()
    got.foreach { r =>
      val p = Array(r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == Curves.zValue(p, bits))
      assert(r.getLong(3) == Curves.hilbertValue(p, bits))
    }
  }

  test("SQL registration: graft_zvalue / graft_hilbertvalue usable from SQL") {
    CurveExpressions.register(spark)
    val r = spark.sql(
      "SELECT graft_zvalue(4, CAST(3 AS BIGINT), CAST(1 AS BIGINT)) AS z, " +
        "graft_hilbertvalue(4, CAST(5 AS BIGINT), CAST(9 AS BIGINT)) AS h")
      .collect()(0)
    assert(r.getLong(0) == Curves.zValue(Array(3L, 1L), 4))
    assert(r.getLong(1) == Curves.hilbertValue(Array(5L, 9L), 4))
  }

  test("layout write preserves content exactly (all four layouts)") {
    val expected = data.agg(
      count(lit(1)), sum("id"), sum("x"), round(sum("y"), 4)).collect()(0).toSeq
    for (layout <- Seq("baseline", "linear", "zorder", "hilbert")) {
      val dir = tmpDir(s"graft_$layout")
      val m = LayoutWriter.write(
        data, dir, LayoutSpec(layout, Seq("x", "y"), numFiles = Some(8)))
      // curve layouts snap file cuts to aligned z-key boundaries; an
      // aligned bucket with no data merges into a neighbor, so the
      // count may fall slightly short of the target
      if (layout == "zorder" || layout == "hilbert")
        assert(m.files.length >= 6 && m.files.length <= 8, s"$layout file count ${m.files.length}")
      else assert(m.files.length == 8, s"$layout file count")
      assert(m.totalRows == 20000L, s"$layout manifest rows")
      val back = spark.read.parquet(dir)
      val got = back.agg(
        count(lit(1)), sum("id"), sum("x"), round(sum("y"), 4)).collect()(0).toSeq
      assert(got == expected, s"$layout content mismatch")
    }
  }

  test("pruning soundness: pruned scan == full scan for random range queries") {
    val dir = tmpDir("graft_sound")
    LayoutWriter.write(
      data, dir, LayoutSpec("zorder", Seq("x", "y"), numFiles = Some(16)),
      extraStatsCols = Seq("cat"))
    val rnd = new Random(11)
    for (_ <- 1 to 25) {
      val xlo = rnd.nextInt(1000); val xhi = xlo + rnd.nextInt(1000 - xlo)
      val ylo = rnd.nextDouble() * 100; val yhi = ylo + rnd.nextDouble() * (100 - ylo)
      val preds = Seq(
        NumBetween("x", xlo, xhi), NumBetween("y", ylo, yhi))
      val scan = PrunedScan.read(spark, dir, preds)
      val prunedCnt = scan.df
        .filter(col("x").between(xlo, xhi) && col("y").between(ylo, yhi)).count()
      val fullCnt = spark.read.parquet(dir)
        .filter(col("x").between(xlo, xhi) && col("y").between(ylo, yhi)).count()
      assert(prunedCnt == fullCnt, s"lost rows for x[$xlo,$xhi] y[$ylo,$yhi]")
    }
  }

  test("string zone predicates prune soundly") {
    val dir = tmpDir("graft_strsound")
    LayoutWriter.write(
      data, dir, LayoutSpec("linear", Seq("cat"), numFiles = Some(10)))
    val scan = PrunedScan.read(spark, dir, Seq(StrBetween("cat", "cat03", "cat05")))
    val prunedCnt = scan.df.filter(col("cat").between("cat03", "cat05")).count()
    val fullCnt = data.filter(col("cat").between("cat03", "cat05")).count()
    assert(prunedCnt == fullCnt)
    assert(scan.filesKept < scan.filesTotal, "linear layout should prune some files")
    val inScan = PrunedScan.read(spark, dir, Seq(StrIn("cat", Seq("cat07"))))
    assert(inScan.df.filter(col("cat") === "cat07").count() ==
      data.filter(col("cat") === "cat07").count())
    assert(inScan.filesKept < inScan.filesTotal)
  }

  test("layout effectiveness: zorder/hilbert prune more than baseline on 2-D boxes") {
    val dirs = Seq("baseline", "linear", "zorder", "hilbert").map { layout =>
      val dir = tmpDir(s"graft_eff_$layout")
      LayoutWriter.write(
        data, dir, LayoutSpec(layout, Seq("x", "y"), numFiles = Some(16)))
      layout -> dir
    }.toMap
    def kept(layout: String, preds: Seq[ZonePredicate]): Int =
      PrunedScan.read(spark, dirs(layout), preds).filesKept

    // 2-D box, selective in both dims
    val box = Seq(NumBetween("x", 100, 199), NumBetween("y", 20.0, 30.0))
    assert(kept("baseline", box) == 16, "random layout should keep every file")
    assert(kept("zorder", box) < 16 && kept("hilbert", box) < 16,
      s"curves must beat baseline: z=${kept("zorder", box)} h=${kept("hilbert", box)}")

    // Non-leading-dimension query: linear (sorted x-first) cannot prune on
    // y alone; the curves can — this is the whole point of SFC layouts.
    val yOnly = Seq(NumBetween("y", 20.0, 30.0))
    assert(kept("linear", yOnly) == 16,
      s"x-leading linear layout should not prune a y-only query")
    assert(kept("zorder", yOnly) < 16 && kept("hilbert", yOnly) < 16,
      s"curves must prune non-leading dims: z=${kept("zorder", yOnly)} h=${kept("hilbert", yOnly)}")
  }

  test("hive-partitioned layout: partition columns survive pruned reads") {
    val dir = tmpDir("graft_hivepart")
    LayoutWriter.write(data, dir,
      LayoutSpec("linear", Seq("day"), numFiles = Some(4),
        partitionBy = Seq("cat")))
    // partition dirs exist
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(subdirs.exists(_.getName.startsWith("cat=")), "expected cat= dirs")
    // pruning on the partition column keeps only its files
    val scan = PrunedScan.read(spark, dir, Seq(StrBetween("cat", "cat05", "cat05")))
    assert(scan.filesKept < scan.filesTotal)
    assert(scan.df.columns.contains("cat"), "basePath must restore partition col")
    val got = scan.df.filter(col("cat") === "cat05").count()
    assert(got == data.filter(col("cat") === "cat05").count())
    // Catalyst partition pruning fires on the plain directory read too
    val planStr = spark.read.parquet(dir).filter(col("cat") === "cat05")
      .queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") || planStr.contains("cat#"),
      planStr.take(400))
  }

  test("CTAS into the session catalog works offline (S5 path)") {
    val wh = tmpDir("graft_wh")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_test LOCATION '$wh'")
    data.limit(100).createOrReplaceTempView("ctas_src")
    // session catalog supports CREATE (not REPLACE) TABLE AS SELECT
    spark.sql("DROP TABLE IF EXISTS graft_test.ctas_t")
    spark.sql(
      """CREATE TABLE graft_test.ctas_t USING parquet
        |AS SELECT id, x, y FROM ctas_src""".stripMargin)
    assert(spark.table("graft_test.ctas_t").count() == 100)
    spark.sql("INSERT INTO graft_test.ctas_t SELECT id, x, y FROM ctas_src LIMIT 5")
    assert(spark.table("graft_test.ctas_t").count() == 105)
    spark.sql("DROP TABLE graft_test.ctas_t")
  }

  test("empty survivor set yields empty result with correct schema") {
    val dir = tmpDir("graft_empty")
    LayoutWriter.write(data, dir, LayoutSpec("zorder", Seq("x", "y"), numFiles = Some(4)))
    val scan = PrunedScan.read(spark, dir, Seq(NumBetween("x", 5000, 6000)))
    assert(scan.filesKept == 0)
    assert(scan.df.count() == 0)
    assert(scan.df.columns.toSeq == data.columns.toSeq)
  }

  test("scoped compaction rewrites only matching files") {
    val dir = tmpDir("graft_compactw")
    LayoutWriter.write(data, dir, LayoutSpec("linear", Seq("x"), numFiles = Some(16)))
    val before = ZoneMap.read(dir)
    // bin-pack only the low-x half of the table
    val after = Compactor.compactWhere(spark, dir,
      Seq(NumBetween("x", 0, 499)), targetFileBytes = 512L * 1024 * 1024)
    assert(after.totalRows == 20000L)
    val beforePaths = before.files.map(_.path).toSet
    val survivors = after.files.map(_.path).toSet.intersect(beforePaths)
    assert(survivors.nonEmpty, "high-x files must survive untouched")
    assert(after.files.length < before.files.length, "low-x half must bin-pack")
    assert(spark.read.parquet(dir).count() == 20000L)
    // content equality on the compacted region
    val lowSum = spark.read.parquet(dir).filter(col("x") < 500)
      .agg(sum("id")).collect()(0).getLong(0)
    val origLow = data.filter(col("x") < 500).agg(sum("id")).collect()(0).getLong(0)
    assert(lowSum == origLow)
  }

  test("scoped compaction on a hive-partitioned table preserves partition dirs") {
    val dir = tmpDir("graft_compactw_part")
    LayoutWriter.write(data, dir,
      LayoutSpec("linear", Seq("x"), numFiles = Some(8),
        partitionBy = Seq("cat")))
    val before = ZoneMap.read(dir)
    val after = Compactor.compactWhere(spark, dir,
      Seq(NumBetween("x", 0, 499)), targetFileBytes = 512L * 1024 * 1024)

    assert(after.totalRows == 20000L)
    assert(after.files.length < before.files.length)
    // every rewritten file landed back under a cat=... partition subdir
    val newPaths = after.files.map(_.path).toSet -- before.files.map(_.path).toSet
    assert(newPaths.nonEmpty)
    newPaths.foreach(p => assert(p.contains("cat="), s"file outside partition dir: $p"))
    // the table still reads whole, with partition values intact
    val got = spark.read.parquet(dir)
    assert(got.count() == 20000L)
    assert(got.groupBy("cat").count().count() == 20L, "all 20 cat values survive")
    val lowSum = got.filter(col("x") < 500).agg(sum("id")).collect()(0).getLong(0)
    assert(lowSum == data.filter(col("x") < 500).agg(sum("id")).collect()(0).getLong(0))
    // partition pruning still fires on the compacted table
    val planStr = got.filter(col("cat") === "cat05").queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters"), planStr.take(300))
  }

  test("compactor rewrites to fewer files, preserves rows and layout") {
    val dir = tmpDir("graft_compact")
    LayoutWriter.write(data, dir, LayoutSpec("zorder", Seq("x", "y"), numFiles = Some(32)))
    val before = ZoneMap.read(dir)
    assert(before.files.length >= 30 && before.files.length <= 32)
    val after = Compactor.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(after.files.length < before.files.length,
      s"expected fewer files, got ${after.files.length}")
    assert(after.totalRows == 20000L)
    assert(after.layout == "zorder")
    assert(spark.read.parquet(dir).count() == 20000L)
  }

  test("NumIn/StrIn binary-search pruning equals the linear definition on random zones") {
    // round-13: mayMatch went from O(values) to O(log values) per file;
    // pin equivalence with the definitional linear form across random
    // value sets and zone ranges (including empty sets, open-ended
    // stats, and all-null zones)
    val rnd = new scala.util.Random(13)
    def numEntry(mn: Option[Double], mx: Option[Double], allNull: Boolean) =
      FileEntry("f", 1, Map("c" -> ColRange(mn, mx, None, None, allNull)))
    for (_ <- 1 to 2000) {
      val vals = Seq.fill(rnd.nextInt(6))(rnd.nextInt(40).toDouble)
      val a = rnd.nextInt(40).toDouble; val b = rnd.nextInt(40).toDouble
      val (mn, mx) = (math.min(a, b), math.max(a, b))
      val f = numEntry(
        if (rnd.nextBoolean()) Some(mn) else None,
        if (rnd.nextBoolean()) Some(mx) else None,
        allNull = rnd.nextInt(10) == 0)
      val r = f.ranges("c")
      val linear = if (r.allNull) false
        else vals.exists(v => r.min.forall(_ <= v) && r.max.forall(_ >= v))
      assert(NumIn("c", vals).mayMatch(f) == linear,
        s"NumIn($vals) vs zone ${r.min}-${r.max} allNull=${r.allNull}")
    }
    def strEntry(mn: Option[String], mx: Option[String], allNull: Boolean) =
      FileEntry("f", 1, Map("c" -> ColRange(None, None, mn, mx, allNull)))
    for (_ <- 1 to 2000) {
      val vals = Seq.fill(rnd.nextInt(6))("k" + rnd.nextInt(30))
      val a = "k" + rnd.nextInt(30); val b = "k" + rnd.nextInt(30)
      val (mn, mx) =
        if (StrOrder.lte(a, b)) (a, b) else (b, a)
      val f = strEntry(
        if (rnd.nextBoolean()) Some(mn) else None,
        if (rnd.nextBoolean()) Some(mx) else None,
        allNull = rnd.nextInt(10) == 0)
      val r = f.ranges("c")
      val linear = if (r.allNull) false
        else vals.exists(v =>
          r.minStr.forall(StrOrder.lte(_, v)) && r.maxStr.forall(StrOrder.gte(_, v)))
      assert(StrIn("c", vals).mayMatch(f) == linear,
        s"StrIn($vals) vs zone ${r.minStr}-${r.maxStr} allNull=${r.allNull}")
    }
  }

  test("exactPartition's driver remap routes like HashPartitioning (n = 1..64)") {
    val spark2 = spark
    import spark2.implicits._
    val remaps = (1 to 64).flatMap { n =>
      LayoutWriter.exactPartitionRemap(n).zipWithIndex.map { case (v, p) => (n, p, v) }
    }
    // the routing the shuffle applies to a long: pmod(hash(v), n)
    val wrong = remaps.toDF("n", "p", "v")
      .filter(pmod(hash(col("v")), col("n")) =!= col("p"))
    assert(wrong.count() == 0, wrong.limit(5).collect().mkString(", "))
    // and rows land in the partition their bucket id names
    val routed = LayoutWriter.exactPartition(spark.range(2000).toDF(), col("id") % 13, 13)
      .filter(spark_partition_id() =!= (col("id") % 13).cast("int"))
    assert(routed.count() == 0)
  }

  test("sortedRewrite keeps every row and places it deterministically " +
    "(string, date and NULL coordinates)") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(5)
    val rows = (1 to 6000).map { i =>
      (i.toLong,
        if (i % 50 == 0) null else f"tenant-${rnd.nextInt(500)}%04d",
        if (i % 70 == 0) null
        else java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000L + rnd.nextInt(900))),
        rnd.nextDouble())
    }
    val dir = tmpDir("graft_sorted_rewrite")
    LayoutWriter.write(rows.toDF("k", "s", "d", "v"), dir,
      LayoutSpec("zorder", Seq("s", "d"), numFiles = Some(4), recordKey = Some("k")))
    val m = ZoneMap.read(dir)
    val src = spark.read.parquet(dir)
    // a sample of every row, then a thin hash-selected one
    for (sourceRows <- Seq(m.totalRows, 1000L * m.totalRows)) {
      val out = LayoutWriter.sortedRewrite(src, src, m, numFiles = 4, sourceRows)
      assert(out.columns.toSeq == src.columns.toSeq)
      def placed = LayoutWriter.sortedRewrite(src, src, m, numFiles = 4, sourceRows)
        .select(spark_partition_id(), col("k")).collect().map(_.toString).sorted.toSeq
      val first = placed
      assert(first == placed, s"rows moved between two identical rewrites ($sourceRows)")
      assert(first.map(_.split(",")(0)).distinct.length > 1, "one file for four")
      assert(out.count() == 6000L)
      assert(out.exceptAll(src).isEmpty && src.exceptAll(out).isEmpty)
    }
  }
}
