package graft.table

import graft.SparkTestBase
import graft.layout.{KeyIndex, LayoutWriter, ZoneMap}
import graft.layout.LayoutWriter.LayoutSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark-job counters and determinism of the keyed upsert. Jobs are
  * counted by a listener scoped to a job group of the test's own (the
  * suites share one SparkContext and run concurrently, so a global count
  * would include foreign jobs). No assertion here depends on timing.
  */
class UpsertJobsSuite extends SparkTestBase {

  /** The jobs `f` runs from this thread, and its result. */
  private def jobsOf[T](f: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val group = "upsert-jobs-" + java.util.UUID.randomUUID()
    val seen = scala.collection.mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.synchronized(seen += e)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try {
      val r = f
      org.apache.spark.graftbridge.SparkBridge.drainListenerBus(sc)
      (r, seen.synchronized(seen.toList))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def describe(jobs: Seq[SparkListenerJobStart]): String =
    jobs.map(j => j.stageInfos.headOption.map(_.name).getOrElse("?")).mkString("; ")

  /** A 16-file keyed hilbert table on (a, b) with record key k; returns
    * the target file bytes that keep a rewrite at about one file per
    * rewritten file (the production 128 MB target would fold this small
    * table into one file).
    */
  private def writeTable(dir: String, index: Boolean = true): Long = {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 20000).map { k =>
      (k.toLong, rnd.nextDouble() * 1000, rnd.nextDouble() * 1000, s"v$k", 1L)
    }
    val m = LayoutWriter.write(rows.toDF("k", "a", "b", "payload", "version"), dir,
      LayoutSpec("hilbert", Seq("a", "b"), numFiles = Some(16),
        recordKey = Some("k"), precombineCol = Some("version")))
    if (index) KeyIndex.build(spark, dir)
    math.max(1L, m.files.flatMap(_.bytes).sum / m.files.length)
  }

  /** 30 rows: 25 scattered updates and 5 new keys. */
  private def smallBatch(seed: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(seed)
    val updates = (1 to 25).map { _ =>
      (1L + rnd.nextInt(20000), rnd.nextDouble() * 1000, rnd.nextDouble() * 1000, "upd", 2L)
    }
    val inserts = (1 to 5).map(i =>
      (100000L + seed * 100 + i, rnd.nextDouble() * 1000, rnd.nextDouble() * 1000, "new", 1L))
    (updates ++ inserts).toDF("k", "a", "b", "payload", "version")
  }

  /** `df` as a parquet-backed DataFrame, the way a batch usually
    * arrives; its schema is read here, outside any counted window.
    */
  private def onDisk(df: DataFrame): DataFrame = {
    val dir = tmpDir("graft_upsert_batch") + "/b"
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def copyTable(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(p, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Path-free view of a manifest: each file's rows and zone ranges. */
  private def shape(dir: String): Seq[String] =
    ZoneMap.read(dir).files.map { f =>
      s"${f.rows} " + f.ranges.toSeq.sortBy(_._1).mkString(",")
    }.sorted

  private def rows(dir: String): Array[org.apache.spark.sql.Row] =
    SfcTable.open(spark, dir).orderBy("k").collect()

  test("a small sorted upsert runs at most 11 jobs, none a schema inference; " +
    "open after the commit runs none") {
    val dir = tmpDir("graft_upsert_jobs")
    val target = writeTable(dir)
    val batch = onDisk(smallBatch(1))
    val (_, jobs) = jobsOf(Upserter.upsertResult(spark, dir, batch,
      targetFileBytes = target))
    info(s"upsert: ${jobs.length} jobs: ${describe(jobs)}")
    assert(jobs.length <= 11, s"${jobs.length} jobs: ${describe(jobs)}")
    // parquet footer-schema inference runs outside any SQL execution;
    // every job of the upsert must belong to one
    val outside = jobs.filter(j =>
      Option(j.properties).forall(_.getProperty("spark.sql.execution.id") == null))
    assert(outside.isEmpty, s"jobs outside a SQL execution: ${describe(outside)}")
    val (_, openJobs) = jobsOf(SfcTable.open(spark, dir))
    assert(openJobs.isEmpty, s"open ran ${openJobs.length} jobs: ${describe(openJobs)}")
    assert(SfcTable.open(spark, dir).count() == 20005)
  }

  test("an upsert that triggers the key-index GC runs at most 6 jobs more") {
    val plain = tmpDir("graft_upsert_nogc")
    val target = writeTable(plain)
    val withGc = tmpDir("graft_upsert_gc")
    copyTable(plain, withGc)
    // the copied sidecar is rooted at the original dir; index it here
    KeyIndex.build(spark, withGc)
    val meta = KeyIndex.path(withGc).resolve("_meta.json")
    def metaJson = new String(java.nio.file.Files.readAllBytes(meta), "UTF-8")
    // enough stale rows that this upsert's index maintenance reclaims them
    java.nio.file.Files.write(meta,
      metaJson.replaceFirst("\"stale\":\\d+", "\"stale\":100000").getBytes("UTF-8"))
    val batch = onDisk(smallBatch(2))
    val (_, plainJobs) = jobsOf(Upserter.upsertResult(spark, plain, batch,
      targetFileBytes = target))
    val (_, gcJobs) = jobsOf(Upserter.upsertResult(spark, withGc, batch,
      targetFileBytes = target))
    info(s"without GC ${plainJobs.length} jobs, with GC ${gcJobs.length}")
    assert(metaJson.contains("\"stale\":0"), s"GC did not run: $metaJson")
    assert(gcJobs.length - plainJobs.length <= 6,
      s"GC upsert: ${describe(gcJobs)}; plain upsert: ${describe(plainJobs)}")
    // GC kept exactly the live rows, and both tables hold the same data
    val sidecarRows = spark.read.parquet(KeyIndex.path(withGc).toString).count()
    assert(sidecarRows == ZoneMap.read(withGc).files.length.toLong)
    assert(rows(plain).map(_.toString).toSeq == rows(withGc).map(_.toString).toSeq)
  }

  test("the same upsert into two identical table copies yields identical manifests") {
    val a = tmpDir("graft_upsert_det_a")
    val target = writeTable(a)
    val b = tmpDir("graft_upsert_det_b")
    copyTable(a, b)
    KeyIndex.build(spark, b)
    Upserter.upsertResult(spark, a, smallBatch(3), targetFileBytes = target)
    // unrelated shuffles move the session's shuffle and RDD ids on
    (1 to 3).foreach { i =>
      spark.range(5000).repartition(7).groupBy((col("id") % i).as("g")).count().collect()
      spark.range(5000).repartitionByRange(5, col("id")).count()
    }
    Upserter.upsertResult(spark, b, smallBatch(3), targetFileBytes = target)
    assert(ZoneMap.read(a).files.length == ZoneMap.read(b).files.length)
    assert(shape(a) == shape(b))
    assert(rows(a).map(_.toString).toSeq == rows(b).map(_.toString).toSeq)
  }

  test("a legacy manifest without a schema opens and upserts; its commit records the schema") {
    val dir = tmpDir("graft_upsert_legacy")
    val target = writeTable(dir, index = false)
    val recorded = ZoneMap.read(dir).schema
    assert(recorded.isDefined, "a layout write records the table schema")
    ZoneMap.write(dir, ZoneMap.read(dir).copy(schema = None))
    assert(!new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, ZoneMap.ManifestName)), "UTF-8").contains("\"schema\""))
    assert(SfcTable.open(spark, dir).filter(col("a") < 100).count() ==
      spark.read.parquet(dir).filter(col("a") < 100).count())
    val m = Upserter.upsert(spark, dir, smallBatch(4), targetFileBytes = target)
    assert(m.schema == recorded)
    assert(ZoneMap.read(dir).schema == recorded)
    val got = rows(dir)
    assert(got.length == 20005)
    assert(got.count(_.getAs[String]("payload") == "new") == 5)
  }

  test("hive-partitioned table: the recorded schema equals the inferred one") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_upsert_hive_schema")
    val df = (1 to 4000).map(i => (i.toLong, i % 5, i * 0.5, s"v$i", 1L))
      .toDF("k", "region", "x", "payload", "version")
    LayoutWriter.write(df, dir, LayoutSpec("zorder", Seq("k", "x"), numFiles = Some(4),
      recordKey = Some("k"), precombineCol = Some("version"), partitionBy = Seq("region")))
    val inferred = spark.read.parquet(dir).schema
    assert(ZoneMap.read(dir).sparkSchema.contains(inferred))
    val batch = Seq((7L, 2, 1.0, "upd", 2L), (9001L, 9, 2.0, "new", 1L))
      .toDF("k", "region", "x", "payload", "version")
    Upserter.upsert(spark, dir, batch)
    assert(ZoneMap.read(dir).sparkSchema.contains(spark.read.parquet(dir).schema))
    val got = SfcTable.open(spark, dir)
    assert(got.count() == 4001)
    assert(got.filter($"k" === 7L).select("payload", "region").as[(String, Int)]
      .head() == ("upd", 2))
    assert(got.filter($"k" === 9001L).select("region").as[Int].head() == 9)
  }

  test("NULL record keys are rejected on the exact and the over-limit census paths") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_upsert_nullkey")
    writeTable(dir, index = false)
    val gen = ZoneMap.read(dir).generation
    val exact = Seq[(java.lang.Long, Double, Double, String, Long)](
      (5L, 1.0, 1.0, "upd", 2L), (null, 2.0, 2.0, "bad", 2L))
      .toDF("k", "a", "b", "payload", "version")
    val e1 = intercept[IllegalArgumentException](Upserter.upsert(spark, dir, exact))
    assert(e1.getMessage.contains("NULL record-key"))
    // more distinct keys than the exact census holds: the key-range
    // aggregate must count the NULL key
    val wide = spark.range(Upserter.KeyPruneLimit + 10L).select(
      when(col("id") === 777L, lit(null).cast("long")).otherwise(col("id") + 1).as("k"),
      lit(1.0).as("a"), lit(1.0).as("b"), lit("bulk").as("payload"), lit(2L).as("version"))
    val e2 = intercept[IllegalArgumentException](Upserter.upsert(spark, dir, wide))
    assert(e2.getMessage.contains("NULL record-key"))
    assert(ZoneMap.read(dir).generation == gen, "a rejected batch must not commit")
  }
}
