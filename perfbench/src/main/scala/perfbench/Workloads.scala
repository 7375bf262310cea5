package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

import graft.layout.{Compactor, KeyIndex, LayoutWriter, NumBetween, TableManifest, ZoneMap}
import graft.layout.LayoutWriter.LayoutSpec
import graft.profile.Profiler
import graft.table.{SfcTable, Upserter}
import graft.wlg.WorkloadGen
import graft.wlg.WorkloadGen.{QueryInstance, RangeParam, TemplateSpec}

/** Calls shared by the workloads: a wlg range query through SfcTable and
  * the per-layer probes around it.
  */
object Queries {
  /** The RQ1 `plain` and RQ4 `group_order_limit` shapes of
    * graft.cli.Scenario over a BETWEEN on each layout column.
    */
  def shapeSql(shape: String, where: String): String = shape match {
    case "plain" =>
      s"SELECT count(*) AS cnt, sum(l_orderkey) AS sum_ok FROM {{tbl}} WHERE $where"
    case "group_order_limit" =>
      "SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty " +
        s"FROM {{tbl}} WHERE $where GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY cnt DESC, l_returnflag, l_linestatus LIMIT 1000"
  }

  def between(cols: Seq[String], date: Boolean): String = cols.zipWithIndex.map { case (c, i) =>
    if (date) s"$c BETWEEN DATE ':p${i}_lo' AND DATE ':p${i}_hi'"
    else s"$c BETWEEN :p${i}_lo AND :p${i}_hi"
  }.mkString(" AND ")

  /** wlg instances of one band: the per-column selectivity is the
    * d-th root of the band's overall target. Latin-hypercube placement
    * spreads the `n` instances over the domain, so figures taken over
    * all of them vary less from seed to seed.
    */
  def fill(stats: Profiler.TableStats, cols: Seq[String], band: Double, n: Int,
      seed: Long): Seq[QueryInstance] = {
    val sel = math.pow(band, 1.0 / cols.length)
    WorkloadGen.fill(TemplateSpec(
      name = "plain", sql = shapeSql("plain", between(cols, date = false)),
      params = cols.zipWithIndex.map { case (c, i) => RangeParam(s"p$i", c, sel) },
      constraints = cols.indices.map(i => s"p${i}_hi >= p${i}_lo"), n = n, mode = "lhs",
      seed = seed), stats, "{{tbl}}")
  }

  /** The same ranges in another query shape. */
  def reshape(q: QueryInstance, cols: Seq[String], shape: String): QueryInstance =
    q.copy(template = shape, sql = WorkloadGen.render(
      shapeSql(shape, between(cols, date = false)), q.params + ("tbl" -> "{{tbl}}")))

  /** Bounds of an instance as zone predicates; dates as epoch days, the
    * unit of the manifest's date stats.
    */
  def preds(cols: Seq[String], q: QueryInstance): Seq[NumBetween] = {
    def num(v: String): Double =
      if (v.matches("\\d{4}-\\d{2}-\\d{2}")) java.time.LocalDate.parse(v).toEpochDay.toDouble
      else v.toDouble
    cols.zipWithIndex.map { case (c, i) =>
      NumBetween(c, num(q.params(s"p${i}_lo")), num(q.params(s"p${i}_hi")))
    }
  }

  /** Open the table, plan the instance's SQL over it, collect. */
  def run(h: Harness, dir: String, sql: String): OpOut = {
    val table = h.span("table.open")(SfcTable.open(h.spark, dir))
    val df = h.span("table.plan") {
      table.createOrReplaceTempView("bench_tbl")
      val d = h.spark.sql(sql.replace("{{tbl}}", "bench_tbl"))
      if (h.cfg.trace) d.queryExecution.executedPlan
      d
    }
    val rows = h.span("table.exec")(df.collect())
    OpOut(Some(df.columns.toSeq -> rows.toSeq))
  }

  /** Traced only: the manifest read and prune the open/plan above do
    * internally, timed on their own after the op.
    */
  def layerProbes(h: Harness, dir: String, preds: Seq[NumBetween]): Seq[(String, String)] =
    if (!h.cfg.trace) Nil
    else {
      val t0 = System.nanoTime()
      ZoneMap.read(dir)
      val t1 = System.nanoTime()
      val view = ZoneMap.pruneRead(dir, preds)
      val t2 = System.nanoTime()
      Seq("manifest_read_ms" -> Json.num((t1 - t0) / 1e6), "prune_ms" -> Json.num((t2 - t1) / 1e6),
        "prune_kept" -> Json.num(view.kept.size.toLong))
    }

  def manifestBytes(m: TableManifest, dir: String): Long = {
    val sizes = Harness.fileSizes(dir)
    m.files.map(f => f.bytes.getOrElse(
      sizes.getOrElse(new org.apache.hadoop.fs.Path(f.path).toUri.getPath, 0L))).sum
  }

  def fileBytesCv(m: TableManifest): Double = {
    val b = m.files.flatMap(_.bytes).map(_.toDouble)
    if (b.size < 2) 0.0
    else {
      val mean = b.sum / b.size
      math.sqrt(b.map(x => (x - mean) * (x - mean)).sum / b.size) / mean
    }
  }

  /** Traced only: the fixed cost of one tiny Spark job. */
  def jobFloor(h: Harness): Unit = if (h.cfg.trace) {
    val xs = (0 until 11).map { _ =>
      val t0 = System.nanoTime(); h.spark.range(1).count(); (System.nanoTime() - t0) / 1e6
    }.sorted
    h.layer("job_floor_ms") = Json.num(xs(xs.size / 2))
  }
}

/** RQ1/RQ4 zone-map pruning over the four layout arms. */
object ScanSfc {
  val Cols = Seq("l_quantity", "l_extendedprice")
  val Arms = Seq("baseline", "linear", "zorder", "hilbert")
  val Shapes = Seq("plain", "group_order_limit")

  def run(h: Harness): Unit = {
    val spark = h.spark
    val src = spark.read.parquet(s"${h.cfg.dataDir}/lineitem.parquet")
    val numFiles = h.cfg.int("files")
    val perBand = h.cfg.int("instances_per_band")
    val bands = graft.cli.Scenario.Bands

    val (dirs, instances) = h.setup {
      val stats = h.setupStep("profile.profile")(Profiler.profile(src.select(Cols.map(col): _*)))
      // instances(band): `perBand` seeded instances
      val insts = h.setupStep("wlg.fill") {
        bands.zipWithIndex.map { case ((band, sel), bi) =>
          Queries.fill(stats, Cols, sel, perBand, h.cfg.seed * 100 + bi).map(q => (band, sel, q))
        }
      }
      val dirs = Arms.map { arm =>
        val dir = s"${h.cfg.outDir}/tables/$arm"
        val m = h.setupStep(s"layout.write.$arm")(
          LayoutWriter.write(src, dir, LayoutSpec(arm, Cols, numFiles = Some(numFiles))))
        h.registerTable(dir, m.files.size.toLong, Queries.manifestBytes(m, dir))
        h.layer(s"file_bytes_cv.$arm") = Json.num(Queries.fileBytesCv(m))
        arm -> dir
      }
      (dirs, insts)
    }

    // The warm-up pass runs every instance of every band; a timed pass
    // p one instance per band, (p + bi) % perBand. Instance j takes the
    // shape j % 2, so each band has both shapes. Each instance runs
    // against every arm, the arm order rotated per instance. At least
    // three timed passes: with passes near half the window, a time limit
    // alone gave some runs two passes and others a third, warmer one.
    def query(bi: Int, j: Int, p: Int): Unit = {
      val (band, sel, q0) = instances(bi)(j)
      val q = Queries.reshape(q0, Cols, Shapes(j % Shapes.size))
      val k = (j + bi + p) % Arms.size
      for ((arm, dir) <- dirs.drop(k) ++ dirs.take(k)) {
        h.op("query", s"$band.${q.template}", arm, p, Seq(
          "sql" -> Json.str(q.sql), "band" -> Json.str(band), "target_sel" -> Json.num(sel)),
          table = dir) {
          Queries.run(h, dir, q.sql)
        }
        h.annotate(Queries.layerProbes(h, dir, Queries.preds(Cols, q)))
      }
    }
    h.window(minPasses = 3) { p =>
      for (bi <- instances.indices) {
        if (p == 0) (0 until perBand).foreach(query(bi, _, p))
        else query(bi, (p + bi) % perBand, p)
      }
      true
    }

    if (h.cfg.trace) {
      // curve-key throughput: the key expression alone, forced by an aggregate
      val bits = graft.curve.Curves.bitsFor(Cols.size)
      val rows = src.count()
      for (curve <- Seq("zorder", "hilbert")) {
        val key = LayoutWriter.curveKey(src, Cols, bits, curve)
        src.select(max(key)).collect() // warm
        val t0 = System.nanoTime()
        src.select(max(key)).collect()
        h.layer(s"curve_key_rows_per_s.$curve") = Json.num(rows / ((System.nanoTime() - t0) / 1e9))
      }
      Queries.jobFloor(h)
    }
  }
}

/** Keyed upserts with layout decay (RQ7), probed after every batch. */
object UpsertDecay {
  val Cols = Seq("l_shipdate", "l_receiptdate")
  val Keys = Seq("l_orderkey", "l_linenumber")
  val ProbeBands = Seq("S1", "S3")

  /** Probe instances of one band. wlg places the l_shipdate window at the
    * band's selectivity; the l_receiptdate window follows it (a receipt
    * comes 1-30 days after its shipment), so every probe lies along the
    * data's diagonal instead of missing it at random.
    */
  def probesFor(stats: Profiler.TableStats, band: Double, n: Int, seed: Long): Seq[QueryInstance] = {
    val spec = TemplateSpec(name = "plain",
      sql = Queries.shapeSql("plain", Queries.between(Cols, date = true)),
      params = Seq(RangeParam("p0", Cols.head, band)), constraints = Seq("p0_hi >= p0_lo"),
      n = n, mode = "lhs", seed = seed)
    WorkloadGen.fill(spec, stats, "{{tbl}}").map { q =>
      // date stats are epoch days; both engines parse DATE literals alike
      def day(k: String) = java.time.LocalDate.ofEpochDay(math.floor(q.params(k).toDouble).toLong)
      val (lo, hi) = (day("p0_lo"), day("p0_hi"))
      val ps = Map("p0_lo" -> lo, "p0_hi" -> hi, "p1_lo" -> lo, "p1_hi" -> hi.plusDays(30))
        .map { case (k, v) => k -> v.toString }
      q.copy(sql = WorkloadGen.render(spec.sql, ps + ("tbl" -> "{{tbl}}")), params = ps)
    }
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    val src = spark.read.parquet(s"${h.cfg.dataDir}/lineitem.parquet")
    val numFiles = h.cfg.int("files")
    val bands = graft.cli.Scenario.Bands.toMap

    val perBand = h.cfg.int("probes_per_band")
    val (dir, probes, setupBytes) = h.setup {
      val dir = s"${h.cfg.outDir}/tables/lineitem"
      val m = h.setupStep("layout.write.hilbert")(LayoutWriter.write(src, dir, LayoutSpec(
        "hilbert", Cols, numFiles = Some(numFiles), recordKeys = Keys,
        precombineCol = Some("l_commitdate"))))
      h.setupStep("keyindex.build")(KeyIndex.build(spark, dir))
      val stats = h.setupStep("profile.profile")(Profiler.profile(src.select(Cols.map(col): _*)))
      val probes = h.setupStep("wlg.fill")(ProbeBands.zipWithIndex.flatMap { case (b, i) =>
        probesFor(stats, bands(b), perBand, h.cfg.seed * 100 + i).map(b -> _)
      })
      val bytes = Queries.manifestBytes(m, dir)
      h.registerTable(dir, m.files.size.toLong, bytes)
      (dir, probes, bytes)
    }

    val setupRows = ZoneMap.read(dir).totalRows
    val bytesPerRow = setupBytes.toDouble / setupRows
    // the production 128 MB target would fold this small table into one
    // file; scale it so the table keeps its set-up file count
    val targetFileBytes = math.max(1L, setupBytes / numFiles)
    h.layer("setup_rows") = Json.num(setupRows)
    h.layer("setup_bytes_per_row") = Json.num(bytesPerRow)
    h.layer("target_file_bytes") = Json.num(targetFileBytes)

    var manifest = ZoneMap.read(dir)
    var sizes = Harness.fileSizes(dir)
    val batchDir = new java.io.File(s"${h.cfg.dataDir}/batches")
    val batches = Option(batchDir.list()).getOrElse(Array.empty[String]).sorted
    val bulkEvery = h.cfg.int("bulk_every")

    /** One batch through the upserter, then (when `probe`) the probes. */
    def batch(b: Int, p: Int, probe: Boolean = true): Unit = {
      val before = manifest
      h.op("upsert", batches(b), pass = p, fields = Seq("batch" -> Json.num(b.toLong),
        "bulk" -> (b % bulkEvery == bulkEvery - 1).toString)) {
        val r = Upserter.upsertResult(spark, dir, spark.read.parquet(s"${batchDir.getPath}/${batches(b)}"),
          targetFileBytes = targetFileBytes)
        manifest = r.manifest
        OpOut(fields = Seq("reclustered" -> r.reclustered.toString))
      }
      val after = Harness.fileSizes(dir)
      val added = after.filter { case (f, n) => !sizes.get(f).contains(n) }.values.sum
      val kept = manifest.files.map(_.path).toSet
      h.registerTable(dir, manifest.files.size.toLong, Queries.manifestBytes(manifest, dir))
      h.annotate(Seq(
        "bytes_added" -> Json.num(added),
        "files_rewritten" -> Json.num(before.files.count(f => !kept(f.path)).toLong),
        "files_after" -> Json.num(manifest.files.size.toLong),
        "rows_after" -> Json.num(manifest.totalRows),
        "commits_since_cluster" -> Json.num(manifest.commitsSinceCluster.getOrElse(0).toLong),
        "health_after" -> Json.num(Compactor.clusteringHealth(manifest).getOrElse(Double.NaN))))
      sizes = after
      for ((band, q) <- probes if probe) {
        h.op("probe", band, "hilbert", p, Seq("sql" -> Json.str(q.sql), "batch" -> Json.num(b.toLong)),
          table = dir) {
          Queries.run(h, dir, q.sql)
        }
        h.annotate(Queries.layerProbes(h, dir, Queries.preds(Cols, q)))
      }
    }

    // The recluster policy looks at the table from its
    // MinCommitsBetweenReclusters-th commit on, so the warm-up pass
    // commits one batch fewer, unprobed, and every timed upsert runs the
    // policy. With bulk batches at b % bulkEvery == bulkEvery - 1, the
    // first three timed passes upsert a small, a bulk and a small batch,
    // so the median pass is a small one, as four in five batches are.
    val warm = Compactor.MinCommitsBetweenReclusters - 1
    h.window(minPasses = 3) { p =>
      if (p == 0) { (0 until warm).foreach(batch(_, 0, probe = false)); true }
      else if (warm + p - 1 >= batches.length) false
      else { batch(warm + p - 1, p); true }
    }

    val end = ZoneMap.read(dir)
    val dirBytes = Harness.fileSizes(dir)
    h.layer("health_end") = Json.num(Compactor.clusteringHealth(end).getOrElse(Double.NaN))
    h.layer("files_total_end") = Json.num(end.files.size.toLong)
    h.layer("live_rows_end") = Json.num(end.totalRows)
    h.layer("table_bytes_end") = Json.num(dirBytes.values.sum)
    h.layer("manifest_bytes_end") = Json.num(dirBytes.collect {
      case (f, b) if f.contains(ZoneMap.ManifestName) => b }.sum)
    h.layer("sidecar_bytes_end") = Json.num(dirBytes.collect {
      case (f, b) if f.contains(KeyIndex.DirName) => b }.sum)
    Queries.jobFloor(h)
    // the final table, exported for the row-for-row check against the
    // window-dedup model of the batches that ran
    SfcTable.open(spark, dir).write.mode("overwrite").parquet(s"${h.cfg.outDir}/final_table")
  }
}

/** The training-data curation mix: operator-bound queries that never
  * touch the SFC layers.
  */
object CurationMix {
  val Sources = Seq("documents", "embeddings")

  def run(h: Harness): Unit = {
    val spark = h.spark
    val names = h.cfg.params("queries").split(",").toSeq
    for (t <- Sources) h.registerFile(s"${h.cfg.dataDir}/$t.parquet")
    h.setup {
      for (t <- Sources) h.setupStep(s"load.$t")(graft.Tables.load(spark, h.cfg.dataDir, t).count())
    }

    def runQuery(name: String): OpOut = {
      val df: DataFrame = graft.SparkEntry.queries(name)(spark, h.cfg.dataDir)
      try {
        val rows = df.collect()
        OpOut(Some(df.columns.toSeq -> rows.toSeq))
      } finally graft.runner.Materialize.releaseAllFast(spark)
    }
    h.window() { p =>
      names.foreach(n => h.op("query", n, pass = p)(runQuery(n)))
      true
    }
    Queries.jobFloor(h)
    h.layer("oracle_sql") = Json.obj(names.flatMap(n =>
      graft.SparkEntry.oracleSql.get(n).map(s => n -> Json.str(s))))
  }
}
