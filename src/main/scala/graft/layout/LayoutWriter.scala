package graft.layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.curve.{Curves, CurveExpressions}

/** Physical-layout writer — the reference's L1–L8 operator family
  * (reference: lakehouse_op/delta_write_layout.py:165-280,
  * hudi_write_layout.py:111-228, iceberg_write_layout.py:68-265) on plain
  * parquet + our zone-map manifest.
  *
  * Layouts:
  *  - `baseline`: write as-loaded (delta_write_layout.py:107,253)
  *  - `linear`:   sortWithinPartitions on the layout columns across
  *                deterministic quantile-cut files (delta_write_layout
  *                .py:165-181); the cuts come from the concatenated
  *                per-column codes, not sampled range bounds, so the
  *                build is reproducible (see the "linear" case below)
  *  - `zorder`:   Morton curve key; repartitionByRange + sort on the key
  *                (delegated in the reference: delta OPTIMIZE ZORDER BY)
  *  - `hilbert`:  Hilbert curve key (Hudi-only in the reference)
  *
  * The curve key is a codegen'd Catalyst expression over normalized
  * coordinates, so the pre-write sort stays inside whole-stage codegen.
  * Range-partitioning by the key gives near-global curve order with
  * bounded per-task memory — the multi-executor-safe equivalent of a
  * global sort, which is exactly how the engines implement clustering.
  */
object LayoutWriter {

  case class LayoutSpec(
      layout: String, // baseline | linear | zorder | hilbert
      cols: Seq[String] = Nil,
      bits: Option[Int] = None,
      numFiles: Option[Int] = None, // None → leave input partitioning
      recordKey: Option[String] = None,
      precombineCol: Option[String] = None,
      partitionBy: Seq[String] = Nil, // hive-style partition dirs (S3/P8)
      norm: String = "rank", // curve coordinate normalization: rank | minmax
      // composite record key (reference ComplexKeyGenerator,
      // tpch_all_loader.py:141-148); wins over `recordKey` when nonEmpty
      recordKeys: Seq[String] = Nil,
      // curve layouts: rebalance file BYTES after the write (round-18;
      // row-count cuts on curve-sorted data compress unevenly — RQ6
      // sf10 measured 2.4–7 MB files from equal-row cuts, straggling
      // full-scan task waves). false = keep the raw row-balanced cuts.
      byteBalance: Boolean = true) {

    /** The effective record-key tuple. */
    def keyCols: Seq[String] =
      if (recordKeys.nonEmpty) recordKeys else recordKey.toSeq
  }

  /** Columns the manifest keeps stats for: layout cols always; callers can
    * pass extras (e.g. partition-ish columns queried with equality).
    */
  def write(
      df: DataFrame,
      dir: String,
      spec: LayoutSpec,
      extraStatsCols: Seq[String] = Nil): TableManifest = {
    val spark = df.sparkSession
    require(
      Seq("baseline", "linear", "zorder", "hilbert").contains(spec.layout),
      s"unknown layout ${spec.layout}")
    val missing = spec.cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"layout columns not in schema: $missing")

    val bits = spec.bits.getOrElse(Curves.bitsFor(spec.cols.length))
    // string common-prefix offsets the curve key stripped — recorded in
    // the manifest below (advisor/observability; the health metric
    // re-derives its own skip from the manifest's global min/max so it
    // stays sound across appends that widen the prefix pool)
    var strOffsets = Map.empty[String, Int]
    // curve key expression, captured for the post-write byte-balance
    // pass (the Column is built from unresolved col() refs + literal
    // normalization state, so it re-applies to a re-read of the
    // written files unchanged)
    var balanceKey: Option[Column] = None
    val arranged = spec.layout match {
      case "baseline" =>
        spec.numFiles.map(df.repartition).getOrElse(df)
      case "linear" =>
        val cs = spec.cols.map(col)
        spec.numFiles match {
          case Some(n) if n > 1 && spec.cols.nonEmpty =>
            // Deterministic file cuts, same machinery as the curves: a
            // bare repartitionByRange(cs) samples range bounds with a
            // seed derived from the shuffle RDD's id (RangePartitioner.
            // sketch — session-history-dependent), so two builds of the
            // SAME spec land file boundaries differently and the layout
            // isn't reproducible (the per-arm sf64 schedule diverged
            // from the interleaved one on exactly this). Instead:
            // concatenate the per-column codes into a lexicographic key
            // (linear IS the k=1-interleave degenerate curve), place
            // cuts at its quantiles, and range-partition on the bucket
            // id alone — equal buckets never split across files, and
            // contiguous key ranges are contiguous lexicographic ranges,
            // so arbitrary cuts need no quadrant snapping (hilbert's
            // property, not zorder's). Rows still sort by the RAW
            // columns within each file; manifest min/max come from file
            // contents, so quantization fuzz at bucket edges cannot
            // affect pruning soundness.
            val bLin = math.min(bits, 52 / spec.cols.length)
            val (key, offs) =
              curveKeyAndOffsets(df, spec.cols, bLin, "linear", spec.norm)
            strOffsets = offs
            val keyed = df.withColumn("__graft_ck", key)
            val probes = (1 until n).map(_.toDouble / n).toArray
            val cuts = keyed.select(col("__graft_ck").cast("double").as("__d"))
              .stat.approxQuantile("__d", probes, 1.0 / (8 * n))
              .distinct.sorted
            val fid = CurveExpressions
              .bucketIndexCol(col("__graft_ck").cast("double"), cuts)
            exactPartition(keyed, fid, cuts.length + 1)
              .sortWithinPartitions(cs: _*)
              .drop("__graft_ck")
          case Some(n) if n > 1 =>
            df.repartitionByRange(n, cs: _*).sortWithinPartitions(cs: _*)
          case _ =>
            val parted = spec.numFiles
              .map(nf => df.repartitionByRange(nf, cs: _*))
              .getOrElse(df.repartitionByRange(cs: _*))
            parted.sortWithinPartitions(cs: _*)
        }
      case curve @ ("zorder" | "hilbert") =>
        val (key, offs) = curveKeyAndOffsets(df, spec.cols, bits, curve, spec.norm)
        strOffsets = offs
        balanceKey = Some(key)
        // Z-order with explicit file count: snap the file cuts to
        // power-of-two-aligned z-key boundaries. Sampling-placed cuts
        // land mid-quadrant, and a z-range that straddles a quadrant
        // boundary JUMPS spatially — both neighboring files inherit a
        // bounding box spanning the jump (measured ~2x pruning loss vs
        // hilbert, results/rq1 through r7). Aligned cuts make each file
        // a union of whole quadrants, so boxes stay tight; with rank
        // normalization the key mass is near-uniform, so snapping barely
        // moves the balance point. Hilbert needs none of this: its
        // adjacent cells are spatially adjacent, so arbitrary cuts
        // produce contiguous boxes already.
        spec.numFiles match {
          case Some(n) if n > 1 =>
            val totalBits = bits * spec.cols.length
            val keyed = df.withColumn("__graft_ck", key)
            val probes = (1 until n).map(_.toDouble / n).toArray
            val raw = keyed.select(col("__graft_ck").cast("double").as("__d"))
              .stat.approxQuantile("__d", probes, 1.0 / (8 * n))
              .map(_.toLong)
            val cuts = snapCuts(raw, totalBits)
            val fid = CurveExpressions
              .bucketIndexCol(col("__graft_ck").cast("double"), cuts.map(_.toDouble))
            // range-partition on the bucket id ALONE: equal fids can
            // never split across files, so every file is a union of
            // whole aligned buckets. (Adding the key as a secondary
            // range column was measured to WRECK this — the sampler
            // then places bounds mid-quadrant and neighboring files
            // span z-jumps again, 32x -> 10x files-ratio at S1.) A
            // snapped bucket with no data between its cuts merges into
            // a neighbor file — the written file count can fall 1-2
            // short of the target; balance holds because raw cuts are
            // data quantiles, so a merged file carries <= 2x target mass.
            keyed.repartitionByRange(n, fid)
              .sortWithinPartitions(col("__graft_ck"))
              .drop("__graft_ck")
          case Some(n) =>
            df.repartitionByRange(n, key).sortWithinPartitions(key)
          case None =>
            df.repartitionByRange(key).sortWithinPartitions(key)
        }
    }
    val writer = arranged.write.mode("overwrite")
    (if (spec.partitionBy.nonEmpty) writer.partitionBy(spec.partitionBy: _*)
     else writer).parquet(dir)

    // Byte-balance pass (round-18, RQ6 sf10 straggler class): the cuts
    // above equalize ROWS per file, but curve-sorted data compresses
    // unevenly across key regions, so file BYTES skew (measured 2.4–7
    // MB on the hilbert sf10 lineitem) and full-scan task waves
    // straggle. Split oversized files at snapped curve cuts / merge
    // runs of adjacent undersized files until sizes sit in a tight
    // band. No-op (one FS listing) when the write came out balanced.
    if (spec.byteBalance && balanceKey.isDefined &&
        spec.numFiles.forall(_ > 1) && bits * spec.cols.length <= 52)
      byteBalancePass(spark, dir, balanceKey.get, bits * spec.cols.length,
        spec.partitionBy)

    // Partition columns live in dir paths, not files, but come back as
    // regular columns on read — the per-file stats job sees them, so the
    // manifest prunes on them like any other column (partition pruning).
    // The record key always gets stats: Upserter's file-scoped COW needs
    // key zones to avoid rewriting the whole table.
    val keyCols = spec.keyCols
    val statsCols =
      (spec.cols ++ spec.partitionBy ++ keyCols ++ extraStatsCols).distinct
    // the stats pass's read infers the schema anyway; the manifest keeps
    // it so later readers and mutators need no inference job of their own
    val written = spark.read.parquet(dir)
    val files = ZoneMap.collectStatsDf(written, statsCols)
    val manifest = TableManifest(
      layout = spec.layout,
      layoutCols = spec.cols,
      bits = bits,
      statsCols = statsCols,
      // single keys stay on the legacy field (old manifests/readers
      // unchanged); composite tuples go to recordKeys
      recordKey = if (keyCols.length == 1) Some(keyCols.head) else None,
      recordKeys = if (keyCols.length > 1) Some(keyCols) else None,
      precombineCol = spec.precombineCol,
      files = files,
      partitionCols = if (spec.partitionBy.nonEmpty) Some(spec.partitionBy) else None,
      strOffsets = if (strOffsets.exists(_._2 > 0)) Some(strOffsets) else None,
      schema = Some(written.schema.json))
    ZoneMap.write(dir, manifest)
    manifest
  }

  /** Target size of a [[sortedRewrite]] sample: ample for the 2^10
    * per-column rank cuts, and the whole rewrite set of a small upsert.
    * Wide rewrites sample 64 rows per output file, up to
    * [[RewriteSampleMax]] rows on the driver.
    */
  private val RewriteSampleRows = 1L << 15
  private val RewriteSampleMax = 1L << 20

  /** Resolution of the sample's hash threshold. */
  private val SampleBuckets = 1L << 30

  private val RewriteKeyCol = "__graft_ck"

  /** Sorted copy-on-write rewrite of a partial file set (keyed upsert,
    * scoped compaction) into `numFiles` files in the table's recorded
    * layout order. The caller writes the result.
    *
    * One Spark job collects a deterministic sample of `sampleFrom`, the
    * rows the rewrite is built from (an upsert passes its pre-dedup
    * merge, so the sample scan needs no shuffle): a row is drawn iff the
    * xxhash64 of its layout and record-key values falls under a threshold
    * set by `sourceRows`, its estimated row count. The driver derives
    * from that sample both the per-column rank cuts that normalize the
    * curve coordinates (the rank normalization [[curveKeyAndOffsets]]
    * applies at write time; string columns strip the sample's common
    * prefix) and the file cuts on the curve key. Rows go to their file
    * through [[exactPartition]] and sort by (curve key, record key) —
    * the raw layout columns instead of the key for linear — behind the
    * hive partition columns, so the writer's partition ordering is a
    * prefix and the curve order reaches disk.
    *
    * The layout is a function of the input alone. A range partitioner
    * (`repartitionByRange`) would run a sampling job of its own, and its
    * sample seed folds in the shuffle's RDD id, so the same rewrite
    * landed different file cuts after different session histories.
    */
  def sortedRewrite(rows: DataFrame, sampleFrom: DataFrame, manifest: TableManifest,
      numFiles: Int, sourceRows: Long): DataFrame = {
    val cols = manifest.layoutCols
    require(cols.nonEmpty, "a sorted rewrite needs layout columns")
    val curve = manifest.layout
    val bits =
      if (curve == "linear") math.min(manifest.bits, 52 / cols.length) else manifest.bits
    val keys = manifest.keyCols
    val isStr = cols.map(c => rows.schema(c).dataType == StringType)

    val target = math.min(RewriteSampleMax, math.max(RewriteSampleRows, 64L * numFiles))
    val rate = target.toDouble / math.max(1L, sourceRows)
    val drawn =
      if (rate >= 1.0) sampleFrom
      else sampleFrom.filter(
        pmod(xxhash64((cols ++ keys).distinct.map(col): _*), lit(SampleBuckets)) <
          lit((rate * SampleBuckets).toLong))
    // strings come back raw: their code depends on the sample's prefix
    val sample = drawn.select(cols.zip(isStr).map { case (c, str) =>
      if (str) col(c) else doubleView(sampleFrom, c, Map.empty)
    }: _*).collect()

    val skips: Map[String, Int] = cols.indices.filter(isStr).map { i =>
      val vs = sample.iterator.filterNot(_.isNullAt(i)).map(_.getString(i)).toSeq
      cols(i) -> (if (vs.isEmpty) 0 else StringCode.commonPrefixLen(
        vs.reduce((a, b) => if (StrOrder.lte(a, b)) a else b),
        vs.reduce((a, b) => if (StrOrder.gte(a, b)) a else b)))
    }.toMap
    // per column, the sample's double views; NULL reads as NaN, which
    // bucket-indexes to the curve origin exactly as a NULL coordinate does
    val views: IndexedSeq[Array[Double]] = cols.indices.map { i =>
      sample.map { r =>
        if (r.isNullAt(i)) Double.NaN
        else if (isStr(i)) StringCode.code(r.getString(i), skips(cols(i)))
        else r.getDouble(i)
      }
    }
    val rankCuts = views.map { v =>
      val known = v.filterNot(_.isNaN)
      java.util.Arrays.sort(known)
      sampleCuts(known, 1 << math.min(bits, 10))
    }
    // driver twin of CurveExpressions.rankNormalizedCol
    val scales = rankCuts.map(c => (1L << bits).toDouble / (c.length + 1))
    val coords = new Array[Long](cols.length)
    val sampleKeys = Array.tabulate(sample.length) { r =>
      cols.indices.foreach { i =>
        coords(i) = math.floor(Curves.bucketIndex(rankCuts(i), views(i)(r)) * scales(i)).toLong
      }
      curveKeyOf(curve, bits, coords)
    }
    java.util.Arrays.sort(sampleKeys)
    val fileCuts = sampleCuts(sampleKeys.map(_.toDouble), numFiles)

    val key = curveKeyCol(curve, bits, cols.indices.map(i =>
      CurveExpressions.rankNormalizedCol(doubleView(rows, cols(i), skips), rankCuts(i), bits)))
    val fid = CurveExpressions.bucketIndexCol(col(RewriteKeyCol).cast(DoubleType), fileCuts)
    val order = manifest.hivePartitions.map(col) ++
      (if (curve == "linear") cols.map(col) else Seq(col(RewriteKeyCol))) ++ keys.map(col)
    exactPartition(rows.withColumn(RewriteKeyCol, key), fid, fileCuts.length + 1)
      .sortWithinPartitions(order: _*)
      .drop(RewriteKeyCol)
  }

  /** The `parts - 1` interior quantile cuts of an ascending sample,
    * duplicates dropped; none for an empty sample.
    */
  private def sampleCuts(sorted: Array[Double], parts: Int): Array[Double] =
    if (sorted.isEmpty) Array.empty
    else (1 until parts).map(j => sorted((j.toLong * sorted.length / parts).toInt))
      .distinct.toArray

  /** Interleave normalized coordinates into the layout's ordering key. */
  private def curveKeyCol(curve: String, bits: Int, norms: Seq[Column]): Column =
    curve match {
      case "hilbert" => CurveExpressions.hilbertvalue(bits, norms: _*)
      case "linear" =>
        // lexicographic concatenation: code(0) in the high bits, ties
        // broken by code(1), ... — linear as the degenerate curve whose
        // "interleave" is per-column blocks (caller caps bits so the
        // total stays double-exact for the quantile/bucket casts)
        norms.reduceLeft((hi, lo) => hi * lit(1L << bits) + lo)
      case _ => CurveExpressions.zvalue(bits, norms: _*)
    }

  /** Driver twin of [[curveKeyCol]]. */
  private def curveKeyOf(curve: String, bits: Int, coords: Array[Long]): Long =
    curve match {
      case "hilbert" => Curves.hilbertValue(coords, bits)
      case "linear" => coords.reduceLeft((hi, lo) => hi * (1L << bits) + lo)
      case _ => Curves.zValue(coords, bits)
    }

  /** Curve-key expression: normalize each layout column to [0, 2^bits),
    * then interleave. Null coordinates sort to the curve origin.
    *
    * `norm = "rank"` (default): equi-depth quantile buckets (one
    * approxQuantile pass over all layout columns at write time; the
    * production z-order approach — Delta's OPTIMIZE ZORDER partitions
    * each column by range_partition_id for the same reason). Skewed or
    * clustered value distributions get uniform coordinate mass, so
    * every interleaved bit carries signal. `norm = "minmax"`: linear
    * scaling from the global [min, max] — cheaper to compute, but a
    * skewed column collapses onto few coordinates (SURVEY §7.3's
    * skew-normalization risk, observed as z-order losing to linear on
    * correlated TPC-H value columns in results/rq1-rq2 through r7).
    */
  def curveKey(df: DataFrame, cols: Seq[String], bits: Int, curve: String,
      norm: String = "rank"): Column =
    curveKeyAndOffsets(df, cols, bits, curve, norm)._1

  /** [[curveKey]] plus the string common-prefix offsets it stripped
    * (column → skipped code points, string layout columns only) so
    * [[write]] can record them in the manifest for observability and
    * the advisor.
    */
  def curveKeyAndOffsets(df: DataFrame, cols: Seq[String], bits: Int,
      curve: String, norm: String = "rank"): (Column, Map[String, Int]) = {
    require(Seq("rank", "minmax").contains(norm), s"unknown curve norm $norm")
    // One extra min/max aggregate, string layout columns only: the skip
    // offsets that keep deep-common-prefix id pools (ASIN "B0...",
    // tenant-prefixed UUIDs) from collapsing the curve coordinate to a
    // single value (StringCode doc; results/rq1_amazon C1deep measured
    // curves at 1x files-ratio vs linear 12x before the strip).
    val strSkips = StringCode.offsets(df, cols)
    val norms =
      if (norm == "rank") {
        // one quantile pass for ALL columns; 2^10 equi-depth buckets per
        // column is resolution far beyond any realistic file count, and
        // duplicate cuts (hot values / low ndv) collapse harmlessly
        val b = math.min(bits, 10)
        val probes = (1 until (1 << b)).map(_.toDouble / (1 << b)).toArray
        val viewNames = cols.indices.map(i => s"__cv_$i")
        val view = df.select(cols.zip(viewNames).map { case (c, a) =>
          doubleView(df, c, strSkips).as(a)
        }: _*)
        val cuts = view.stat.approxQuantile(viewNames.toArray, probes, 0.001)
        cols.indices.map { i =>
          val sortedCuts = cuts(i).distinct.sorted
          CurveExpressions.rankNormalizedCol(
            doubleView(df, cols(i), strSkips), sortedCuts, bits)
        }
      } else {
        val bounds = colBounds(df, cols, strSkips)
        cols.map { c =>
          val (lo, hi) = bounds(c)
          CurveExpressions.normalizedCol(doubleView(df, c, strSkips), lo, hi, bits)
        }
      }
    (curveKeyCol(curve, bits, norms), strSkips)
  }

  /** Double view of a column for normalization (dates → days, timestamps →
    * epoch seconds, strings → a lexicographic prefix code so string
    * columns can participate in curve keys).
    */
  private def doubleView(df: DataFrame, c: String,
      strSkips: Map[String, Int]): Column =
    df.schema(c).dataType match {
      case _: NumericType => col(c).cast(DoubleType)
      case DateType => datediff(col(c), lit("1970-01-01").cast(DateType)).cast(DoubleType)
      case TimestampType | TimestampNTZType =>
        // NTZ values are interpreted in the (UTC) session zone — only the
        // ordering matters for curve coordinates. Fractional seconds via
        // a double cast (matches ZoneMap's stats domain).
        col(c).cast(TimestampType).cast(DoubleType)
      case StringType =>
        // the shared prefix code, common prefix stripped (StringCode doc)
        StringCode.codeColumn(col(c), strSkips.getOrElse(c, 0))
      case dt => throw new IllegalArgumentException(s"cannot curve-order $c: $dt")
    }

  /** Shuffle each row to EXACTLY partition `fid` (0 <= fid < n).
    *
    * `repartitionByRange(n, fid)` on a discrete bucket id cannot do
    * this: RangePartitioner's boundary placement over n equal-mass
    * values is a per-cut coin flip on its sample (buckets merge, file
    * counts fall short), and the sample seed folds in the shuffle RDD's
    * id, so the outcome is session-history-dependent. Instead, hash-
    * partition on a driver-computed remap value v(p) chosen so that
    * pmod(murmur3(v), n) == p — HashPartitioning's own routing function
    * (functions.hash is the same Murmur3/seed-42) then sends bucket p
    * precisely to partition p. No Spark job: [[exactPartitionRemap]]
    * runs that routing function on the driver.
    */
  private[layout] def exactPartition(df: DataFrame, fid: Column, n: Int): DataFrame = {
    val route = element_at(
      array(exactPartitionRemap(n).map(lit(_)).toIndexedSeq: _*), (fid + 1).cast("int"))
    df.repartition(n, route)
  }

  /** remap(p) = the smallest v >= 0 that HashPartitioning routes to
    * partition p of n: pmod(Murmur3_x86_32.hashLong(v, 42), n) == p, the
    * hash `functions.hash` and the shuffle compute for a long. Expected
    * n·ln n candidates (coupon collector).
    */
  private[layout] def exactPartitionRemap(n: Int): Array[Long] = {
    val remap = new Array[Long](n)
    val seen = new Array[Boolean](n)
    var found = 0
    var v = 0L
    while (found < n) {
      val p = math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42), n)
      if (!seen(p)) { seen(p) = true; remap(p) = v; found += 1 }
      v += 1
    }
    remap
  }

  /** Snap each sampled z-key cut to the COARSEST power-of-two boundary
    * that stays within its slack window (half the gap to each neighbor
    * cut, so rough balance is preserved). Coarser alignment = whole
    * quadrants at a higher level = tighter per-file bounding boxes.
    * Sequential: each window is additionally floored just above the
    * previous snapped cut, so the cut COUNT survives (file sizing is a
    * real constraint — merging cuts doubles a file). Pathological
    * integer-adjacent cuts may still collide; the final distinct only
    * fires then.
    */
  private[layout] def snapCuts(raw: Array[Long], totalBits: Int): Array[Long] = {
    val sorted = raw.sorted.distinct
    val domainHi = if (totalBits >= 63) Long.MaxValue else 1L << totalBits
    val out = new Array[Long](sorted.length)
    var prev = 0L
    for (i <- sorted.indices) {
      val c = sorted(i)
      // symmetric half-gap windows; edge cuts mirror their inner gap
      // (extending an edge window to the domain bound lets the snap run
      // away to a coarse boundary past the data, emptying an edge file)
      val gapL =
        if (i > 0) (c - sorted(i - 1)) / 2
        else if (sorted.length > 1) (sorted(1) - c) / 2
        else c / 2
      val gapR =
        if (i < sorted.length - 1) (sorted(i + 1) - c) / 2
        else gapL
      val hi = math.min(c + gapR, domainHi)
      val lo = math.max(math.max(c - gapL, 1L), prev + 1)
      var best = math.min(math.max(c, lo), hi)
      var k = totalBits - 1
      var found = false
      while (k >= 0 && !found) {
        val a = 1L << math.min(k, 62)
        val down = (c / a) * a
        val up = down + a
        if (down >= lo && down <= hi) { best = down; found = true }
        else if (up >= lo && up <= hi) { best = up; found = true }
        else k -= 1
      }
      out(i) = best
      prev = best
    }
    out.distinct
  }

  /** One byte-balance rewrite unit: `paths` are consecutive-in-curve-
    * order files (within one hive partition dir) rewritten into
    * `pieces` output files cut at snapped curve boundaries.
    */
  private[layout] case class BalanceGroup(paths: Seq[String], bytes: Long,
      pieces: Int)

  /** Greedy size-banding over files in curve order (pure; suite-pinned).
    * Files inside [tolLow, tolHigh]×target are left untouched — the
    * common balanced case rewrites NOTHING. An oversized file becomes
    * its own group split into round(bytes/target) pieces; runs of
    * consecutive undersized files merge (and re-split if the run grew
    * past the band). A trailing single undersized file stays — one
    * small edge file is cheaper than rewriting it forever.
    */
  private[layout] def balancePlan(
      files: Seq[(String, Long)],
      target: Long,
      tolHigh: Double = 1.3,
      tolLow: Double = 0.7): Seq[BalanceGroup] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[BalanceGroup]
    var run = List.empty[(String, Long)]
    var runBytes = 0L
    // ceil against 1.2x target: no PLANNED piece may exceed ~1.2x the
    // mean — rounding (round(bytes/target)) let a merge run flushed at
    // 1.38-1.6x target collapse to ONE oversized piece, which put the
    // sf10 hilbert max/median spread at 1.63x (> the 1.5x bar) even
    // after balancing
    def pieces(bytes: Long, atLeast: Int): Int =
      math.max(atLeast, math.ceil(bytes.toDouble / (1.2 * target)).toInt)
    def flushRun(): Unit = {
      if (run.length >= 2)
        out += BalanceGroup(run.reverse.map(_._1), runBytes, pieces(runBytes, 1))
      run = Nil; runBytes = 0L
    }
    for ((p, b) <- files) {
      if (b > tolHigh * target) {
        flushRun()
        out += BalanceGroup(Seq(p), b, pieces(b, 2))
      } else if (b < tolLow * target) {
        // close an already-acceptable run rather than grow it past the
        // piece ceiling (a 0.8t run + 0.6t file = one 1.4t piece or
        // two 0.7t pieces; flushing first yields 0.8t + a fresh run)
        if (runBytes >= 0.75 * target && runBytes + b > 1.2 * target) flushRun()
        run ::= (p, b); runBytes += b
        if (runBytes >= 0.9 * target) flushRun()
      } else flushRun()
    }
    if (run.length >= 2) flushRun() // trailing run merges; a single stays
    out.toSeq
  }

  /** Post-write byte balancing of a curve layout (round-18): list the
    * written files per hive partition dir (curve order == part-name
    * order: files come from one repartitionByRange job), plan
    * [[balancePlan]] groups against target = mean file bytes, and
    * rewrite each group into byte-balanced pieces cut at
    * [[snapCuts]]-aligned curve boundaries (interior cuts from one
    * percentile pass per batch, so a whole pass is TWO Spark jobs over
    * only the skewed tail — nothing when the write came out balanced).
    * Scale: at 100 TB the rewrite cost is proportional to the skewed
    * byte mass, not the table; group count per job is capped so the
    * CASE dispatch expression stays small.
    */
  private[layout] def byteBalancePass(
      spark: SparkSession,
      dir: String,
      key: Column,
      totalBits: Int,
      hiveCols: Seq[String]): Unit = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.startsWith("part-")) Seq(s)
        else Nil
      }
    val all = walk(root)
    if (all.length < 2) return
    // target = MEDIAN first-write size, not mean: the mean is inflated
    // by the oversized tail this pass exists to remove, so an
    // untouched "in band" file (<= 1.3x mean) could still sit 1.6x
    // above the post-balance median (measured on the sf10 hilbert
    // lineitem: kept 3.64 MB = 1.3 x mean 2.80 vs final median 2.23).
    // Banding against the median keeps max/median <= ~1.3 by
    // construction.
    val sorted = all.map(_.getLen).sorted
    val target = math.max(1L, sorted(sorted.length / 2))
    val groups = all.groupBy(_.getPath.getParent.toString).toSeq
      .flatMap { case (_, inDir) =>
        balancePlan(
          inDir.sortBy(_.getPath.getName)
            .map(s => (s.getPath.toString, s.getLen)),
          target)
      }
    if (groups.isEmpty) return
    groups.grouped(MaxGroupsPerJob).foreach(batch =>
      rewriteGroups(spark, dir, batch, key, totalBits, hiveCols))
    // listings are cached across queries (FileStatusCache) — drop them
    // so the stats pass and readers see the post-balance file set
    spark.catalog.refreshByPath(dir)
  }

  /** CASE-dispatch bound per rewrite job (expression size / codegen). */
  private[layout] val MaxGroupsPerJob = 128

  /** Common quantile grid for per-group interior cuts: one
    * percentile_approx aggregate serves every group in the batch; a
    * group needing k pieces picks the nearest grid points to i/k
    * (placement error ≤ 1/(2·Grid) of the group's rows).
    */
  private val Grid = 24

  private def rewriteGroups(
      spark: SparkSession,
      dir: String,
      groups: Seq[BalanceGroup],
      key: Column,
      totalBits: Int,
      hiveCols: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partitioned = hiveCols.nonEmpty
    val allPaths = groups.flatMap(_.paths)
    val df0 = StagedRewrite.readFiles(spark, dir, allPaths, partitioned)

    // file → group id via input_file_name, scheme-normalized on both
    // sides ("file:///x" and "file:/x" both → "/x")
    // RAW (still-encoded) URI path: input_file_name() returns the
    // URI-ENCODED form, so a decoded getPath would never match a table
    // path containing a space/%/non-ASCII char (every row would fall to
    // the otherwise(-1) piece and the balance pass would merge whole
    // dirs). Both sides stay in the encoded form.
    def norm(p: String): String = new Path(p).toUri.getRawPath
    val gidPairs = groups.zipWithIndex.flatMap { case (g, i) =>
      g.paths.flatMap(p => Seq(lit(norm(p)), lit(i)))
    }
    val fileNorm = regexp_replace(
      input_file_name(), "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/+", "/")
    val gid = element_at(map(gidPairs: _*), fileNorm)
    val keyd = key.cast(DoubleType)

    // one quantile+bounds job for every group that splits; cuts snap
    // inside the group's own key range ([[snapCutsIn]])
    val fracs = (1 until Grid).map(_.toDouble / Grid)
    val quants: Map[Int, (Array[Double], Long, Long)] =
      if (!groups.exists(_.pieces > 1)) Map.empty
      else df0.select(gid.as("__gid"), keyd.as("__k"))
        .groupBy(col("__gid"))
        .agg(percentile_approx(
            col("__k"), array(fracs.map(lit): _*), lit(10000)).as("q"),
          min(col("__k")).as("lo"), max(col("__k")).as("hi"))
        .collect()
        .map(r => r.getInt(0) -> (r.getSeq[Double](1).toArray,
          r.getDouble(2).toLong, r.getDouble(3).toLong)).toMap
    val pieceCuts: IndexedSeq[Array[Long]] = groups.indices.map { i =>
      val k = math.min(groups(i).pieces, Grid)
      if (k <= 1) Array.empty[Long]
      else {
        val (qs, lo, hi) = quants(i)
        val raw = (1 until k).map { j =>
          val idx = math.min(Grid - 1, math.max(1,
            math.round(j.toDouble * Grid / k).toInt))
          qs(idx - 1).toLong
        }.toArray
        snapCutsIn(raw, totalBits, lo, hi)
      }
    }
    // dense global piece ids: group i's pieces start at bases(i)
    val bases = pieceCuts.scanLeft(0L)((acc, c) => acc + c.length + 1)
    val pid = groups.indices.tail
      .foldLeft(when(gid === 0, pieceExpr(bases(0), pieceCuts(0), keyd))) {
        (acc, i) => acc.when(gid === i, pieceExpr(bases(i), pieceCuts(i), keyd))
      }.otherwise(lit(-1L))

    // exact file-per-piece via dynamic partitionBy on __piece: hash
    // collisions of piece ids in one task still write separate files.
    // The sort satisfies the writer's required (partition-cols)
    // ordering as a prefix, so no extra sort is inserted and the curve
    // order inside each piece survives to disk.
    val staging = dir.stripSuffix("/") + ".balance_tmp"
    val out = df0.withColumn("__piece", pid)
      .repartition(col("__piece"))
      .sortWithinPartitions(hiveCols.map(col) ++ Seq(col("__piece"), key): _*)
    out.write.mode("overwrite")
      .partitionBy((hiveCols :+ "__piece"): _*).parquet(staging)

    // move pieces in (strip the __piece=N path segment, uniquify the
    // part name with it), then drop the originals
    val stagingPath = new Path(staging)
    val stagingUri = stagingPath.toUri.getPath
    def partFiles(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) partFiles(s.getPath)
        else if (s.getPath.getName.startsWith("part-")) Seq(s.getPath)
        else Nil
      }
    partFiles(stagingPath).foreach { src =>
      val rel = src.toUri.getPath.stripPrefix(stagingUri).stripPrefix("/")
      val segs = rel.split("/")
      val pieceId = segs.find(_.startsWith("__piece="))
        .map(_.stripPrefix("__piece=")).getOrElse("0")
      val kept = segs.filterNot(_.startsWith("__piece="))
      val name = kept.last.stripSuffix(".parquet") + s"-b$pieceId.parquet"
      val dst = new Path(dir, (kept.init :+ name).mkString("/"))
      fs.mkdirs(dst.getParent)
      fs.rename(src, dst)
    }
    fs.delete(stagingPath, true)
    allPaths.foreach(p => fs.delete(new Path(p), false))
  }

  private def pieceExpr(base: Long, cuts: Array[Long], keyd: Column): Column =
    if (cuts.isEmpty) lit(base)
    else lit(base) + CurveExpressions.bucketIndexCol(keyd, cuts.map(_.toDouble))

  /** [[snapCuts]] with EXPLICIT domain bounds — the group-local variant
    * the byte-balance pass needs. The global snapCuts mirrors each edge
    * cut's inner gap to build its slack window; inside one small group
    * (often a single cut from a single split file) that mirror window
    * spans far past the group's actual key range, and a snap landing
    * outside [lo, hi] puts every row in one piece — no split at all
    * (caught by ByteBalanceSuite). Here the windows are half-gaps
    * against the group's own [lo, hi] endpoints and the result is
    * clamped strictly inside them, so every cut lands where the group
    * has data on both sides while still preferring the coarsest aligned
    * boundary that fits.
    */
  private[layout] def snapCutsIn(
      raw: Array[Long], totalBits: Int, lo: Long, hi: Long): Array[Long] = {
    val sorted = raw.sorted.distinct.filter(c => c > lo && c <= hi)
    if (sorted.isEmpty || hi <= lo) return Array.empty
    val out = new Array[Long](sorted.length)
    var prev = lo
    for (i <- sorted.indices) {
      val c = sorted(i)
      val gapL = (c - (if (i > 0) sorted(i - 1) else lo)) / 2
      val gapR = ((if (i < sorted.length - 1) sorted(i + 1) else hi) - c) / 2
      val winHi = math.min(c + gapR, hi)
      val winLo = math.max(c - gapL, prev + 1)
      var best = math.min(math.max(c, winLo), winHi)
      var k = totalBits - 1
      var found = false
      while (k >= 0 && !found) {
        val a = 1L << math.min(k, 62)
        val down = (c / a) * a
        val up = down + a
        if (down >= winLo && down <= winHi) { best = down; found = true }
        else if (up >= winLo && up <= winHi) { best = up; found = true }
        else k -= 1
      }
      out(i) = best
      prev = best
    }
    out.distinct
  }

  private def colBounds(df: DataFrame, cols: Seq[String],
      strSkips: Map[String, Int]): Map[String, (Double, Double)] = {
    val aggs = cols.flatMap { c =>
      val d = doubleView(df, c, strSkips)
      Seq(min(d).as(s"__lo_$c"), max(d).as(s"__hi_$c"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.map { c =>
      val lo = Option(r.getAs[java.lang.Double](s"__lo_$c")).map(_.doubleValue).getOrElse(0d)
      val hi = Option(r.getAs[java.lang.Double](s"__hi_$c")).map(_.doubleValue).getOrElse(0d)
      c -> (lo, hi)
    }.toMap
  }
}
