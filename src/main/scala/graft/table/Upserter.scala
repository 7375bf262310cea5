package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.layout._

/** Keyed copy-on-write upsert on a plain-parquet + zone-map table — the
  * reference's L9 (Hudi upsert with record key + precombine field;
  * reference: lakehouse_op/hudi_upsert.py:114-280, payload semantics of
  * OverwriteWithLatestAvroPayload: latest precombine wins, incoming wins
  * ties).
  *
  * Scale design (copy-on-write, file-scoped): only files whose record-key
  * zone intersects the batch's key range are rewritten; untouched files
  * and their manifest entries survive as-is. Cost is O(affected files +
  * batch), not O(table) — the same asymptotics as Hudi COW.
  */
object Upserter {

  /** Align `batch` to `schema`: add missing columns as typed nulls, cast
    * matching ones, project in table order (reference 3-tier align:
    * hudi_upsert.py:114-162 — tier 1, Spark schema read, suffices here).
    */
  def alignSchema(batch: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val aligned = schema.fields.foldLeft(batch) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }
    aligned.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  /** Above this many batch rows the affected-file test falls back
    * from the exact key-set (NumIn) to the key RANGE: the driver collect
    * stays bounded, and a batch that large intersects most zones anyway.
    */
  val KeyPruneLimit: Int = 100000

  /** What [[upsertResult]] reports: the refreshed manifest and whether
    * the auto-recluster policy fired after the commit.
    */
  case class UpsertResult(manifest: TableManifest, reclustered: Boolean)

  /** Test seam: runs after the rewrite is staged and BEFORE the CAS
    * commit loop — a suite can run a whole competing upsert here to
    * exercise the rebase/abort paths deterministically (a thread race
    * would make which writer rebases nondeterministic).
    */
  private[table] var testHookBeforeCommit: () => Unit = () => ()

  /** Upsert `batch` into the layout table at `dir`. Returns the refreshed
    * manifest. Record key tuple (single or composite), precombine
    * column and the table's Spark schema come from the manifest, so no
    * read of the table infers a schema.
    *
    * Spark jobs of a small sorted upsert with a key index, in order: the
    * key census (one bounded collect that also rejects NULL record
    * keys), the bloom lookup, the rewrite's layout sample, the write
    * (its dedup and routing shuffles included), the new files' stats and
    * their bloom rows.
    *
    *  - `sortRewrites`: re-run the recorded layout sort WITHIN the
    *    rewritten file set ([[graft.layout.LayoutWriter.sortedRewrite]]:
    *    cuts from one deterministic sample), so a
    *    scattered upsert degrades pruning proportionally to the bytes it
    *    touches instead of collapsing it to 1x (the RQ7 decay cliff,
    *    results/rq7_layout/). DEFAULT ON since round 14 (a no-op for
    *    baseline tables, which declare no layout): the plain path decays
    *    to the cliff in one scattered commit AND bloats storage ~21%
    *    (results/rq7 sorted-vs-plain decay study), so unsorted COW is
    *    the measurement mode, not the production default.
    *  - `autoRecluster`: after the commit, [[graft.layout.Compactor
    *    .maybeRecluster]] re-clusters the whole table iff the manifest's
    *    clustering health crossed the decay threshold AND enough keyed
    *    commits accumulated since the last recluster (manifest math
    *    only when healthy). On by default: an unattended update stream
    *    self-heals, at a bounded recluster rate.
    */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame,
      sortRewrites: Boolean = true, autoRecluster: Boolean = true,
      targetFileBytes: Long = Compactor.DefaultTargetFileBytes): TableManifest =
    upsertResult(spark, dir, batch, sortRewrites, autoRecluster,
      targetFileBytes).manifest

  def upsertResult(spark: SparkSession, dir: String, batch: DataFrame,
      sortRewrites: Boolean = true, autoRecluster: Boolean = true,
      targetFileBytes: Long = Compactor.DefaultTargetFileBytes): UpsertResult = {
    val manifest = ZoneMap.read(dir)
    // entry reconcile (round-11 ADVICE): purge manifest-unreferenced part
    // files a crashed prior mutation may have left behind
    StagedRewrite.reconcile(spark, dir, manifest)
    val partitioned = manifest.hivePartitions.nonEmpty
    val keys = manifest.keyCols
    if (keys.isEmpty)
      throw new IllegalArgumentException(s"$dir has no recordKey — cannot upsert")
    val precombine = manifest.precombineCol

    // the manifest's recorded schema (no footer-inference job; a legacy
    // manifest infers it once here and this commit records it)
    val schema = ZoneMap.schemaOf(spark, dir, manifest)
    val alignedBatch = alignSchema(batch, schema)

    // File-scoped COW: find files whose key zones intersect the batch
    // keys — by exact key SET per key column when the batch's key
    // tuples fit the driver bound (scattered keys then only touch the
    // files that actually hold them: a 1k-key batch over an 800k-file
    // table rewrites <=1k file groups, where a [min,max] range test
    // would rewrite all), by per-column key range otherwise. Values are
    // normalized EXACTLY as the zone stats are (ZoneMap.numericView:
    // dates → epoch days, timestamps → epoch seconds — Spark 4 refuses
    // CAST(DATE AS DOUBLE), the round-13 date-key crash); string keys
    // prune through StrIn/StrBetween. For a composite key the
    // per-column IN conjunction is a superset of the tuple set — sound.
    // ONE bounded collect, the key census, also yields the xxhash64
    // tuple hashes the bloom sidecar probe uses (computed on the raw
    // typed columns, so longs above 2^53 never round — round-13 ADVICE).
    // It is one Spark job however the batch is partitioned: one task
    // reads the batch's key tuples until the bound (bounded work either
    // way), and the driver deduplicates them. A distinct() would add a
    // shuffle, and a take over many partitions more jobs, to every upsert.
    val statsKeys = keys.filter(manifest.statsCols.contains)
    val zoneCols: Seq[(String, Boolean, org.apache.spark.sql.Column)] =
      statsKeys.zipWithIndex.map { case (k, i) =>
        ZoneMap.numericView(schema(k).dataType, k) match {
          case Some(num) => (k, true, num.as(s"__z_$i"))
          case None => (k, false, col(k).cast("string").as(s"__z_$i"))
        }
      }
    // NULL record keys are rejected loudly (Hudi behavior): a null-key
    // row can't be scoped by zones or blooms, so it would bypass the
    // file-scoped dedup — null-key rows sitting in unaffected files are
    // never deduped against, and repeated upserts of the same null-key
    // row would silently accumulate duplicates (round-14 ADVICE). The
    // check rides on the key census: a NULL-key row is a tuple flagged
    // `__null` (every row is collected when the census fits the bound),
    // and the key-range aggregate past the bound counts them.
    val anyNullKey = keys.map(col(_).isNull).reduce(_ || _)
    def rejectNullKeys(): Nothing =
      throw new IllegalArgumentException(
        s"upsert batch for $dir has NULL record-key values in " +
          s"(${keys.mkString(", ")}) — null record keys are not " +
          "upsertable (same contract as Hudi); filter or fill them first")
    val tuples: Array[org.apache.spark.sql.Row] = alignedBatch
      .select((anyNullKey.as("__null") +: KeyIndex.keyHashCol(keys).as("__h") +:
        zoneCols.map(_._3)): _*)
      .coalesce(1).limit(KeyPruneLimit + 1).collect()
    val exact = tuples.length <= KeyPruneLimit
    if (exact && tuples.exists(_.getBoolean(0))) rejectNullKeys()
    // with the zone predicates, the batch's row count for the rewrite's
    // sample rate: the census rows, or the range aggregate's count
    val (preds, batchRows): (Seq[ZonePredicate], Long) =
      if (exact)
        (zoneCols.zipWithIndex.map { case ((k, isNum, _), i) =>
          if (isNum)
            NumIn(k, tuples.iterator.map(_.getDouble(i + 2)).toSeq.distinct)
          else StrIn(k, tuples.iterator.map(_.getString(i + 2)).toSeq.distinct)
        }, tuples.length.toLong)
      else {
        // too many tuples for the driver bound: per-column
        // [min,max] conjunction via one distributed agg, which also
        // counts the batch's rows and its NULL-key rows
        val aggs = count(lit(1)).as("__rows") +: count(when(col("__null"), 1)).as("__nulls") +:
          zoneCols.indices.flatMap { i =>
            Seq(min(col(s"__z_$i")).as(s"__lo_$i"), max(col(s"__z_$i")).as(s"__hi_$i"))
          }
        val r = alignedBatch
          .select((anyNullKey.as("__null") +: zoneCols.map(_._3)): _*)
          .agg(aggs.head, aggs.tail: _*).collect()(0)
        if (r.getAs[Long]("__nulls") > 0) rejectNullKeys()
        (zoneCols.zipWithIndex.map { case ((k, isNum, _), i) =>
          if (isNum) {
            val lo = Option(r.getAs[java.lang.Double](s"__lo_$i"))
              .map(_.doubleValue).getOrElse(0d)
            val hi = Option(r.getAs[java.lang.Double](s"__hi_$i"))
              .map(_.doubleValue).getOrElse(0d)
            NumBetween(k, lo, hi)
          } else {
            val lo = Option(r.getAs[String](s"__lo_$i")).getOrElse("")
            val hi = Option(r.getAs[String](s"__hi_$i")).getOrElse("")
            StrBetween(k, lo, hi)
          }
        }, r.getAs[Long]("__rows"))
      }
    val (affected0, untouched0) =
      if (preds.isEmpty) (manifest.files, Seq.empty[FileEntry])
      else manifest.files.partition(f => preds.forall(_.mayMatch(f)))
    // Key-index refinement (round 13): on a layout ORTHOGONAL to the
    // record key every file's key zone spans the whole domain and the
    // zone test above keeps everything; the per-file bloom sidecar
    // (KeyIndex.build, the Hudi bloom-index analog) drops every
    // indexed file whose bloom excludes all batch key-tuple hashes.
    // Fail-safe: blooms only false-positive, unindexed files stay
    // affected.
    val (affected, untouched) =
      if (exact && KeyIndex.exists(dir)) {
        val hashes = tuples.iterator.map(_.getLong(1)).toSeq.distinct
        KeyIndex.affectedPaths(spark, dir, hashes, manifest) match {
          case Some(paths) =>
            val (a, skipped) = affected0.partition(f =>
              paths.contains(KeyIndex.norm(f.path)))
            (a, untouched0 ++ skipped)
          case None => (affected0, untouched0)
        }
      } else (affected0, untouched0)

    val existing =
      if (affected.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else StagedRewrite.readFiles(spark, dir, affected.map(_.path), partitioned, Some(schema))

    // Dedup on the key TUPLE: max precombine wins; the incoming batch
    // wins ties (__src=1).
    val merged = existing.withColumn("__src", lit(0))
      .unionByName(alignedBatch.withColumn("__src", lit(1)))
    val keyPart = keys.map(col)
    val ordered = precombine match {
      case Some(pc) => Window.partitionBy(keyPart: _*)
        .orderBy(col(pc).desc, col("__src").desc)
      case None => Window.partitionBy(keyPart: _*).orderBy(col("__src").desc)
    }
    val deduped = merged
      .withColumn("__rn", row_number().over(ordered))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")

    // Size the rewrite by the affected bytes (Hudi sizes COW file
    // groups the same way) — without this the rewrite inherits the
    // dedup window's shuffle width and a 51-file table becomes a
    // 102-tiny-file one in a single upsert (the round-12 rq7 run).
    // The width is floored by the same 32 MB-of-parquet-per-partition
    // band Sessions.shufflePartitionsFor enforces: a whole-table
    // scattered rewrite packed into target-sized (128 MB) partitions
    // OOMed the 8 GB bench JVM at sf16 (round 13) — rewrite files may
    // come out under target, never partitions over the memory band.
    val affectedBytes = affected.flatMap(_.bytes).sum
    val numFiles = {
      val byTarget = math.max(1, math.min(
        // never explode a partial rewrite into more files than a
        // bytes-blind heuristic of one file per affected file + 1
        affected.length + 1,
        math.ceil(affectedBytes.toDouble / targetFileBytes).toInt))
      math.max(byTarget,
        math.ceil(affectedBytes.toDouble / (32L * 1024 * 1024)).toInt)
    }
    // sorted COW: the rewritten rows re-enter the recorded layout
    // order, so each new file's zones stay as tight as the merged
    // key span allows ("baseline" layouts have no keys and stay on
    // the plain path). The layout's sample scans the pre-dedup merge,
    // so the dedup pipeline runs once, for the write.
    val arranged =
      if (!sortRewrites || manifest.layoutCols.isEmpty) deduped.repartition(numFiles)
      else LayoutWriter.sortedRewrite(deduped, merged, manifest, numFiles,
        sourceRows = affected.map(_.rows).sum + batchRows)

    // Stage the rewrite, then move the (uuid-unique) part files in —
    // under their partition subdirs when the table is hive-partitioned.
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = dir.stripSuffix("/") + ".upsert_tmp"
    val moved = StagedRewrite.writeAndMove(
      spark, dir, staging, arranged, manifest.hivePartitions)

    // Manifest: stats for the new files only (distributed scan of just
    // those files), untouched entries carried over.
    val newEntries =
      if (moved.isEmpty) Seq.empty[FileEntry]
      else ZoneMap.collectStatsDf(
        StagedRewrite.readFiles(spark, dir, moved, partitioned, Some(schema)),
        manifest.statsCols)
    // commit order matches KeyedDelta (round-11 ADVICE): atomically
    // publish the manifest FIRST, delete superseded files after — a
    // crash in between leaves orphan old files a manifest-driven reader
    // never sees, never a manifest referencing deleted files.
    //
    // OPTIMISTIC CONCURRENCY (round-19, the Delta/Hudi/Iceberg OCC
    // analog): the commit goes through ZoneMap.writeCas — if another
    // writer committed since our read, re-read the FRESH manifest and
    // rebase: our untouched set is recomputed from the fresh file list
    // (which now carries the other writer's files), our new entries are
    // appended, and the CAS retries. Sound ONLY when the file sets are
    // disjoint: if any file WE rewrote (and are about to delete) was
    // already replaced by the other commit, the two upserts touched
    // overlapping key ranges and a merge would silently drop one side's
    // rows — abort loudly instead (our staged part files are left
    // manifest-unreferenced; the next mutation's reconcile purges them).
    val affectedPaths = affected.map(f => ZoneMap.canonical(f.path)).toSet
    var base = manifest
    var updated: TableManifest = null
    var attempt = 0
    try {
      testHookBeforeCommit()
      while (updated == null) {
        val untouchedNow =
          if (base eq manifest) untouched
          else base.files.filterNot(f => affectedPaths(ZoneMap.canonical(f.path)))
        try updated = ZoneMap.writeCas(dir, base.copy(
          files = untouchedNow ++ newEntries,
          commitsSinceCluster = Some(base.commitsSinceCluster.getOrElse(0) + 1),
          schema = Some(schema.json)))
        catch {
          case e: ConcurrentCommitException =>
            if (attempt >= 5) throw e
            attempt += 1
            val fresh = ZoneMap.read(dir)
            val freshPaths = fresh.files.map(f => ZoneMap.canonical(f.path)).toSet
            val gone = affectedPaths -- freshPaths
            if (gone.nonEmpty)
              throw new ConcurrentCommitException(
                s"overlapping concurrent upserts on $dir: " +
                  s"${gone.size} file(s) this upsert rewrote were already " +
                  s"replaced by another commit (e.g. ${gone.head}) — " +
                  "the key ranges overlap; re-run this upsert against the " +
                  "fresh table", e.onDisk, e.expected)
            base = fresh
        }
      }
    } catch {
      case e: ConcurrentCommitException =>
        // abort cleanly: OUR moved-but-uncommitted part files come back
        // out of the table dir (they are ours alone — part names are
        // uuid-unique), so the loser leaves no orphans at all
        moved.foreach(p => fs.delete(new Path(new java.net.URI(p)), false))
        spark.catalog.refreshByPath(dir)
        throw e
    } finally StagedRewrite.release(moved)
    StagedRewrite.deleteFiles(fs, affected)
    spark.catalog.refreshByPath(dir)
    // index maintenance AFTER the commit: a crash in between leaves
    // the new files unindexed, which the lookup treats as affected
    KeyIndex.updateAll(spark, dir, affected.map(_.path), newEntries)
    if (!autoRecluster) UpsertResult(updated, reclustered = false)
    else Compactor.maybeRecluster(spark, dir,
        targetFileBytes = targetFileBytes) match {
      case Some(m) => UpsertResult(m, reclustered = true)
      case None => UpsertResult(updated, reclustered = false)
    }
  }
}
