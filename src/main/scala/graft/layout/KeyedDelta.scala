package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** File-scoped delete-by-key + append on a zone-mapped parquet table —
  * the remaining mutation primitive beside [[Upserter]]'s keyed COW
  * (reference's L9 family): incremental curation retires a handful of
  * cluster representatives and appends the new batch's, and rewriting
  * the whole corpus for that turns an O(batch) fold into an O(corpus)
  * one (round-9 VERDICT "Next #5").
  *
  * Scale shape: only files whose record-key zone may contain a dropped
  * key are rewritten (NumIn pruning — scattered keys keep untouched
  * files untouched); appended rows land as NEW files whose stats are
  * computed by scanning just those files. Cost is O(affected files +
  * appended rows), never O(table).
  */
object KeyedDelta {

  /** Delete `dropKeys` (record-key values) and append `addRows`, updating
    * the manifest in place. Returns the refreshed manifest. `schema`,
    * when the caller knows the table's schema statically, skips the
    * footer-inference job each internal parquet read would otherwise
    * pay (round-12 VERDICT "Next #1": per-fold fixed job latency); the
    * manifest's recorded schema does the same when the caller has none.
    */
  def apply(spark: SparkSession, dir: String,
      dropKeys: Seq[Long], addRows: Option[DataFrame],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      appendPartitions: Option[Int] = None): TableManifest = {
    val manifest = ZoneMap.read(dir)
    // entry reconcile (round-11 ADVICE): a crash between writeAndMove and
    // the manifest commit leaves manifest-unreferenced part files; purge
    // them so dir-level readers never see duplicate rows
    StagedRewrite.reconcile(spark, dir, manifest)
    val key = manifest.keyCols match {
      case Seq(k) => k
      case Nil =>
        throw new IllegalArgumentException(s"$dir has no recordKey — cannot delta")
      case ks =>
        // KeyedDelta's drop set is Seq[Long] — a single-column contract.
        // Composite-keyed tables mutate through Upserter.
        throw new IllegalArgumentException(
          s"$dir has a composite record key (${ks.mkString(",")}) — " +
            "KeyedDelta needs a single long key column")
    }
    val partitioned = manifest.hivePartitions.nonEmpty
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val readSchema = schema.orElse(manifest.sparkSchema)

    // ---- delete: rewrite only files whose key zone may hold a victim
    val (affected, untouched) =
      if (dropKeys.isEmpty) (Seq.empty[FileEntry], manifest.files)
      else manifest.files.partition(
        NumIn(key, dropKeys.map(_.toDouble)).mayMatch)
    val keep =
      if (affected.isEmpty) None
      else Some(StagedRewrite
        .readFiles(spark, dir, affected.map(_.path), partitioned, readSchema)
        .filter(!org.apache.spark.sql.graftbridge.Bridge.inSetLong(
          col(key), dropKeys)))
    // appended-file shape (round-15: a 50-fold streaming soak left the
    // docs store with 32 HASH-partitioned files per fold — every file
    // spanning the batch's whole key range, so 1281 of 1281 files
    // survived any zone prune). Callers appending batch-sized deltas
    // pass appendPartitions=1: each fold lands as ONE file, sorted by
    // the layout columns so its zones are as tight as the data allows.
    val addShaped = addRows.map { a =>
      appendPartitions match {
        case Some(n) =>
          val c = a.coalesce(n)
          if (manifest.layoutCols.nonEmpty)
            c.sortWithinPartitions(manifest.layoutCols.map(col): _*)
          else c
        case None => a
      }
    }

    // ---- one staged write for surviving + appended rows (round-12
    // VERDICT "Next #1": two writeAndMove actions fused into one —
    // column order aligned by name, the survivors' order wins)
    val toWrite = (keep, addShaped) match {
      case (Some(k), Some(a)) => Some(k.unionByName(a.select(k.columns.map(col).toSeq: _*)))
      case (Some(k), None) => Some(k)
      case (None, Some(a)) => Some(a)
      case _ => None
    }
    val moved = toWrite match {
      case Some(rows) =>
        val staging = dir.stripSuffix("/") + ".delta_tmp"
        StagedRewrite.writeAndMove(
          spark, dir, staging, rows, manifest.hivePartitions)
      case None => Seq.empty[String]
    }

    // ---- stats: ONE scan over all new files
    val newEntries =
      if (moved.isEmpty) Seq.empty[FileEntry]
      else ZoneMap.collectStatsDf(
        StagedRewrite.readFiles(spark, dir, moved, partitioned, readSchema),
        manifest.statsCols)

    val updated = manifest.copy(files = untouched ++ newEntries)
    // commit order (round-10 ADVICE): atomically publish the manifest
    // FIRST, delete superseded part files after. A crash before the
    // rename leaves the old manifest pointing at intact old files; a
    // crash after it leaves orphan old files a manifest-driven reader
    // never sees. The manifest never references a deleted file.
    // ZoneMap.write stamps the commit generation; propagate ITS result
    // so a caller passing the manifest to KeyIndex.affectedPaths sees
    // the stamped gens, not gen=None files read as 0 (r15 ADVICE).
    // writeCas (round-19 OCC): a commit racing another mutation fails
    // loudly instead of silently dropping the other writer's file set;
    // the caller re-runs against the fresh manifest
    val committed =
      try ZoneMap.writeCas(dir, updated)
      catch {
        case e: ConcurrentCommitException =>
          // loser cleanup: our uuid-unique moved files come back out
          moved.foreach(p => fs.delete(new Path(new java.net.URI(p)), false))
          spark.catalog.refreshByPath(dir)
          throw e
      } finally StagedRewrite.release(moved)
    StagedRewrite.deleteFiles(fs, affected)
    // manual file moves bypass Spark's write-path invalidation — stale
    // listings would read deleted part files on the next dir-level scan
    spark.catalog.refreshByPath(dir)
    // every key-index sidecar (primary + any named secondaries) must
    // track the rewrite — stale blooms would be unsound to consult
    KeyIndex.updateAll(spark, dir, affected.map(_.path), newEntries)
    committed
  }
}
