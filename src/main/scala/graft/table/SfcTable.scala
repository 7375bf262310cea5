package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, _}
import org.apache.spark.sql.execution.datasources._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{FileStatus, Path}
import graft.layout._

/** PrunedScan v2 (SURVEY.md §4.3): a zone-map-aware `FileIndex` so file
  * skipping happens INSIDE Catalyst for arbitrary SQL — no manual
  * predicate plumbing. `FileSourceStrategy` hands the scan's data
  * filters to `listFiles`; we translate them to zone predicates, drop
  * files whose [min,max] cannot match, and Spark never opens them.
  * This is exactly where Delta/Hudi/Iceberg hook their stats-based
  * skipping; the reference measures that skipping as files/bytes
  * scanned (lakehouse_op/run_queries.py:165-248).
  *
  * Correctness: pruning is conservative (unknown expressions / columns
  * without stats keep the file) and Spark still evaluates the full
  * predicate per row — skipping can only remove files that provably
  * contain no matching rows.
  */
class GraftFileIndex(
    spark: SparkSession,
    rootPath: Path,
    val manifest: TableManifest,
    val tableSchema: StructType)
  extends InMemoryFileIndex(
    spark, Seq(rootPath), Map.empty, Some(tableSchema), FileStatusCache.getOrCreate(spark)) {

  private val byPath: Map[String, FileEntry] =
    manifest.files.map(f => normalize(f.path) -> f).toMap

  private def normalize(p: String): String = new Path(p).toUri.getPath

  /** How many files the last listFiles call kept (for tests/metrics). */
  @volatile var lastKept: Int = -1
  @volatile var lastTotal: Int = -1

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val all = super.listFiles(partitionFilters, dataFilters)
    val preds = dataFilters.flatMap(ZoneTranslator.translate(_, tableSchema))
    if (preds.isEmpty) {
      lastKept = -1; lastTotal = -1
      return all
    }
    val pruned = all.map { pd =>
      PartitionDirectory(pd.values, pd.files.filter { fs =>
        byPath.get(normalize(fs.getPath.toString)) match {
          case Some(entry) => preds.forall(_.mayMatch(entry))
          case None => true // not in manifest — keep (sound)
        }
      })
    }
    lastTotal = all.map(_.files.length).sum
    lastKept = pruned.map(_.files.length).sum
    pruned
  }
}

/** Catalyst `Expression` → `ZonePredicate` translation. Conservative:
  * anything unrecognized yields no predicate (file kept).
  *
  * SOUNDNESS: the literal is only translated when its type lives in the
  * SAME stats domain as the underlying attribute. A comparison like
  * `CAST(dateCol AS TIMESTAMP) >= TIMESTAMP '...'` reaches us with a
  * date-domain attribute (stats in epoch days) and a timestamp literal
  * (micros); translating it naively would compare seconds against days
  * and prune every file. Such cross-domain casts yield no predicate —
  * the file is kept and Spark's row-level filter decides.
  */
object ZoneTranslator {

  private sealed trait Domain
  private case object NumD extends Domain
  private case object DateD extends Domain
  private case object TsD extends Domain
  private case object StrD extends Domain

  private def domainOf(dt: DataType): Option[Domain] = dt match {
    case _: NumericType => Some(NumD)
    case DateType => Some(DateD)
    case TimestampType | TimestampNTZType => Some(TsD)
    case StringType => Some(StrD)
    case _ => None
  }

  /** Attribute name + the domain of its STORED type (casts unwrap for
    * name resolution, but the stats domain is the attribute's own).
    *
    * Only casts that are monotone AND consistent with the manifest's
    * double-stats space may be unwrapped. A narrowing cast like
    * `CAST(doubleCol AS INT) = 5` truncates: a file with doubleCol in
    * [5.3, 5.9] satisfies the predicate but its stats box misses 5.0 —
    * unwrapping would prune it (silently wrong results). Likewise
    * int→float / long→float round-to-nearest can round a value UP past
    * a literal the double-space stats sit below. Unsafe casts yield no
    * predicate; the file is kept and the row-level filter decides.
    */
  private val intWidth: Map[DataType, Int] =
    Map(ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)

  private def castSafe(from: DataType, to: DataType): Boolean = (from, to) match {
    // widening integral→integral: exact, monotone
    case (f, t) if intWidth.contains(f) && intWidth.contains(t) =>
      intWidth(f) <= intWidth(t)
    // →double IS the stats mapping itself (manifest stores doubles), so
    // the predicate compares in exactly the stats space — always sound
    case (f, DoubleType) if intWidth.contains(f) => true
    case (FloatType, DoubleType) => true
    // integral→decimal with room for every value: exact, monotone
    case (f, t: DecimalType) if intWidth.contains(f) =>
      t.precision - t.scale >= 19 ||
        (f != LongType && t.precision - t.scale >= 10)
    case _ => false
  }

  private def attr(e: Expression): Option[(String, Domain)] = e match {
    case a: AttributeReference =>
      domainOf(a.dataType).map(d => (a.name, d))
    case Cast(c, to, _, _) if castSafe(c.dataType, to) => attr(c)
    case _ => None
  }

  /** Literal → manifest double domain, ONLY when the literal's type
    * matches the attribute's domain (dates: epoch days; timestamps:
    * fractional epoch seconds; numerics: value).
    */
  private def litNum(l: Any, dt: DataType, attrDomain: Domain): Option[Double] =
    (l, dt, attrDomain) match {
      case (null, _, _) => None
      case (v: Number, _: NumericType, NumD) => Some(v.doubleValue())
      // Decimal is not a java.lang.Number — without this arm the
      // castSafe integral→decimal unwrap produced no predicate at all
      // (round-3 ADVICE). toDouble rounds to nearest, which cannot skip
      // past a representable double, and integral column stats ARE
      // representable doubles — so the rounded bound keeps every file
      // the exact bound would (monotone, sound).
      case (v: Decimal, _: DecimalType, NumD) => Some(v.toDouble)
      case (v: Integer, DateType, DateD) => Some(v.doubleValue()) // days
      case (v: java.lang.Long, TimestampType | TimestampNTZType, TsD) =>
        Some(v.doubleValue() / 1e6) // micros → seconds
      case _ => None // cross-domain cast — not translatable soundly
    }

  private def litStr(l: Any, dt: DataType, attrDomain: Domain): Option[String] =
    (l, dt, attrDomain) match {
      case (null, _, _) => None
      case (v, StringType, StrD) => Some(v.toString)
      case _ => None
    }

  def translate(e: Expression, schema: StructType): Seq[ZonePredicate] = e match {
    case CAnd(l, r) => translate(l, schema) ++ translate(r, schema)
    case EqualTo(a, Literal(v, dt)) => point(a, v, dt)
    case EqualTo(Literal(v, dt), a) => point(a, v, dt)
    case GreaterThanOrEqual(a, Literal(v, dt)) => lower(a, v, dt, inclusive = true)
    case GreaterThan(a, Literal(v, dt)) => lower(a, v, dt, inclusive = false)
    case LessThanOrEqual(a, Literal(v, dt)) => upper(a, v, dt, inclusive = true)
    case LessThan(a, Literal(v, dt)) => upper(a, v, dt, inclusive = false)
    case GreaterThanOrEqual(Literal(v, dt), a) => upper(a, v, dt, inclusive = true)
    case GreaterThan(Literal(v, dt), a) => upper(a, v, dt, inclusive = false)
    case LessThanOrEqual(Literal(v, dt), a) => lower(a, v, dt, inclusive = true)
    case LessThan(Literal(v, dt), a) => lower(a, v, dt, inclusive = false)
    case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      attr(a).toSeq.flatMap { case (c, dom) =>
        val lits = list.collect { case Literal(v, dt) => (v, dt) }
        inPreds(c, dom, lits)
      }
    // OptimizeIn rewrites In(...) to InSet above
    // spark.sql.optimizer.inSetConversionThreshold (default 10) literals —
    // without this arm a >10-key IN silently stops pruning. InSet holds
    // raw internal values (UTF8String etc.), same representation a
    // Literal carries, typed by the child expression.
    case ins: InSet =>
      attr(ins.child).toSeq.flatMap { case (c, dom) =>
        inPreds(c, dom, ins.hset.toSeq.map(v => (v, ins.child.dataType)))
      }
    case _ => Nil
  }

  private def inPreds(c: String, dom: Domain,
      lits: Seq[(Any, DataType)]): Seq[ZonePredicate] = {
    val strs = lits.flatMap { case (v, dt) => litStr(v, dt, dom) }
    val nums = lits.flatMap { case (v, dt) => litNum(v, dt, dom) }
    if (strs.length == lits.length && strs.nonEmpty) Seq(StrIn(c, strs))
    else if (nums.length == lits.length && nums.nonEmpty)
      Seq(NumIn(c, nums)) // per-value containment, not coarse bounds
    else Nil
  }

  private def point(a: Expression, v: Any, dt: DataType): Seq[ZonePredicate] =
    attr(a).toSeq.flatMap { case (c, dom) =>
      litNum(v, dt, dom).map(n => NumBetween(c, n, n)).orElse(
        litStr(v, dt, dom).map(s => StrBetween(c, s, s))).toSeq
    }

  private def lower(a: Expression, v: Any, dt: DataType, inclusive: Boolean): Seq[ZonePredicate] =
    attr(a).toSeq.flatMap { case (c, dom) =>
      litNum(v, dt, dom).map(n => NumBetween(c, n, Double.MaxValue)).orElse(
        // explicitly unbounded above — any finite sentinel string is
        // exceeded by some real string (e.g. 9+ leading U+FFFF chars)
        litStr(v, dt, dom).map(s => StrAtLeast(c, s))).toSeq
    }

  private def upper(a: Expression, v: Any, dt: DataType, inclusive: Boolean): Seq[ZonePredicate] =
    attr(a).toSeq.flatMap { case (c, dom) =>
      litNum(v, dt, dom).map(n => NumBetween(c, Double.MinValue, n)).orElse(
        litStr(v, dt, dom).map(s => StrBetween(c, "", s))).toSeq
    }
}

object SfcTable {

  /** Open a layout table with zone-map skipping wired into the scan.
    * The returned DataFrame behaves like `spark.read.parquet(dir)` but
    * any pushable range/point/IN predicate — from the DataFrame API or
    * SQL over a temp view — skips non-matching files at planning time.
    *
    * Hive-partitioned layouts (round-17, for the RQ6 protocol whose
    * reference tables partition by l_returnflag,l_linestatus ×
    * o_orderstatus,o_orderpriority): the file index infers the
    * partition spec from the directory structure exactly as a plain
    * parquet read would, partition-column predicates prune DIRECTORIES
    * through Spark's own partitionFilters path, and zone predicates
    * keep pruning the surviving FILES — the two prunings compose.
    *
    * The schema is the one the manifest records, so an open runs no
    * Spark job. A manifest written before schemas were recorded infers
    * it from the parquet footers (one job per open) until its next keyed
    * commit records it.
    */
  def open(spark: SparkSession, dir: String): DataFrame = {
    val manifest = ZoneMap.read(dir)
    val root = new Path(dir)
    val schema = ZoneMap.schemaOf(spark, dir, manifest)
    val index = new GraftFileIndex(spark, root, manifest, schema)
    // partition columns come back typed from the inferred spec (the
    // userSpecifiedSchema passed above pins their types to the plain
    // read's); data schema must EXCLUDE them — they live in dir paths,
    // and a dataSchema that listed them would read nulls from files
    val partSchema = index.partitionSchema
    val dataSchema = StructType(
      schema.filterNot(f => partSchema.fieldNames.contains(f.name)))
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = partSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(Bridge.classicSession(spark))
    Bridge.ofRows(spark, LogicalRelation(relation))
  }

  /** Dim-driven zone-map file pruning for a fact ⋈ dim equi-join — the
    * zone-map analog of dynamic file pruning / dynamic partition
    * pruning: when the (already-filtered) dim side is small, the fact
    * side can skip whole files by the dim's join-key values BEFORE the
    * join executes. One bounded dim job runs first: up to
    * `inListLimit + 1` distinct keys are fetched — at or under the
    * limit the fact scan opens with `key IN (...)` (exact per-file
    * membership for both string and numeric keys — NumIn/StrIn check
    * each value against the file range); above it a two-value min/max
    * aggregate bounds the scan with
    * `key BETWEEN lo AND hi`. Either predicate reaches
    * [[GraftFileIndex]] at planning time (file skips) AND the parquet
    * reader (row-group skips). Semantics are exactly
    * `open(factDir).join(dim, factKey === dimKey)`: rows outside the
    * dim key set can never join, so the extra filter is a no-op on the
    * result. The driver-side key fetch is bounded by `inListLimit`
    * (the same bounded-collect contract DPP's subquery-broadcast uses).
    */
  def joinPruned(spark: SparkSession, factDir: String, dim: DataFrame,
      factKey: String, dimKey: String, inListLimit: Int = 256): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    val fact = open(spark, factDir)
    // Materialized once (runner-released): the key fetch, the optional
    // bounds aggregate, and the join itself must all see the SAME dim
    // rows — a re-executed nondeterministic dim (limit/sample/rand)
    // could otherwise produce keys the pruning filter already removed,
    // silently dropping join rows. Caching also stops the dim pipeline
    // from being recomputed per consumer.
    val stableDim = graft.runner.Materialize.track(dim, pin = true)
    val keys = stableDim.select(col(dimKey)).filter(col(dimKey).isNotNull)
      .distinct().limit(inListLimit + 1).collect().map(_.get(0))
    val pruned =
      if (keys.isEmpty) fact.filter(lit(false)) // empty dim: empty join
      else if (keys.length <= inListLimit) fact.filter(col(factKey).isin(keys: _*))
      else {
        val r = stableDim.agg(min(col(dimKey)), max(col(dimKey))).collect()(0)
        fact.filter(col(factKey).between(lit(r.get(0)), lit(r.get(1))))
      }
    pruned.join(stableDim, pruned(factKey) === stableDim(dimKey))
  }
}
