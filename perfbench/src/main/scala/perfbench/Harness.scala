package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    dataDir: String,
    outDir: String,
    params: Map[String, String]) {
  def int(name: String): Int = params(name).toInt
}

/** What an op hands back: its result rows (checked later, outside the
  * timed window) and any extra fields for the run record.
  */
final case class OpOut(
    result: Option[(Seq[String], Seq[Row])] = None,
    fields: Seq[(String, String)] = Nil)

/** Runs ops one at a time (a closed loop with one client) and records,
  * per op: wall time, the listener's counter delta, the executed plans'
  * scans and exchanges, and - when tracing - the spans inside it.
  */
final class Harness(val spark: SparkSession, val cfg: Config) {
  val ledger = new Ledger(spark)
  private val ops = ArrayBuffer.empty[ArrayBuffer[(String, String)]]
  private val spans = ArrayBuffer.empty[String]
  private val passMs = ArrayBuffer.empty[Double]
  private var setupS = 0.0
  private val setupTimings = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer figures a workload measures outside its ops (JSON values). */
  val layer: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  /** Table root -> (files, bytes): the denominators of files/bytes read. */
  private val tables = mutable.Map.empty[String, (Long, Long)]
  private var warmupS = 0.0
  private var minTimedPasses = 0
  private var windowS = 0.0
  private var peakKb = 0L
  private var opId = -1
  private var spanStack: List[String] = Nil
  private var inWarmup = false

  def registerTable(dir: String, files: Long, bytes: Long): Unit =
    tables(Ledger.canonical(dir)) = (files, bytes)

  def registerFile(path: String): Unit =
    registerTable(path, 1L, java.nio.file.Files.size(java.nio.file.Paths.get(path)))

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** A traced span around a call into one layer; a plain call when
    * tracing is off.
    */
  def span[A](name: String)(f: => A): A =
    if (!cfg.trace) f
    else {
      val parent = spanStack.headOption
      spanStack = name :: spanStack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Json.obj("op" -> Json.num(opId.toLong), "name" -> Json.str(name),
          "parent" -> parent.map(Json.str).getOrElse("null"), "ms" -> Json.num(ms(t0)))
        spanStack = spanStack.tail
      }
    }

  /** Times one step of the set-up (always on: the step runs in every
    * mode, the timer is all this adds).
    */
  def setupStep[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = span(name)(f)
    setupTimings(name) = setupTimings.getOrElse(name, 0.0) + ms(t0)
    r
  }

  /** Runs the workload's set-up once and times it. */
  def setup[S](build: => S): S = {
    val t0 = System.nanoTime()
    val s = build
    setupS = ms(t0) / 1000.0
    s
  }

  /** Pass 0 is a warm-up: its ops are recorded and checked like any other
    * but left out of the timing metrics. Then the timed window: whole
    * passes until `cfg.seconds` have elapsed, and at least `minPasses`.
    * `pass(p)` returns false when it has no more input. The JVM's peak
    * resident set is read when the window ends.
    */
  def window(minPasses: Int = 1)(pass: Int => Boolean): Unit = {
    minTimedPasses = minPasses
    val w0 = System.nanoTime()
    inWarmup = true
    pass(0)
    inWarmup = false
    warmupS = ms(w0) / 1000.0
    val t0 = System.nanoTime()
    val deadline = t0 + (cfg.seconds * 1e9).toLong
    var p = 1
    var more = true
    while (more && (p <= minPasses || System.nanoTime() < deadline)) {
      val p0 = System.nanoTime()
      more = pass(p)
      if (more) passMs += ms(p0)
      p += 1
    }
    windowS = ms(t0) / 1000.0
    peakKb = Harness.hwmKb()
  }

  /** One timed op. A failure is recorded, never thrown: it counts in the
    * failed share and the loop goes on. `table` names the table a read op
    * queries: a plan that scans none of its files (pruned to nothing)
    * still counts that table, with no files read.
    */
  def op(kind: String, name: String, arm: String = "", pass: Int = -1,
      fields: Seq[(String, String)] = Nil, table: String = "")(body: => OpOut): Option[OpOut] = {
    opId += 1
    ledger.drain()
    val c0 = ledger.listener.snapshot()
    val p0 = ledger.plans.size
    graft.runner.Materialize.resetDiag()
    val t0 = System.nanoTime()
    val out: Either[Throwable, OpOut] =
      try Right(span(s"op.$kind")(body))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val wall = ms(t0)
    ledger.drain()
    val c = ledger.listener.snapshot() - c0
    val plans = ledger.plans.since(p0)
    val sc = spark.sparkContext
    val leaked = sc.getPersistentRDDs
    leaked.values.foreach(_.unpersist(blocking = false))
    val read = plans.flatMap(_.scans)
    val target = Option(table).filter(_.nonEmpty).map(Ledger.canonical)
      .filterNot(t => read.exists(_.root == t)).map(ScanRecord(_, 0L))
    val scans = (read ++ target).map { s =>
      val (tf, tb) = tables.getOrElse(s.root, (0L, 0L))
      Json.obj("root" -> Json.str(s.root), "files" -> Json.num(s.files),
        "table_files" -> Json.num(tf), "table_bytes" -> Json.num(tb))
    }
    val base = Seq(
      "id" -> Json.num(opId.toLong), "kind" -> Json.str(kind), "name" -> Json.str(name),
      "arm" -> Json.str(arm), "pass" -> Json.num(pass.toLong), "warmup" -> inWarmup.toString,
      "ms" -> Json.num(wall),
      "error" -> out.left.toOption.map(e => Json.str(s"${e.getClass.getName}: ${e.getMessage}"))
        .getOrElse("null"),
      "counters" -> c.json,
      "scans" -> Json.arr(scans),
      "exchanges" -> Json.num(plans.map(_.exchanges).sum.toLong),
      "broadcasts" -> Json.num(plans.map(_.broadcasts).sum.toLong),
      "cached_peak_bytes" -> Json.num(graft.runner.Materialize.peakTrackedBytes),
      "evictions" -> Json.num(graft.runner.Materialize.evictions.toLong),
      "leaked_caches" -> Json.num(leaked.size.toLong))
    val result = out.toOption.flatMap(_.result).map { case (cols, rows) =>
      Seq("columns" -> Json.arr(cols.map(Json.str)),
        "rows" -> Json.arr(rows.map(r => Json.arr(r.toSeq.map(Json.value)))))
    }.getOrElse(Nil)
    ops += ArrayBuffer.from(base ++ fields ++ out.toOption.map(_.fields).getOrElse(Nil) ++ result)
    out.toOption
  }

  /** Adds fields to the last op's record: figures taken after its timer
    * stopped.
    */
  def annotate(fields: Seq[(String, String)]): Unit = ops.last ++= fields

  def record(extra: Seq[(String, String)]): String = Json.obj(Seq(
    "workload" -> Json.str(cfg.workload),
    "seed" -> Json.num(cfg.seed),
    "trace" -> cfg.trace.toString,
    "master" -> Json.str(spark.sparkContext.master),
    "jvm_flags" -> Json.arr(scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala
      .filterNot(_.startsWith("--add-opens")).filterNot(_.endsWith("=ALL-UNNAMED"))
      .map(Json.str)),
    "setup_s" -> Json.num(setupS),
    "setup_steps_ms" -> Json.obj(setupTimings.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "warmup_s" -> Json.num(warmupS),
    "window_s" -> Json.num(windowS),
    "min_passes" -> Json.num(minTimedPasses.toLong),
    "pass_ms" -> Json.arr(passMs.map(Json.num)),
    "rss_peak_mb" -> Json.num(peakKb / 1024.0),
    "layer" -> Json.obj(layer.toSeq),
    "ops" -> Json.arr(ops.map(o => Json.obj(o))),
    "spans" -> Json.arr(spans)) ++ extra)
}

object Harness {
  /** Peak resident set size of this JVM so far (VmHWM) from /proc, in kB
    * (0 where /proc is not available).
    */
  def hwmKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** Bytes of every regular file under `dir`, by path. */
  def fileSizes(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
  }

  def deleteRec(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}
