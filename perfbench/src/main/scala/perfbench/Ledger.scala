package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counted by the benchmark's own listener. Every field is a
  * running total; an op's share is the difference of two snapshots.
  */
final case class Counters(values: Vector[Long]) {
  def -(o: Counters): Counters = Counters(values.zip(o.values).map { case (a, b) => a - b })
  def json: String = Json.obj(Counters.Names.zip(values).map { case (k, v) => k -> Json.num(v) })
}

object Counters {
  val Names: Vector[String] = Vector(
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns",
    "input_bytes", "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "task_gc_ms", "deser_ms", "sched_delay_ms")
}

/** Counts jobs, stages, tasks and task metrics as they end. */
final class BenchListener extends SparkListener {
  private val c = new AtomicLongArray(Counters.Names.length)
  private def add(name: String, v: Long): Unit = c.addAndGet(Counters.Names.indexOf(name), v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor_run_ms", m.executorRunTime)
      add("executor_cpu_ns", m.executorCpuTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_records", m.inputMetrics.recordsRead)
      add("shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("task_gc_ms", m.jvmGCTime)
      add("deser_ms", m.executorDeserializeTime)
      val info = e.taskInfo
      if (info != null && info.finished)
        add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
    }
  }

  def snapshot(): Counters = Counters(Vector.tabulate(c.length)(c.get))
}

/** One file-source scan of an executed plan: the table root it read and
  * the files it kept after pruning.
  */
final case class ScanRecord(root: String, files: Long)

/** What one executed query plan did, from its final physical plan. */
final case class PlanRecord(scans: Seq[ScanRecord], exchanges: Int, broadcasts: Int)

/** Collects the executed plan of every Dataset action, so an op that runs
  * several actions (a query's own internal collects included) is counted
  * whole.
  */
final class PlanListener extends QueryExecutionListener {
  private val records = ArrayBuffer.empty[PlanRecord]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    def record(s: FileSourceScanExec) =
      ScanRecord(Ledger.canonical(s.relation.location.rootPaths.head.toString),
        s.metrics.get("numFiles").map(_.value).getOrElse(0L))
    val nodes = graft.runner.QueryRunner.allNodes(qe.executedPlan)
    val scans = nodes.collect { case s: FileSourceScanExec => record(s) }
    // AQE replaces a stage whose output is empty with an empty relation,
    // and the final plan then holds no scan of it; such a scan ran all
    // the same, so it is taken from the plan AQE started from
    val dropped = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        val seen = scans.map(_.root).toSet
        a.inputPlan.collect { case s: FileSourceScanExec => record(s) }.filterNot(r => seen(r.root))
      case _ => Nil
    }
    val rec = PlanRecord(scans ++ dropped,
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
    records.synchronized(records += rec)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def size: Int = records.synchronized(records.size)
  def since(n: Int): Seq[PlanRecord] = records.synchronized(records.drop(n).toList)
}

/** The benchmark's view of Spark: counters and plans per op. */
final class Ledger(spark: SparkSession) {
  val listener = new BenchListener
  val plans = new PlanListener
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(plans)

  /** Waits until every queued listener event has been delivered. */
  def drain(): Unit =
    org.apache.spark.graftbridge.SparkBridge.drainListenerBus(spark.sparkContext)

  def close(): Unit = {
    spark.listenerManager.unregister(plans)
    spark.sparkContext.removeSparkListener(listener)
  }
}

object Ledger {
  def canonical(path: String): String =
    new org.apache.hadoop.fs.Path(path).toUri.getPath.stripSuffix("/")
}
