package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM program. `run.py` generates the inputs, starts this
  * with `--key value` pairs, and checks and summarises the run record it
  * writes to `<out>/run.json`.
  *
  * Keys: workload, seed, seconds, trace (0|1), data, out, cpus, plus the
  * workload's size parameters.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, "arguments are --key value pairs")
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cfg = Config(
      workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toDouble,
      trace = kv("trace") == "1", dataDir = kv("data"), outDir = kv("out"),
      params = kv -- Seq("workload", "seed", "seconds", "trace", "data", "out", "cpus"))
    val cpus = kv("cpus")
    val t0 = System.nanoTime()
    val spark = graft.runner.Sessions
      .tuned(SparkSession.builder().master(s"local[$cpus]"), cpus, cfg.dataDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val h = new Harness(spark, cfg)
      cfg.workload match {
        case "scan_sfc" => ScanSfc.run(h)
        case "upsert_decay" => UpsertDecay.run(h)
        case "curation_mix" => CurationMix.run(h)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      h.ledger.close()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg.outDir, "run.json"),
        h.record(Seq("session_s" -> Json.num(sessionS))) + "\n")
    } finally spark.stop()
  }

}
