package perfbench

/** One benchmark run in a fresh JVM: builds the session the engine's
  * own entry points use, runs one workload, and writes the raw record
  * (timings, checks, traced counters) that `run.py` turns into metrics.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cores <n> --data <dir> --work <dir> --out <file>`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores")
    val spark = graft.spark.Sessions.local(cores, cores)
    log("session ready")
    val record =
      try workload match {
        case "river_stream" => River.run(spark, seed, seconds, trace, opt("work"))
        case w if Batch.Workloads.contains(w) =>
          Batch.run(spark, w, seed, seconds, trace, opt("data"), opt("work"))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    log("session stopped")
    val out = record ++ Map("workload" -> workload, "seed" -> seed,
      "cores" -> cores.toInt, "peak_rss_kb" -> peakRssKb)
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
      Json(out).getBytes("UTF-8"))
  }

  /** Progress line in the run's log, stamped with JVM uptime. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench $up%7.2fs] $msg")
  }

  /** `VmHWM` of this JVM, in kB. */
  private def peakRssKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L)
}
