package perfbench

import java.io.File
import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, run from the root of a checkout by run.py:
  *  - `--workload <name> --seed <n> --seconds <s> --trace <0|1>` prints
  *    notes on stderr, then one JSON result line: end-to-end metrics with
  *    `--trace 0`, per-layer metrics with `--trace 1`;
  *  - `--train 1` runs a batch and the stream workload briefly and
  *    prints nothing, so that a class-data-sharing archive can record the
  *    classes they load;
  *  - `--workload <batch workload> --capture 1` writes its expected digests. */
object Main {
  val Names = Seq("olap-sf0.1", "registry-sf0.001", "stream-p32")
  val root: File = new File(".").getAbsoluteFile.getParentFile

  def main(argv: Array[String]): Unit = {
    val startNs = System.nanoTime() -
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (opts.get("train").contains("1")) {
      Seq("registry-sf0.001", "stream-p32").foreach(w =>
        run(w, seed = 0, seconds = 1, trace = false, System.nanoTime()))
      return
    }
    val workload = opts.getOrElse("workload", "")
    require(Names.contains(workload), s"--workload must be one of ${Names.mkString(", ")}")
    if (opts.get("capture").contains("1")) {
      val (dir, queries) = Workloads.of(workload)
      val spark = session(stream = false)
      try BatchWorkload.capture(spark, dataDir(dir), queries, Workloads.expectedFile(root, workload))
      finally spark.stop()
      return
    }
    val trace = opts("trace") == "1"
    val res = run(workload, opts("seed").toLong, opts("seconds").toInt, trace, startNs)
    val out = new Result
    out.attempted = res.attempted
    out.failed = res.failed
    (if (trace) Metrics.PerLayer else Metrics.EndToEnd).foreach { case (name, unit) =>
      // A layer the workload does not run reports zero.
      out.put(name, res.metrics.get(name).map(_._1).getOrElse(0.0), unit)
    }
    println(out.json)
  }

  def dataDir(dir: String): String = new File(root, s"perfbench/data/$dir").getPath

  def session(stream: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(root, ".bench_build/work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", if (stream) StreamWorkload.StatePartitions else cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(workload: String, seed: Long, seconds: Int, trace: Boolean, startNs: Long): Result = {
    val work = new File(root, ".bench_build/work")
    org.apache.commons.io.FileUtils.deleteQuietly(work)
    val tracePath = Paths.get(root.getPath, ".bench_build", "trace", s"$workload-seed$seed.json")
    val stream = workload.startsWith("stream")
    val spark = session(stream)
    try {
      val res =
        if (stream) StreamWorkload.run(spark, seed, seconds, trace, startNs, work, tracePath)
        else {
          val (dir, queries) = Workloads.of(workload)
          BatchWorkload.run(spark, dataDir(dir), queries, Workloads.expected(root, workload), seed,
            seconds, trace, startNs, tracePath)
        }
      res.put("live_heap_mb", liveHeapMb(), "MB")
      res.note(f"peak resident set ${peakRssMb()}%.0f MB")
      res
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Heap still reachable at the end of the timed phase, after full
    * collections: what the session keeps (cached and checkpointed
    * blocks, state, staged tables). Peak resident set is only noted: it
    * follows the collector's heap sizing and swings by half between
    * identical runs. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    // The first collection queues weakly held RDDs and broadcasts; Spark's
    // cleaner thread frees their blocks; the last collection settles. The
    // least of three readings drops one taken while the cleaner was busy.
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(500)
      System.gc()
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
    finally src.close()
  }
}
