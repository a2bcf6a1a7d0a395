package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Checkpoint-RESTORE latency vs keyed-state size — the recovery-time
  * analog of the reference's state-backend restore path
  * (flink-runtime checkpointing: a restarted job reloads every key
  * group from the checkpoint before the first new record processes;
  * RocksDBStateBackend restores by ingesting SST files, the
  * HashMapStateBackend by deserializing the full snapshot).
  *
  * StateRecoverySpec proves restored state is CORRECT; this probe
  * measures what recovery COSTS as state grows — the axis an operator
  * sizing a 100 TB streaming job actually plans around (how long is
  * the pipeline down after a failover?).
  *
  * Method, per (provider × key count): build keyed dedup state over N
  * distinct keys through a checkpointed query, stop it, then measure
  * wall time from `start()` to the first post-restart batch COMMIT of
  * one slim catch-up batch (100 rows). That interval contains exactly
  * the restart fixed cost + the state reload for every partition the
  * catch-up batch touches (Spark loads a partition's store before the
  * task runs; the 100 touched keys spread across all 8 partitions
  * w.h.p.). Deltas between key counts isolate the per-key reload cost
  * from the fixed restart overhead.
  *
  * One JSON line: {"metric":"recovery_sec","providers":{"default":
  * {"10000":s,...},"rocksdb":{...}},"restart_rows":100}
  */
object RecoveryProbe {
  case class Kv(k: String, v: Double)

  def main(args: Array[String]): Unit = {
    val keyCounts = sys.env.getOrElse("SPARK_GRAFT_RECOVERY_KEYS",
      "10000,100000,1000000,4000000").split(",").map(_.trim.toInt).toSeq
    val results = Seq("default", "rocksdb").map { label =>
      val byKeys = keyCounts.map { n =>
        val spark = graft.Session.local(8, 8, label)
        try n -> measure(spark, n)
        finally graft.Session.stop(spark)
      }
      byKeys.foreach { case (n, s) =>
        println(f"[recovery-probe] provider=$label%-8s keys=$n%,10d restore=$s%.2f s")
      }
      label -> byKeys
    }
    val json =
      s"""{"metric":"recovery_sec","restart_rows":100,""" +
      s""""providers":{${results.map { case (l, rows) =>
        s""""$l":{${rows.map { case (n, s) => f""""$n":$s%.3f""" }.mkString(",")}}"""
      }.mkString(",")}}}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_RECOVERY_FILE", "RECOVERYPROBE.json")), json + "\n")
  }

  /** Build N-key dedup state, restart, return seconds from start() to
    * the catch-up batch's commit.
    */
  private def measure(spark: SparkSession, n: Int): Double = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory(s"rp_$n").toString
    val in = MemoryStream[Kv]
    def start() = graft.streaming.StatefulOps
      .keepFirstStreaming(in.toDF(), Seq("k"))
      .writeStream.format("noop").outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .start()

    // Phase 1: populate N keys of state (one row per key), checkpoint.
    val q1 = start()
    try {
      // batches of 250k keep the build phase itself micro-batch-shaped
      var i = 0
      while (i < n) {
        val hi = math.min(i + 250000, n)
        in.addData((i until hi).map(j => Kv(s"k$j", j.toDouble)))
        q1.processAllAvailable()
        i = hi
      }
    } finally q1.stop()

    // Phase 2: restart against the same checkpoint with a slim
    // catch-up batch pending — time to its commit is the restore cost.
    in.addData((0 until 100).map(j => Kv(s"k$j", -1.0))) // dup keys: no emission
    val t0 = System.nanoTime()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    (System.nanoTime() - t0) / 1e9
  }
}
