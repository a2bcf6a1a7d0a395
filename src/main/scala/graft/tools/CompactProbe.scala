package graft.tools

/** Measured before/after for the r18 bounded-parallel leaf compaction
  * (r17 directive #3): builds a Hive-partitioned table with N leaves ×
  * F tiny files, then times `Compact.compactPartitioned` at
  * parallelism 1 (the r17 driver-sequenced behavior) vs the default
  * pool vs a wider pool, on identical fresh copies. Run in a quiet
  * window; medians go to BASELINE.md.
  *
  *   sbt "runMain graft.tools.CompactProbe [leaves] [filesPerLeaf]"
  */
object CompactProbe {
  def main(args: Array[String]): Unit = {
    val leaves = args.lift(0).map(_.toInt).getOrElse(200)
    val files = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = graft.Session.local(32)
    val base = java.nio.file.Files.createTempDirectory("graft_compact_probe").toString

    def build(path: String): Unit =
      spark.range(0L, leaves * 1000L)
        .selectExpr("id", s"CAST(id % $leaves AS STRING) AS grp")
        .repartition(files).write.partitionBy("grp").mode("overwrite").parquet(path)

    def timed(par: Int): Double = {
      val path = s"$base/t_par$par"
      build(path)
      val t0 = System.nanoTime()
      val n = graft.ops.Compact.compactPartitioned(spark, path,
        targetBytes = 64L << 20, partDepth = 1, parallelism = par)
      val sec = (System.nanoTime() - t0) / 1e9
      require(n == leaves, s"expected $leaves rewrites, got $n")
      val rows = spark.read.parquet(path).count()
      require(rows == leaves * 1000L, s"content lost: $rows")
      sec
    }

    Seq(1, 4, 8, 16).foreach { par =>
      val sec = timed(par)
      println(f"[compact-probe] leaves=$leaves files=$files parallelism=$par sec=$sec%.2f")
    }
    spark.stop()
  }
}
