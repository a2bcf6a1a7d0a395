package graft.tools

/** Smoke-checks the driver contract: SparkEntry.entry returns rows>0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8)
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[entry-smoke] rows=$n " + (if (n > 0) "OK" else "EMPTY"))
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
