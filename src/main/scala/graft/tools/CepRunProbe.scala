package graft.tools

/** Times the CEP worst-case shape — one key, an n-row consecutive
  * `A+` run whose NEXT step never matches, everything inside one
  * within-window — across a decade of n, to document that the r20
  * scan memos (failed probes + run ends + failed intervals) made the
  * matcher LINEAR where the r19 iterative rewrite was O(n²) per
  * key-window (the reference NFA shares suffix computation across
  * starts — flink-cep SharedBuffer). CepSpec pins the complexity by
  * predicate-call count; this probe records the wall-clock axis for
  * BASELINE.md.
  */
object CepRunProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(4)
    import spark.implicits._
    import graft.streaming.Cep
    def is(k: String) = (r: org.apache.spark.sql.Row) =>
      r.getString(r.fieldIndex("tpe")) == k
    val sizes = sys.env.getOrElse("SPARK_GRAFT_CEP_SIZES", "20000,50000,100000,200000")
      .split(",").map(_.trim.toInt)
    sizes.foreach { n =>
      val rows = (0 until n).map(i =>
        ("k", new java.sql.Timestamp(1700000000000L + i * 10L), f"e$i%07d", "t1"))
      val df = rows.toDF("user", "ts", "eid", "tpe").coalesce(1).cache()
      df.count()
      val steps = Seq(
        Cep.Step.oneOrMore("a", is("t1")),
        Cep.Step.once("b", is("t9"))) // never matches
      val t0 = System.nanoTime()
      val out = Cep.matchPattern(df, "user", "ts", "eid", steps,
        withinSec = 86400L * 365).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      require(out.isEmpty)
      println(f"[cep-run-probe] n=$n%7d  ${sec}%8.3f s  (${n / sec}%,.0f rows/s)")
      df.unpersist()
    }
    spark.stop()
  }
}
