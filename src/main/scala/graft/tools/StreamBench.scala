package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{Cep, Changelog, NearDupStreaming, StatefulOps}

/** Streaming THROUGHPUT bench for the core stateful operators — the
  * batch battery (graft.Bench) never exercises the Structured
  * Streaming path, yet the reference is a streaming engine first
  * (flink-streaming-java). Each op pumps N synthetic rows through a
  * MemoryStream in fixed-size batches to a noop sink and reports
  * end-to-end rows/sec (micro-batch scheduling overhead included —
  * that IS the deployment cost model).
  *
  * Methodology: one warmup batch per query (codegen + state store
  * init), then timed `processAllAvailable` over all batches. The
  * battery runs at EACH (row-size × parallelism) combination in
  * SPARK_GRAFT_STREAM_ROWS × SPARK_GRAFT_STREAM_PARALLELISM
  * (defaults "400000,1600000" × "8,32") in one process — a fresh
  * SparkSession per level — so the partition-scaling claim carries
  * its own measurement: per-run the JSON records per-level rates,
  * the 32/8 speedup per op, and a `flat_ops` list (speedup < 1.1)
  * flagging ops whose throughput did NOT grow with partitions.
  *
  * What the two row sizes expose (measured round 11): per-batch cost
  * decomposes into a touched-KEYS component (state scan / timeout
  * handling ∝ keys per batch — amortized by bigger batches,
  * parallelized by partitions) and a per-PARTITION store-commit
  * fixed cost (grows with partition count). At 50k rows/batch the
  * key component dominates and the state-heavy ops speed up 1.6–2.7×
  * from 8→32 partitions; at 200k rows/batch eight partitions already
  * saturate the single JVM's cores and extra partitions only add
  * commit overhead (speedups ≤ 1). In production the 32-partition
  * row corresponds to 4× EXECUTORS (more physical cores and
  * independent state stores, not shared ones), so the small-batch
  * row is the scale-out signal and the large-batch row is the
  * single-node saturation ceiling. `ops` stays the first run's
  * first-level map for round-over-round comparability.
  *
  * Prints one JSON line: {"metric":"stream_rows_per_sec",...}
  */
object StreamBench {
  case class Ev(ts: java.sql.Timestamp, user: String, tpe: String, value: Double)
  case class Doc(doc_id: Long, text: String)
  case class Chg(row_kind: String, k: String, price: Double)
  case class Cj(row_kind: String, k: String, v: Double, seq: Long)
  case class Rtn(row_kind: String, grp: String, id: String, score: Double)

  def main(args: Array[String]): Unit = {
    val rowSizes = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "400000,1600000")
      .split(",").map(_.trim.toInt).toSeq
    val batches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt
    val levels = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARALLELISM", "8,32")
      .split(",").map(_.trim.toInt).toSeq
    // The HEADLINE level (first row size × first parallelism — the
    // round-over-round `ops` map) is the median of this many full
    // passes (r19: two same-session passes disagreed up to 4× per op
    // in BOTH directions — a 350k-row op finishes in 2-10 s, so one
    // contended stretch or an unlucky trigger boundary dominates a
    // single sample). The comparative axes (level sweep, partitions
    // sweep) stay single-sample: they compare within one session,
    // where the shared conditions cancel.
    val opRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_STREAM_OP_RUNS", "3").toInt)
    def medianMap(samples: Seq[collection.Map[String, Double]])
        : collection.Map[String, Double] = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      // median of the passes that REPORTED the key — a pass missing an
      // op (e.g. a filtered op set) must not NoSuchElementException the
      // whole bench run. Keys come from the UNION of all passes (r21
      // review finding): an op absent from the FIRST pass but present
      // in later ones was silently dropped from the report.
      samples.flatMap(_.keys).distinct.foreach { k =>
        val vs = samples.flatMap(_.get(k)).sorted
        if (vs.nonEmpty) out(k) = vs(vs.length / 2)
      }
      out
    }
    def m(kv: Iterable[(String, Double)]): String =
      kv.map { case (k, v) => f""""$k":${v}%.2f""" }.mkString("{", ",", "}")
    // SPARK_GRAFT_STREAM_STORE=rocksdb swaps the state store provider —
    // the reference's RocksDBStateBackend analog; with the partitions
    // axis showing every op state-store-commit-bound on one box, the
    // provider is the other lever worth measuring.
    val store = sys.env.getOrElse("SPARK_GRAFT_STREAM_STORE", "default")
    val runJsons = rowSizes.map { rows =>
      val byLevel = scala.collection.mutable.LinkedHashMap.empty[Int, collection.Map[String, Double]]
      levels.foreach { cpus =>
        val spark = graft.Session.local(cpus, cpus, store)
        val headline = rows == rowSizes.head && cpus == levels.head
        val passes = if (headline) opRuns else 1
        println(s"[stream-bench] --- rows=$rows parallelism=$cpus (passes=$passes) ---")
        byLevel(cpus) = medianMap((1 to passes).map(_ => benchAll(spark, rows, batches)))
        // a fresh session (not getOrCreate reuse) per level
        graft.Session.stop(spark)
      }
      val first = byLevel(levels.head)
      val last = byLevel(levels.last)
      val speedup = first.keys.map(k => k -> last(k) / first(k)).toSeq
      val flat = speedup.filter(_._2 < 1.1).map(_._1)
      (first,
        s"""{"rows":$rows,"batches":$batches,""" +
        s""""levels":{${byLevel.map { case (c, r) => s""""$c":${m(r)}""" }.mkString(",")}},""" +
        s""""speedup_${levels.last}_over_${levels.head}":${m(speedup)},""" +
        s""""flat_ops":[${flat.map(f => s""""$f"""").mkString(",")}]}""")
    }
    // Partitions axis (round 12): the r11 per-parallelism rows showed
    // 7/8 ops SLOWER at local[32] than local[8] on one box — but on a
    // single JVM, threads share the physical cores, so `local[n]` is
    // NOT the scale-out axis a cluster has. The axis that survives the
    // move to a real cluster is spark.sql.shuffle.partitions (= the
    // number of independent state stores). Here: fixed local[8]
    // compute, state partitions swept over SPARK_GRAFT_STREAM_PARTS
    // (default 8,32,128) at the first row size — separating "more
    // state stores" (per-trigger commit cost, parallel state scan)
    // from "more threads" (CPU contention).
    val partsAxis = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "8,32,128")
      .split(",").map(_.trim.toInt).toSeq
    val partsCpus = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS_CPUS", "8").toInt
    val partsJson = if (sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS_AXIS", "1") == "1") {
      val byParts = scala.collection.mutable.LinkedHashMap.empty[Int, collection.Map[String, Double]]
      partsAxis.foreach { p =>
        // Same state-store provider as the levels axis: without this, a
        // SPARK_GRAFT_STREAM_STORE=rocksdb run would write DEFAULT-provider
        // partitions-axis rows into the rocksdb-labeled artifact (r12 advice).
        val spark = graft.Session.local(partsCpus, p, store)
        println(s"[stream-bench] --- partitions-axis rows=${rowSizes.head} cpus=$partsCpus partitions=$p ---")
        byParts(p) = benchAll(spark, rowSizes.head, batches)
        graft.Session.stop(spark)
      }
      s""","partitions_axis":{"cpus":$partsCpus,"rows":${rowSizes.head},""" +
        s""""levels":{${byParts.map { case (p, r) => s""""$p":${m(r)}""" }.mkString(",")}}}"""
    } else ""
    // "ops" = first row-size, first level — round-over-round compatible.
    // "completion" records each op's measurement-termination protocol
    // (r14 judge directive #7): every op completes on
    // processAllAvailable EXCEPT the proctime rows (runOffset), whose
    // rate-source heartbeat never settles — they complete when the
    // MemoryStream's committed offset reaches the last added batch (see
    // the prose note above runOffset). Keyed by op name so the rate
    // maps stay name→number for round-over-round diffing.
    val json =
      s"""{"metric":"stream_rows_per_sec",""" +
      s""""store_provider":"$store",""" +
      s""""op_runs":$opRuns,""" +
      s""""completion":{"_default":"process_all_available","proctime_window_agg":"offset",""" +
      s""""proctime_over_range":"offset","proctime_over_rows":"offset"},""" +
      s""""ops":${m(runJsons.head._1.map { case (k, v) => k -> v })},""" +
      s""""runs":[${runJsons.map(_._2).mkString(",")}]$partsJson}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_STREAM_FILE", "STREAMBENCH.json")), json + "\n")
  }

  /** The op battery at one parallelism level. */
  def benchAll(spark: SparkSession, rows: Int,
               batches: Int): collection.Map[String, Double] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val perBatch = rows / batches
    def mkEv(i: Int): Ev = Ev(
      new java.sql.Timestamp(1700000000000L + i.toLong * 7),
      s"u${i % 50000}", s"t${i % 7}", (i % 1000).toDouble)

    // one batch of events, reused (the generator must not dominate)
    val evBatches: IndexedSeq[IndexedSeq[Ev]] =
      (0 until batches).map(b => (0 until perBatch).map(i => mkEv(b * perBatch + i)))

    def run(name: String, mode: OutputMode, mk: DataFrame => DataFrame,
            data: IndexedSeq[IndexedSeq[Ev]]): (String, Double) = {
      val in = MemoryStream[Ev]
      val out = mk(in.toDF())
      val q = out.writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"sb_$name").toString)
        .start()
      try {
        in.addData(data.head); q.processAllAvailable() // warmup batch
        val t0 = System.nanoTime()
        data.tail.foreach { b => in.addData(b) }
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val n = data.tail.map(_.size).sum
        println(f"[stream-bench] $name%-28s ${n / sec}%,.0f rows/s ($n rows in $sec%.2f s)")
        name -> n / sec
      } finally q.stop()
    }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    results += run("tumble_window_agg", OutputMode.Update,
      df => df.withWatermark("ts", "10 seconds")
        .groupBy(window(col("ts"), "1 minute"), col("tpe"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s")), evBatches)
    // proctime twin of the row above (late r14): per-record proctime()
    // stamp + 0-delay watermark + rate-source heartbeat union — the
    // delta vs tumble_window_agg is the stamping + heartbeat overhead.
    // processAllAvailable can NOT bound this measurement: the heartbeat
    // source has fresh offsets whenever a stateful batch outlasts one
    // heartbeat tick, so "all available" never settles at bench scale
    // (a test-utility artifact only — production continuous queries
    // never call it). Completion is detected from the MemoryStream's
    // committed offset instead: when the query's batchId-committed
    // source progress reaches the last added offset, every data row has
    // been ingested through the stateful agg.
    def runOffset(name: String, mk: DataFrame => DataFrame): (String, Double) = {
      val in = MemoryStream[Ev]
      val out = mk(in.toDF())
      val q = out.writeStream.format("noop").outputMode(OutputMode.Append)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"sb_$name").toString)
        .start()
      try {
        def memCommitted(): Long = {
          val p = q.lastProgress
          if (p == null) -1L
          else p.sources.filter(_.description.startsWith("MemoryStream"))
            .map(s => Option(s.endOffset).map(_.trim.toLong).getOrElse(-1L))
            .headOption.getOrElse(-1L)
        }
        def off(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
          o.json.trim.toLong
        val warmTarget = off(in.addData(evBatches.head)) // warmup batch
        while (memCommitted() < warmTarget) Thread.sleep(50)
        val t0 = System.nanoTime()
        val target = off(evBatches.tail.map(b => in.addData(b)).last)
        while (memCommitted() < target) Thread.sleep(50)
        val sec = (System.nanoTime() - t0) / 1e9
        val n = evBatches.tail.map(_.size).sum
        println(f"[stream-bench] $name%-28s ${n / sec}%,.0f rows/s ($n rows in $sec%.2f s)")
        name -> n / sec
      } finally q.stop()
    }
    results += runOffset("proctime_window_agg",
      df => graft.streaming.Windows.procTimeWindowAgg(
        df, graft.streaming.Windows.tumble(_, "2 seconds"), Seq("tpe"),
        Seq(count(lit(1)).as("n"), sum(col("value")).as("s"))))
    // proctime bounded-preceding OVER (r15 closure): same heartbeat
    // channel, watermark-buffered release through fmgws — compare to
    // running_over_agg (the arrival-order keyed fold) for the cost of
    // the pending-buffer + prompt-release timer discipline.
    results += runOffset("proctime_over_range",
      df => StatefulOps.procTimeBoundedRangeAgg(
        df, Seq("tpe"), "value", rangeSec = 60L))
    results += runOffset("proctime_over_rows",
      df => StatefulOps.procTimeBoundedRowsAgg(
        df, Seq("tpe"), "value", nRows = 100))
    results += run("dedup_keep_first", OutputMode.Append,
      df => StatefulOps.keepFirstStreaming(df, Seq("user")), evBatches)
    results += run("topn_per_key", OutputMode.Update,
      df => StatefulOps.topNStreaming(df, Seq("tpe"), "value", descending = true, n = 5),
      evBatches)
    results += run("running_over_agg", OutputMode.Append,
      df => StatefulOps.runningAggStreaming(df, Seq("user"), "ts", "value"), evBatches)
    // per-partition watermark combine (idleness + alignment advice):
    // data-scale heartbeat fold on the partition key, then the
    // metadata-scale coordinator group — throughput is the fold's:
    // the coordinator sees one row per (partition, trigger), so its
    // cost is invariant in the row count
    results += run("watermark_align", OutputMode.Append,
      df => graft.streaming.WatermarkAlignment.idleAwareWatermark(
        df, "tpe", "ts", outOfOrderMs = 1000L, idleTimeoutMs = 60000L,
        maxDriftMs = 3600000L), evBatches)
    // late-fire windowed agg (allowedLateness corrections): per-key
    // open-window state, NoTimeout — cost model is the same keyed fold
    // as the tumble agg plus the per-key window map scan
    results += run("latefire_window_agg", OutputMode.Update,
      df => StatefulOps.lateFireWindowAgg(
        df.withWatermark("ts", "10 seconds"), Seq("tpe"), "ts", "value",
        windowSec = 60L, latenessMs = 60000L), evBatches)
    // TWS twin with event-time timers (idle-key finals): the sentinel
    // branch is filtered above the watermark node (r15), so vs the
    // NoTimeout op above this measures only the extra map-side source
    // projection — the shuffle carries the same data rows.
    // transformWithState requires the RocksDB provider, so it is forced
    // for this row regardless of the battery's store axis — compare to
    // latefire_window_agg on the rocksdb axis for like-for-like.
    locally {
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        graft.Session.stateStores("rocksdb"))
      try results += run("latefire_window_agg_timers", OutputMode.Append,
        df => StatefulOps.lateFireWindowAggTimers(
          df, Seq("tpe"), "ts", "value",
          windowSec = 60L, latenessMs = 60000L, disorderDelay = "10 seconds"),
        evBatches)
      finally prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    results += run("cep_match_pattern", OutputMode.Append,
      df => Cep.matchPatternStreaming(
        df.withWatermark("ts", "10 seconds")
          .withColumn("eid", concat_ws("-", col("user"), col("ts").cast("long"))),
        "user", "ts", "eid",
        Seq(Cep.Step.once("a", (r: org.apache.spark.sql.Row) =>
              r.getString(r.fieldIndex("tpe")) == "t0"),
            Cep.Step.oneOrMore("b", (r: org.apache.spark.sql.Row) =>
              r.getString(r.fieldIndex("tpe")) == "t1")),
        withinSec = 60L), evBatches)

    // retract-aware group agg over a +I/-D changelog (10% deletes)
    val chgBatches: IndexedSeq[IndexedSeq[Chg]] =
      (0 until batches).map(b => (0 until perBatch).map { i =>
        val n = b * perBatch + i
        Chg(if (n % 10 == 9) "-D" else "+I", s"k${n % 50000}", (n % 1000).toDouble)
      })
    locally {
      val in = MemoryStream[Chg]
      val out = Changelog.retractGroupAgg(in.toDF(), Seq("k"), "price")
      val q = out.writeStream.format("noop").outputMode(OutputMode.Update)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sb_retract").toString)
        .start()
      try {
        in.addData(chgBatches.head); q.processAllAvailable()
        val t0 = System.nanoTime()
        chgBatches.tail.foreach(b => in.addData(b))
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val n = chgBatches.tail.map(_.size).sum
        println(f"[stream-bench] retract_group_agg            ${n / sec}%,.0f rows/s ($n rows in $sec%.2f s)")
        results += ("retract_group_agg" -> n / sec)
      } finally q.stop()
    }

    // retracting stream-stream join (r16: SURVEY row 24's first
    // committed throughput row): two +I/-D changelog sides keyed on k,
    // ~batches rows per key per side so the per-key cross product stays
    // bounded; throughput counts BOTH sides' rows through the operator.
    locally {
      val perSide = perBatch / 2
      def mkSide(b: Int, side: Int): IndexedSeq[Cj] =
        (0 until perSide).map { i =>
          val n = b * perSide + i
          Cj(if (n % 10 == 9) "-D" else "+I", s"k${n % 50000}",
            (n % 1000).toDouble + side, n.toLong * 2 + side)
        }
      val lIn = MemoryStream[Cj]
      val rIn = MemoryStream[Cj]
      val out = graft.streaming.ChangelogJoin.streaming(
        lIn.toDF(), Seq("k"), rIn.toDF(), Seq("k"), "seq", "inner")
      val q = out.writeStream.format("noop").outputMode(OutputMode.Append)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sb_cjoin").toString)
        .start()
      try {
        lIn.addData(mkSide(0, 0)); rIn.addData(mkSide(0, 1))
        q.processAllAvailable()
        val t0 = System.nanoTime()
        (1 until batches).foreach { b =>
          lIn.addData(mkSide(b, 0)); rIn.addData(mkSide(b, 1))
        }
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val n = (batches - 1).toLong * perSide * 2
        println(f"[stream-bench] changelog_join               ${n / sec}%,.0f rows/s ($n rows in $sec%.2f s)")
        results += ("changelog_join" -> n / sec)
      } finally q.stop()
    }

    // retractable TopN over an updating input (r16: SURVEY row 44's
    // first committed throughput row): per-group id→row state map,
    // diff-emitting membership changelog
    locally {
      val rtBatches: IndexedSeq[IndexedSeq[Rtn]] =
        (0 until batches).map(b => (0 until perBatch).map { i =>
          val n = b * perBatch + i
          Rtn(if (n % 10 == 9) "-D" else "+I", s"g${n % 1000}",
            s"id${n % 20000}", (n % 997).toDouble)
        })
      val in = MemoryStream[Rtn]
      val out = graft.streaming.RetractTopN(
        in.toDF(), keys = Seq("grp"), idCol = "id", scoreCol = "score", n = 5)
      val q = out.writeStream.format("noop").outputMode(OutputMode.Append)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sb_rtopn").toString)
        .start()
      try {
        in.addData(rtBatches.head); q.processAllAvailable()
        val t0 = System.nanoTime()
        rtBatches.tail.foreach(b => in.addData(b))
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val n = rtBatches.tail.map(_.size).sum
        println(f"[stream-bench] retract_topn                 ${n / sec}%,.0f rows/s ($n rows in $sec%.2f s)")
        results += ("retract_topn" -> n / sec)
      } finally q.stop()
    }

    // near-dup tagging works on documents; smaller corpus, text-heavy
    val docRows = rows / 8
    val docPerBatch = docRows / batches
    def mkDoc(i: Int): Doc = {
      val base = (0 until 30).map(w => s"w${(i * 31 + w * 7) % 5000}").mkString(" ")
      Doc(i.toLong, if (i % 10 == 0) base else s"$base uniq$i")
    }
    val docBatches = (0 until batches).map(b =>
      (0 until docPerBatch).map(i => mkDoc(b * docPerBatch + i)))
    locally {
      val in = MemoryStream[Doc]
      // the op starts its own foreachBatch query; the sink just forces
      // materialization of the per-doc tags
      val q = NearDupStreaming.nearDupTagStreaming(in.toDF(), "doc_id", "text")(
        perDoc => perDoc.write.format("noop").mode("overwrite").save())
      try {
        in.addData(docBatches.head); q.processAllAvailable()
        val t0 = System.nanoTime()
        docBatches.tail.foreach(b => in.addData(b))
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val n = docBatches.tail.map(_.size).sum
        println(f"[stream-bench] neardup_lsh_tag              ${n / sec}%,.0f docs/s ($n docs in $sec%.2f s)")
        results += ("neardup_lsh_tag" -> n / sec)
      } finally q.stop()
    }
    results
  }
}
