package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** A batch workload: a fixed query list run in a seeded order. The
  * warm-up pass is part of set-up: it checks each result's digest, then
  * writes the same Dataset to the noop sink the way the timed passes do,
  * so that no timed pass runs that path cold. The timed passes build each
  * query and write it to the noop sink (which forces every column, unlike
  * `count()`).
  *
  * In a traced run, passes alternate between untraced and traced, at
  * least three: the traced ones give the per-layer numbers, and traced
  * against untraced gives the tracing overhead. */
object BatchWorkload {
  /** A timed pass takes about this long on 4 cores. A run makes
    * `seconds / PassSeconds` whole passes, so that the sample count, and
    * with it the tail percentile, is the same in every run. */
  val PassSeconds = 5

  /** (module, query name, builder) */
  type Q = (String, String, Workloads.Query)

  final case class Sample(q: Q, qid: String, wallS: Double, ok: Boolean)

  def run(spark: SparkSession, dataDir: String, queries: Seq[Q], expected: Map[String, String],
          seed: Long, seconds: Int, trace: Boolean, startNs: Long, tracePath: java.nio.file.Path): Result = {
    val res = new Result
    val sc = spark.sparkContext
    val order = new Random(seed).shuffle(queries)
    res.note(s"order: ${order.map(_._2).mkString(" ")}")

    // Warm-up pass: JIT, codegen, stage-once tables, the output check and
    // the noop write path.
    val pinned = mutable.ArrayBuffer.empty[String]
    order.foreach { case (_, name, fn) =>
      val before = sc.getPersistentRDDs.size
      val ok = try {
        val df = fn(spark, dataDir)
        val got = Digest.of(df)
        df.write.format("noop").mode("overwrite").save()
        expected.get(name) match {
          case Some(e) if e.startsWith("rows:") => got.rows == e.drop(5).toLong ||
            { res.note(s"$name: $got rows, expected ${e.drop(5)}"); false }
          case Some(e) => got == Digest.parse(e) || { res.note(s"$name: digest $got, expected $e"); false }
          case None => res.note(s"$name: no expected digest (got $got)"); false
        }
      } catch { case e: Throwable => res.note(s"$name failed in warm-up: $e"); false }
      res.attempt(ok)
      val added = sc.getPersistentRDDs.size - before
      if (added > 0) pinned += s"$name+$added"
    }
    if (pinned.nonEmpty) res.note(s"RDDs left persisted by the warm-up pass: ${pinned.mkString(" ")}")
    val setupS = (System.nanoTime() - startNs) / 1e9

    val tracer = new Tracer
    val counters = new ExecCounters
    val plans = new PlanCapture
    def traced(on: Boolean): Unit = if (trace && on != tracer.on) {
      tracer.on = on
      if (on) { sc.addSparkListener(counters); spark.listenerManager.register(plans) }
      else { ListenerDrain(sc); sc.removeSparkListener(counters); spark.listenerManager.unregister(plans) }
    }

    val passes = mutable.ArrayBuffer.empty[(Boolean, Seq[Sample])]
    // (query, persistent RDDs before it, after it), traced passes only
    val persisted = mutable.ArrayBuffer.empty[(String, Int, Int)]
    val passCount = math.max(if (trace) 3 else 1, seconds / PassSeconds)
    for (pass <- 0 until passCount) {
      val on = trace && pass % 2 == 1
      traced(on)
      val samples = order.map { q =>
        val (_, name, fn) = q
        val qid = s"$name#$pass"
        sc.setLocalProperty(Tags.Query, qid)
        val before = sc.getPersistentRDDs.size
        val s0 = System.nanoTime()
        val ok = try {
          tracer.span("query", "query", qid) {
            sc.setLocalProperty(Tags.Phase, "construct")
            val df = tracer.span("construct", "queries", qid)(fn(spark, dataDir))
            sc.setLocalProperty(Tags.Phase, "exec")
            tracer.span("write", "exec", qid)(df.write.format("noop").mode("overwrite").save())
          }
          true
        } catch { case e: Throwable => res.note(s"$qid failed: $e"); false }
        val wall = (System.nanoTime() - s0) / 1e9
        sc.setLocalProperty(Tags.Phase, null)
        sc.setLocalProperty(Tags.Query, null)
        if (on) persisted += ((name, before, sc.getPersistentRDDs.size))
        res.attempt(ok)
        Sample(q, qid, wall, ok)
      }
      passes += on -> samples
    }
    traced(false)

    val measured = passes.filterNot(_._1).map(_._2)
    val ok = measured.flatten.filter(_.ok)
    res.put("setup_s", setupS, "s")
    if (ok.nonEmpty) {
      res.put("pass_s", Stats.median(measured.map(_.filter(_.ok).map(_.wallS).sum).toSeq), "s")
      res.put("op_p50_ms", Stats.medianOfMedians(ok.groupBy(_.q._2).values.map(_.map(_.wallS * 1000).toSeq)), "ms")
      val tail = Stats.tail(ok.map(_.wallS * 1000).toSeq)
      res.put("op_tail_ms", tail.value, "ms")
      res.note(f"op_tail_ms is p${tail.percentile}%.1f of ${tail.samples} query samples " +
        s"over ${measured.size} passes of ${order.size} queries; passes took " +
        measured.map(p => f"${p.map(_.wallS).sum}%.2f").mkString(" ") + " s")
    }
    if (trace) layers(res, spark, tracer, counters, plans, passes.toSeq, persisted.toSeq, tracePath)
    res
  }

  /** Writes each query's digest, computed in two passes in opposite
    * orders; a query whose two digests differ gets its row count only. */
  def capture(spark: SparkSession, dataDir: String, queries: Seq[Q], out: java.io.File): Unit = {
    def pass(qs: Seq[Q]) = qs.map { case (_, name, fn) => name -> Digest.of(fn(spark, dataDir)) }.toMap
    val a = pass(queries)
    val b = pass(queries.reverse)
    val lines = queries.map { case (_, name, _) =>
      val d = a(name)
      if (d == b(name)) s"$name\t$d" else s"$name\trows:${d.rows}"
    }
    out.getParentFile.mkdirs()
    java.nio.file.Files.writeString(out.toPath, lines.mkString("", "\n", "\n"))
  }

  /** Per-layer metrics from the traced passes: times as the median over
    * traced passes of each pass's sum, counts from the first traced pass
    * (they repeat exactly from pass to pass). */
  private def layers(res: Result, spark: SparkSession, tracer: Tracer, counters: ExecCounters,
                     plans: PlanCapture, passes: Seq[(Boolean, Seq[Sample])],
                     persisted: Seq[(String, Int, Int)], tracePath: java.nio.file.Path): Unit = {
    // Planning phases of the executing write: each capture belongs to the
    // write span in which its optimization phase ended (phases are in
    // whole ms, hence the 1 ms slack).
    val writes = tracer.spans.filter(_.name == "write")
    val planCounts = mutable.HashMap.empty[String, (Int, Int)] // query id -> (exchanges, broadcasts)
    plans.take().foreach { p =>
      p.phases.get("optimization").foreach { case (_, oe) =>
        writes.find(w => w.startMs - 1 <= oe && oe <= w.endMs + 1).foreach { w =>
          // Analysis happens in the builder, when the Dataset is made.
          Seq("optimization" -> "optimize", "planning" -> "physical").foreach { case (phase, name) =>
            // The writer shares the Dataset's tracker, so a phase may have
            // opened in the builder; only the part inside the write counts.
            p.phases.get(phase).foreach { case (s, e) =>
              tracer.add(w.id, name, "plan", w.queryId, math.max(s.toDouble, w.startMs), e.toDouble)
            }
          }
          planCounts(w.queryId) = (p.exchanges, p.broadcasts)
        }
      }
    }
    val spans = tracer.spans
    val self = Stats.selfTimes(spans)
    val byQuery = spans.groupBy(_.queryId)
    val cores = spark.sparkContext.defaultParallelism
    val tracedPasses = passes.filter(_._1).map(_._2)

    def sumSelf(qids: Seq[String], p: Span => Boolean): Double =
      qids.flatMap(byQuery.getOrElse(_, Nil)).filter(p).map(s => self(s.id)).sum / 1000
    def perPass(f: Seq[Sample] => Double): Double = Stats.median(tracedPasses.map(f))
    def qids(ss: Seq[Sample]) = ss.map(_.qid)

    res.put("queries.construct_s", perPass(ss => sumSelf(qids(ss), _.layer == "queries")), "s")
    Metrics.Modules.foreach { m =>
      def ofModule(ss: Seq[Sample]) = qids(ss.filter(_.q._1 == m))
      res.put(s"queries.construct_s.$m", perPass(ss => sumSelf(ofModule(ss), _.layer == "queries")), "s")
      res.put(s"exec.s.$m", perPass(ss => sumSelf(ofModule(ss), _.layer == "exec")), "s")
    }
    Seq("optimize", "physical").foreach { n =>
      res.put(s"plan.${n}_s", perPass(ss => sumSelf(qids(ss), s => s.layer == "plan" && s.name == n)), "s")
    }
    val execS = perPass(ss => sumSelf(qids(ss), _.layer == "exec"))
    res.put("exec.s", execS, "s")
    Seq("query" -> "query", "queries" -> "queries", "plan" -> "plan", "exec" -> "exec").foreach {
      case (metric, layer) => res.put(s"self_s.$metric", perPass(ss => sumSelf(qids(ss), _.layer == layer)), "s")
    }
    res.put("self_s.streaming", 0, "s")

    // Counts from the first traced pass.
    val first = tracedPasses.head
    def c(phase: String) = first.flatMap(s => counters.get(s.qid, phase))
    val ex = c("exec")
    res.put("queries.construct_jobs", c("construct").map(_.jobs).sum, "count")
    val firstPersisted = persisted.take(first.size)
    res.put("queries.persisted_rdds", firstPersisted.lastOption.map(_._3).getOrElse(0).toDouble, "count")
    val counts = first.flatMap(s => planCounts.get(s.qid))
    res.put("plan.exchanges", counts.map(_._1).sum, "count")
    res.put("plan.broadcasts", counts.map(_._2).sum, "count")
    res.put("exec.jobs", ex.map(_.jobs).sum, "count")
    res.put("exec.stages", ex.map(_.stages).sum, "count")
    res.put("exec.tasks", ex.map(_.tasks).sum, "count")
    res.put("exec.task_run_s", ex.map(_.runMs).sum / 1e3, "s")
    res.put("exec.task_cpu_s", ex.map(_.cpuNs).sum / 1e9, "s")
    res.put("exec.gc_s", ex.map(_.gcMs).sum / 1e3, "s")
    res.put("exec.input_bytes", ex.map(_.inputBytes).sum, "bytes")
    res.put("exec.shuffle_write_bytes", ex.map(_.shuffleWrite).sum, "bytes")
    res.put("exec.shuffle_read_bytes", ex.map(_.shuffleRead).sum, "bytes")
    res.put("exec.spill_bytes", ex.map(_.spill).sum, "bytes")
    res.put("exec.failed_tasks", ex.map(_.failedTasks).sum, "count")
    val firstExecS = sumSelf(qids(first), _.layer == "exec")
    res.put("exec.slot_busy_frac", Stats.slotBusyFrac(ex.map(_.runMs).sum / 1e3, firstExecS, cores), "ratio")

    // Construct + plan + exec self times against each query's wall time.
    val unaccounted = tracedPasses.flatten.filter(_.ok).map { s =>
      val inner = byQuery.getOrElse(s.qid, Nil)
        .filter(x => Set("queries", "plan", "exec")(x.layer)).map(x => self(x.id)).sum
      1 - inner / (s.wallS * 1000)
    }
    res.put("trace.unaccounted_max_frac", if (unaccounted.isEmpty) 0 else unaccounted.max, "ratio")
    val untraced = passes.filterNot(_._1).map(_._2.filter(_.ok).map(_.wallS).sum)
    val tracedS = tracedPasses.map(_.filter(_.ok).map(_.wallS).sum)
    res.put("trace.overhead_s", Stats.median(tracedS) - Stats.median(untraced), "s")
    val pinned = firstPersisted.collect { case (n, a, b) if b > a => s"$n+${b - a}" }
    res.note(s"persisted RDDs after the first traced pass: ${firstPersisted.lastOption.map(_._3).getOrElse(0)}" +
      (if (pinned.nonEmpty) s", added by ${pinned.mkString(" ")}" else ""))
    tracer.writeJson(tracePath)
    res.note(s"spans written to $tracePath")
  }
}
