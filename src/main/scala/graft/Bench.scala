package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * forcing full materialization through a noop sink (count() would let
  * Catalyst prune the projected columns), and prints one JSON line.
  *
  * Methodology: per query, one warmup pass (JIT, codegen cache, page
  * cache) immediately followed by SPARK_GRAFT_RUNS (default 3) timed
  * runs; the reported per-query number is the MEDIAN and a stddev map
  * quantifies noise — the driver compares rounds against a frozen
  * baseline, so run-to-run variance matters more than absolute wall
  * time.
  *
  * Timeout-proofing (round 6): the driver's round-5 bench was killed
  * by its wall budget and left NO artifact (one write at the very
  * end). Now the full cumulative JSON is rewritten to the output file
  * after EVERY query, so a kill at any point leaves every completed
  * row parseable ("partial":true marks an in-flight file). A wall
  * budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 1080 s) degrades
  * gracefully: under 25% budget remaining → 1 run and no warmup per
  * query; under 2% → stop and report the rest in "not_run".
  *
  * `t36_jaccard_pairs` — the documented intentionally-quadratic
  * exact-Jaccard baseline (LSH queries n51/n53 are the scale path) —
  * is NOT run at all by default: at ~12 s/run it was 12% of battery
  * wall for a query excluded from the headline by design.
  * SPARK_GRAFT_BENCH_T36=1 re-enables it (still excluded from the
  * headline total). It always runs in the correctness gate.
  *
  * SPARK_GRAFT_ONLY="q1_x q2_y" benches a subset — the 9-run
  * fresh-JVM median playbook for per-query drift investigation. A
  * subset run records "only":[...] in the JSON and defaults its
  * output file to BENCH_SUBSET.json so it can never silently
  * overwrite the committed full-battery artifact.
  *
  * Self-adjudication (round 14): three consecutive rounds the full
  * battery shipped 5-15x contamination on untouched code paths that a
  * quiet exclusive re-run cleared (r11 q78-q81, r12 q73-q77/t58, r13
  * q80-q82/t33-t35 — all judge-adjudicated environmental; this
  * sandbox's vCPUs are time-shared and a noisy-neighbor window can
  * straddle several alphabetically-adjacent queries). The bench now
  * runs the adjudication protocol itself: after the battery, any
  * query whose median exceeds 1.5x its own min-across-runs OR 1.5x
  * its calib-scaled BASELINE.md FROZEN-r10 value, or whose stddev
  * exceeds 0.12 of its median (and is >= 0.25 s — sub-quarter-second
  * rows trip the ratios from pure timer noise) is re-measured, worst
  * first and at most 20 rows, in a quiet tail pass
  * (SPARK_GRAFT_REMEASURE_RUNS, default 5, fresh warmup). The
  * contended battery median is preserved in "contended",
  * the quiet median lands in "remeasured" — and replaces the query's
  * row in "queries" ONLY when the tail's own fresh calibration
  * ("remeasure_calib_spark32_sec") is <= the battery's, i.e. the tail
  * window demonstrably ran quieter (r15 directive #4 — the protocol
  * must not be launderable). On rejection the contended medians stay
  * in "queries", "remeasure_applied":false and a
  * "remeasure_rejected_reason" flag the artifact. Substituted rows
  * keep the battery's n_ok/flaky markers; the tail survivors land in
  * "remeasure_n_ok". [[BenchAdjudication]] holds the (spec-pinned)
  * decision logic. SPARK_GRAFT_REMEASURE=0 disables.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val startNano = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - startNano) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1080").toDouble
    // run-but-not-in-headline-total (kept for round-over-round compat)
    val skipped = Seq("t36_jaccard_pairs")
    // not run at all unless explicitly re-enabled
    val excluded =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_T36", "0") == "1") Seq.empty[String]
      else Seq("t36_jaccard_pairs")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split("\\s+").toSet).getOrElse(Set.empty[String])
    val remeasureOn = sys.env.getOrElse("SPARK_GRAFT_REMEASURE", "1") == "1"
    val remeasureRuns = sys.env.getOrElse("SPARK_GRAFT_REMEASURE_RUNS", "5").toInt
    // r22 (verdict directive #3): the r21 battery let transiently
    // contended rows (m61/m62/m64/n54 at 1.5-2.2x their quiet values)
    // through the 2x trigger and they landed as false "regressions" in
    // PERF. Trigger lowered to 1.5x, a stddev/median secondary trigger
    // added (a contended window inflates run-to-run spread long before
    // it doubles the median), and the cap raised 15 -> 20 to absorb the
    // wider net (worst-first under the budget guard, as before).
    val remeasureCap = 20
    val remeasureTrigger = 1.5
    val remeasureSdTrigger = 0.12
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
      if (only.nonEmpty) "BENCH_SUBSET.json" else "BENCH_LOCAL.json")
    val spark = Session.local(cpus)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .filterNot { case (n, _) => excluded.contains(n) }
    // A failed run must NEVER be recorded as a timing (round 9's 25
    // events failures read as "2-5x faster" rows): None marks failure,
    // the query lands in "failed" and is excluded from the headline.
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: $e")
        None
      }
    }
    // Environment calibration: two fixed jobs whose cost is independent
    // of any query code — a reader comparing rounds divides medians by
    // these to separate plan regressions from host-speed drift (this
    // sandbox's vCPUs are time-shared; absolute wall times swing >10×
    // between quiet and contended windows). Runs FIRST so even a
    // truncated artifact carries the calibration context.
    def medianOf(ts: Seq[Double]): Double = ts.sorted.apply(ts.length / 2)
    // bit_xor, not sum: summing 200M arbitrary longs overflows ANSI
    // LongType; xor is closed over Long. Never let calibration kill the
    // bench — fall back to -1 on any failure.
    val calibSpark = try medianOf((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }) catch { case e: Throwable =>
      System.err.println(s"[bench] calibration failed: $e"); -1.0
    }
    val calibJvm = medianOf((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var acc = 0L; var i = 0L
      while (i < 100000000L) { acc ^= graft.functions.Hashing.mix64(i); i += 1 }
      if (acc == 42L) println("") // keep the loop observable
      (System.nanoTime() - t0) / 1e9
    })

    // FROZEN-r10 anchor medians (builder environment, calib 0.2610) from
    // BASELINE.md — the same table scripts/gate.py reads. Missing file or
    // header degrades to min-across-runs-only adjudication, never a crash.
    val anchorCalib = 0.2610
    val frozen: Map[String, Double] = try {
      val path = sys.env.getOrElse("SPARK_GRAFT_BASELINE_MD", "BASELINE.md")
      val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      val sec = ("""(?s)Frozen per-query 3-run medians \(seconds, builder\s+""" +
        """environment at\s+calib 0\.2610\):(.*?)(\n## |\z)""").r
      sec.findFirstMatchIn(text).map { sm =>
        """\|\s*([a-z]\w+)\s*\|\s*([0-9.]+)\s*""".r
          .findAllMatchIn(sm.group(1)).map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] no frozen table ($e) — min-based adjudication only")
      Map.empty
    }

    def m(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")
    def mi(kv: Seq[(String, Int)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def arr(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // (name, median, sd, okRuns, attemptedRuns, minRun). A query with SOME
    // failed runs used to render as a normal timing row (median over
    // survivors only) — r10 advice: that hides flakiness. It now also lands
    // in "flaky", and "n_ok" records survivors per query. `extra` carries
    // the adjudication fields once the re-measure pass has run.
    // `compact = true` drops the two full-battery-size detail maps
    // (stddev, n_ok) from the rendering. The STDOUT line is printed
    // compact (r22, verdict directive #2): the driver recovers the bench
    // JSON from a bounded tail capture of this process's output, and
    // round 20's full-width line (~18 KB) was truncated out of that
    // window, costing the round its round-over-round comparison. The
    // contract fields (metric/value/unit/queries/sf) plus the
    // adjudication verdict all survive in ~7 KB; the full detail
    // (stddev, n_ok) still lands in the artifact FILE, which is written
    // complete after every query as before.
    def renderJson(results: Seq[(String, Double, Double, Int, Int, Double)], notRun: Seq[String],
                   failed: Seq[String], partial: Boolean, extra: String = "",
                   compact: Boolean = false): String = {
      val total = results.filterNot(r => skipped.contains(r._1)).map(_._2).sum
      val onlyField =
        if (only.nonEmpty) s""""only":${arr(only.toSeq.sorted)},""" else ""
      val partialField = if (partial) """"partial":true,""" else ""
      val flaky = results.collect { case (n, _, _, ok, att, _) if ok < att => n }
      val detail = if (compact) ""
        else s""""stddev":${m(results.map(r => r._1 -> r._3))},""" +
          s""""n_ok":${mi(results.map(r => r._1 -> r._4))},"""
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""queries":${m(results.map(r => r._1 -> r._2))},""" +
        detail +
        s""""flaky":${arr(flaky)},""" +
        s""""runs":$runs,"skipped":${arr(skipped)},"excluded":${arr(excluded)},""" +
        s""""not_run":${arr(notRun)},"failed":${arr(failed)},$onlyField$partialField$extra""" +
        f""""calib_spark32_sec":$calibSpark%.4f,"calib_jvm1_sec":$calibJvm%.4f,""" +
        s""""budget_sec":$budget,"sf":"$sfDir"}"""
    }
    def writeFile(json: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: $e") }

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Int, Int, Double)]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    var stoppedAt = -1
    var i = 0
    while (i < sorted.length && stoppedAt < 0) {
      val (name, fn) = sorted(i)
      if (elapsed > budget * 0.98) {
        System.err.println(f"[bench] budget exhausted at $elapsed%.0f s — stopping before $name")
        stoppedAt = i
      } else {
        // Degrade near the budget: 1 run, no warmup, so every remaining
        // query still gets a (noisier) row instead of none.
        val degraded = elapsed > budget * 0.75
        if (!degraded) runOnce(name, fn)
        val nRuns = if (degraded) 1 else runs
        val ts = (1 to nRuns).flatMap(_ => runOnce(name, fn)).sorted
        if (ts.isEmpty) failed += name
        else {
          val median = ts(ts.length / 2)
          val mean = ts.sum / ts.length
          val sd = math.sqrt(ts.map(t => (t - mean) * (t - mean)).sum / ts.length)
          results += ((name, median, sd, ts.length, nRuns, ts.head))
        }
        // Durability: rewrite the cumulative artifact after EVERY query
        // so a driver-side kill (round-5's rc=124) still leaves every
        // completed row on disk, parseable.
        val notRunYet = sorted.drop(i + 1).map(_._1)
        writeFile(renderJson(results.toSeq, notRunYet, failed.toSeq, partial = notRunYet.nonEmpty))
        i += 1
      }
    }
    val notRun = if (stoppedAt >= 0) sorted.drop(stoppedAt).map(_._1) else Seq.empty

    // ---- self-adjudication pass (round-14 directive #1) ----
    // Trigger: see BenchAdjudication.isSuspect. The frozen threshold
    // scales by calibSpark/anchorCalib so a uniformly slow host doesn't flag the
    // whole battery; the min-run threshold is calib-free (same-process
    // comparison). Suspects re-measure worst-first under a cap, with the
    // artifact rewritten after each so a kill still leaves adjudicated
    // rows on disk.
    val fnByName = sorted.toMap
    val calibScale = if (calibSpark > 0) calibSpark / anchorCalib else 1.0
    var extra = ""
    // Subset runs ARE the quiet protocol already, so adjudication is off
    // for them.
    if (remeasureOn && stoppedAt < 0 && only.isEmpty) {
      def severity(r: (String, Double, Double, Int, Int, Double)): Double = {
        val (name, med, sd, _, _, mn) = r
        BenchAdjudication.severity(med, sd, mn,
          frozen.get(name).map(_ * calibScale))
      }
      val suspects = results.toSeq
        .filter { r => BenchAdjudication.isSuspect(r._2, r._3, r._6,
          frozen.get(r._1).map(_ * calibScale), remeasureTrigger, remeasureSdTrigger) }
        .sortBy(r => -severity(r))
      val (toRun, skippedByCap) = suspects.splitAt(remeasureCap)
      if (suspects.nonEmpty) {
        System.err.println(s"[bench] adjudicating ${toRun.size} contended rows" +
          (if (skippedByCap.nonEmpty) s" (${skippedByCap.size} over cap)" else "") +
          s": ${toRun.map(_._1).mkString(", ")}")
        // Fresh calibration for the tail window — lets a reader verify the
        // re-measure really ran quieter than the battery.
        def tailCalib(): Double = try medianOf((1 to 3).map { _ =>
          val t0 = System.nanoTime()
          spark.range(0L, 200000000L, 1L, cpus)
            .selectExpr("bit_xor(xxhash64(id)) AS s").collect()
          (System.nanoTime() - t0) / 1e9
        }) catch { case _: Throwable => -1.0 }
        val calibTail = tailCalib()
        // r15 directive #4 + r16 advice: substitution is GATED on the
        // tail window being quieter than the battery at BOTH ends — the
        // first calibration only covers the window's start, so a second
        // one after the re-measure loop catches a window that turned
        // contended mid-tail. The verdict lands only after both; during
        // the loop the artifact carries remeasure_applied:false.
        var verdict = BenchAdjudication.Verdict(substitute = false,
          "pending post-remeasure calibration")
        var calibTailAfter = -1.0
        // one record per re-measured row: (name, battery median, tail
        // median, tail sd, tail min, tail survivors) — a single buffer
        // cannot desync the way parallel name-keyed lists could
        final case class Tail(name: String, battery: Double, med: Double,
                              sd: Double, min: Double, nOk: Int)
        val tails = scala.collection.mutable.ArrayBuffer.empty[Tail]
        val notRemeasured = scala.collection.mutable.ArrayBuffer.empty[String]
        notRemeasured ++= skippedByCap.map(_._1)
        def renderExtra(): String =
          s""""contended":${m(tails.toSeq.map(t => t.name -> t.battery))},""" +
            s""""remeasured":${m(tails.toSeq.map(t => t.name -> t.med))},""" +
            s""""remeasure_sd":${m(tails.toSeq.map(t => t.name -> t.sd))},""" +
            s""""remeasure_runs":$remeasureRuns,""" +
            s""""remeasure_n_ok":${mi(tails.toSeq.map(t => t.name -> t.nOk))},""" +
            s""""remeasure_skipped":${arr(notRemeasured.toSeq)},""" +
            s""""remeasure_applied":${verdict.substitute},""" +
            (if (verdict.substitute) ""
             else s""""remeasure_rejected_reason":"${verdict.reason}",""") +
            f""""remeasure_calib_spark32_sec":$calibTail%.4f,""" +
            f""""remeasure_calib_after_sec":$calibTailAfter%.4f,"""
        for (r <- toRun) {
          val name = r._1
          if (elapsed > budget * 0.95) notRemeasured += name
          else fnByName.get(name).foreach { fn =>
            runOnce(name, fn) // fresh warmup for the quiet window
            val ts = (1 to remeasureRuns).flatMap(_ => runOnce(name, fn)).sorted
            if (ts.nonEmpty) {
              val med = ts(ts.length / 2)
              val mean = ts.sum / ts.length
              val sd = math.sqrt(ts.map(t => (t - mean) * (t - mean)).sum / ts.length)
              tails += Tail(name, r._2, med, sd, ts.head, ts.length)
            } else notRemeasured += name
            extra = renderExtra()
            writeFile(renderJson(results.toSeq, notRun, failed.toSeq, partial = false, extra))
          }
        }
        // nothing re-measured (budget guard skipped every suspect, or
        // all tail runs failed) → no post-calibration to burn, and the
        // artifact must not claim substitution was applied
        if (tails.isEmpty)
          verdict = BenchAdjudication.Verdict(substitute = false, "no rows re-measured")
        else {
          calibTailAfter = tailCalib()
          verdict = BenchAdjudication.gate(calibTail, calibTailAfter, calibSpark)
        }
        if (!verdict.substitute)
          System.err.println(s"[bench] adjudication NOT applied: ${verdict.reason}")
        else tails.foreach { t =>
          val i = results.indexWhere(_._1 == t.name)
          // preserve the BATTERY's n_ok/attempted so its flaky marker
          // survives substitution (remeasure_n_ok carries the tail
          // survivors)
          results(i) = BenchAdjudication.substitutedRow(results(i), t.med, t.sd, t.min)
        }
        extra = renderExtra()
      }
    }

    // Full artifact to the FILE first, then ONE compact line to stdout
    // and an explicit flush — the line the driver's tail capture parses
    // must be the last thing this process prints and small enough to
    // survive a bounded capture window (r22, verdict directive #2).
    writeFile(renderJson(results.toSeq, notRun, failed.toSeq, partial = false, extra))
    println(renderJson(results.toSeq, notRun, failed.toSeq, partial = false, extra,
      compact = true))
    System.out.flush()
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] RED: ${failed.size} queries failed: ${failed.mkString(", ")}")
      // Loud for CI wrappers keying on exit code, too (r10 advice). The
      // JSON is already on disk and stdout, so nothing downstream loses data.
      sys.exit(1)
    }
  }
}

/** Decision logic of the self-adjudication re-measure pass, factored
  * pure so [[graft.BenchAdjudicationSpec]] can pin both branches
  * (r15 directive #4): the quiet-tail median may REPLACE a contended
  * battery median only when the tail's own calibration shows the tail
  * window really was quieter — otherwise the replacement would launder
  * equally-contended numbers into the headline the gate consumes.
  */
object BenchAdjudication {
  /** `substitute` = tail medians may replace battery medians. */
  final case class Verdict(substitute: Boolean, reason: String)

  /** Severity of a battery row for worst-first re-measure ordering:
    * the worse of median-vs-own-min and median-vs-calib-scaled-frozen,
    * plus the run-to-run spread ratio so that two rows tied on the
    * ratio triggers order by how noisy they actually ran.
    */
  def severity(median: Double, sd: Double, minRun: Double,
               frozenScaled: Option[Double]): Double = {
    val vsMin = if (minRun > 0) median / minRun else 1.0
    val vsFrozen = frozenScaled.filter(_ > 0).map(median / _).getOrElse(0.0)
    math.max(vsMin, vsFrozen) + (if (median > 0) sd / median else 0.0)
  }

  /** Contended-row trigger (r22, verdict directive #3). A row is a
    * re-measure suspect when its median is at least 0.25 s (sub-
    * quarter-second rows trip ratio triggers from pure timer noise)
    * AND any of:
    *  - median > `trigger` x its own min-across-runs (same-process
    *    comparison, calibration-free);
    *  - median > `trigger` x its calib-scaled FROZEN-r10 anchor;
    *  - stddev/median > `sdTrigger` — a contended window inflates
    *    run-to-run spread long before it doubles the median (the r21
    *    battery's m61/m62 rows read 1.5-2.2x their quiet values with
    *    sd/median 0.14-0.17 while sailing under the old 2x-only net).
    */
  def isSuspect(median: Double, sd: Double, minRun: Double,
                frozenScaled: Option[Double],
                trigger: Double, sdTrigger: Double): Boolean = {
    if (median < 0.25) false
    else {
      val vsMin = if (minRun > 0) median / minRun else 1.0
      val vsFrozen = frozenScaled.filter(_ > 0).map(median / _).getOrElse(0.0)
      vsMin > trigger || vsFrozen > trigger || sd / median > sdTrigger
    }
  }

  /** Two-ended gate (r16 advice): the tail must be quiet BOTH before
    * and after the re-measure loop — a window that turns contended
    * mid-tail must not substitute. Gates on the WORSE of the two
    * calibrations; either failing (-1) rejects.
    */
  def gate(calibTailBefore: Double, calibTailAfter: Double,
           calibBattery: Double): Verdict =
    if (calibTailBefore <= 0 || calibTailAfter <= 0)
      Verdict(substitute = false, "tail calibration failed")
    else gate(math.max(calibTailBefore, calibTailAfter), calibBattery)

  /** @param calibTail    fixed-job median measured in the tail window
    *                     (-1 if calibration itself failed)
    * @param calibBattery the same fixed job measured at battery start */
  def gate(calibTail: Double, calibBattery: Double): Verdict =
    if (calibTail <= 0)
      Verdict(substitute = false, "tail calibration failed")
    else if (calibBattery > 0 && calibTail > calibBattery)
      Verdict(substitute = false,
        f"tail window contended: calib $calibTail%.4f > battery calib $calibBattery%.4f")
    else Verdict(substitute = true, "")

  /** Substituted row keeps the BATTERY's n_ok/attempted counts so the
    * flaky marker (ok < attempted) survives the replacement; median,
    * stddev, and min-run come from the quiet tail.
    */
  def substitutedRow(
      battery: (String, Double, Double, Int, Int, Double),
      tailMedian: Double, tailSd: Double, tailMin: Double):
      (String, Double, Double, Int, Int, Double) =
    (battery._1, tailMedian, tailSd, battery._4, battery._5, tailMin)
}
