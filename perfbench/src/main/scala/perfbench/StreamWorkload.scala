package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

import graft.streaming.{Cep, Changelog, ChangelogJoin, RetractTopN, StatefulOps}

final case class Ev(ts: java.sql.Timestamp, user: String, tpe: String, value: Double)
final case class Chg(row_kind: String, k: String, price: Double)
final case class Cj(row_kind: String, k: String, v: Double, seq: Long)
final case class Rtn(row_kind: String, grp: String, id: String, score: Double)

/** The event-time and changelog operators, closed loop with one caller:
  * each micro-batch is added, then drained with `processAllAvailable`
  * before the next one is generated.
  *
  * The generator is built so that every operator emits rows in every
  * timed batch and its output count is known in advance:
  *  - batch b holds on-time events in exactly one tumbling minute,
  *    [T0 + 60b s, T0 + 60b + 59 s], with one event pinned at +59 s, so
  *    the watermark each batch sees (max event time − 10 s) is known;
  *  - types t0/t1 belong only to fresh per-batch "pattern" users (one
  *    t0 then one t1 five seconds later: one CEP match each); the rest
  *    of the traffic uses t2..t6, keys drawn Zipf-skewed from a hot set
  *    that the warm-up batch introduces completely;
  *  - values grow by 10^4 per batch, so every per-type top 5 changes;
  *  - late rows sit ten minutes and more behind, one per tumbling minute.
  *
  * Each generated [[Batch]] carries the rows the operator's sink and its
  * watermark filter must report for it.
  */
object StreamWorkload {
  val StatePartitions = 32
  /** A round (one batch per operator) takes about this long on 4 cores;
    * a run makes `seconds / RoundSeconds` rounds, at least one. */
  val RoundSeconds = 13
  val T0 = 1700000040000L // a whole minute
  val Minute = 60000L
  val Types = (0 until 7).map(i => s"t$i")

  /** Sizes of one timed micro-batch. */
  final case class Size(hotRows: Int, hotUsers: Int, fresh: Int, patterns: Int, late: Int,
                        chgRows: Int, chgKeys: Int, joinLeft: Int, joinRight: Int,
                        groups: Int, perGroup: Int)
  val DefaultSize = Size(hotRows = 1000, hotUsers = 500, fresh = 100, patterns = 10, late = 20,
    chgRows = 1000, chgKeys = 500, joinLeft = 500, joinRight = 100, groups = 20, perGroup = 10)

  /** Zipf(1.1) sampler over `n` ranks. */
  final class Zipf(n: Int, rnd: Random) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Event batches for the seven append operators. */
  final class Events(seed: Long, sz: Size) {
    def batch(b: Int): IndexedSeq[Ev] = {
      val rnd = new Random(seed * 1000003L + b)
      val zipf = new Zipf(sz.hotUsers, rnd)
      val tb = T0 + b * Minute
      def ev(ms: Long, user: String, tpe: String) =
        Ev(new java.sql.Timestamp(ms), user, tpe, b * 10000.0 + rnd.nextInt(1000))
      def onTime(): Long = tb + rnd.nextInt(59000)
      val out = mutable.ArrayBuffer.empty[Ev]
      def patterns(base: Long, tag: String): Unit = (0 until sz.patterns).foreach { j =>
        val at = base + rnd.nextInt(20000)
        out += ev(at, s"$tag$j", "t0")
        out += ev(at + 5000, s"$tag$j", "t1")
      }
      patterns(tb, s"c${b}_")
      (0 until sz.fresh).foreach(j => out += ev(onTime(), s"n${b}_$j", Types(2 + j % 5)))
      if (b == 0) (0 until sz.hotUsers).foreach(u => out += ev(onTime(), s"h$u", Types(2 + u % 5)))
      (0 until sz.hotRows).foreach(i => out += ev(onTime(), s"h${zipf.next()}", Types(2 + i % 5)))
      out += ev(tb + 59000, s"h${zipf.next()}", "t2")
      if (b > 0) (0 until sz.late).foreach { i =>
        out += ev(tb - 10 * Minute - i * Minute, s"h${zipf.next()}", Types(2 + i % 5))
      }
      rnd.shuffle(out).toIndexedSeq
    }
  }

  /** A +I/-D changelog over a skewed key set; deletes only retract rows
    * that are live, and never a key's last row, so no key's count
    * returns to zero. */
  final class Changes(seed: Long, sz: Size) {
    private val live = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    def batch(b: Int): IndexedSeq[Chg] = {
      val rnd = new Random(seed * 7919L + b)
      val zipf = new Zipf(sz.chgKeys, rnd)
      val n = if (b == 0) sz.chgKeys else sz.chgRows
      (0 until n).map { i =>
        val k = if (b == 0) s"k$i" else s"k${zipf.next()}"
        val vs = live.getOrElseUpdate(k, mutable.ArrayBuffer.empty)
        if (i % 10 == 9 && vs.length >= 2) Chg("-D", k, vs.remove(rnd.nextInt(vs.length)))
        else {
          val p = b * 10000.0 + rnd.nextInt(1000)
          vs += p
          Chg("+I", k, p)
        }
      }
    }
  }

  /** Two changelog sides: the right side adds fresh keys each batch; the
    * left side inserts and deletes rows on keys the right side added in
    * earlier batches, so each left row joins exactly one right row. */
  final class JoinSides(seed: Long, sz: Size) {
    private var seq = 0L
    private val rightKeys = mutable.ArrayBuffer.empty[String]
    private val leftLive = mutable.ArrayBuffer.empty[Cj]
    def batch(b: Int): (IndexedSeq[Cj], IndexedSeq[Cj]) = {
      val rnd = new Random(seed * 104729L + b)
      def next(): Long = { seq += 1; seq }
      val left = if (rightKeys.isEmpty) IndexedSeq.empty[Cj] else (0 until sz.joinLeft).map { i =>
        if (i % 10 == 9 && leftLive.nonEmpty) {
          val r = leftLive.remove(rnd.nextInt(leftLive.length))
          r.copy(row_kind = "-D", seq = next())
        } else {
          val r = Cj("+I", rightKeys(rnd.nextInt(rightKeys.length)), b * 10000.0 + rnd.nextInt(1000), next())
          leftLive += r
          r
        }
      }
      val right = (0 until sz.joinRight).map { j =>
        Cj("+I", s"j${b}_$j", rnd.nextInt(1000).toDouble, next())
      }
      rightKeys ++= right.map(_.k)
      (left, right)
    }
  }

  /** Scored ids per group: each batch inserts ids scoring above every
    * earlier one and deletes the ids of two batches back, so each
    * group's top 5 is replaced whole while its state stays bounded. */
  final class Ranked(seed: Long, sz: Size) {
    private val byBatch = mutable.HashMap.empty[Int, IndexedSeq[Rtn]]
    def batch(b: Int): IndexedSeq[Rtn] = {
      val rnd = new Random(seed * 15485863L + b)
      val ins = for (g <- 0 until sz.groups; i <- 0 until sz.perGroup)
        yield Rtn("+I", s"g$g", s"id${b}_${g}_$i", b * 10000.0 + i * 100 + rnd.nextInt(100))
      byBatch(b) = ins
      val del = byBatch.remove(b - 2).getOrElse(IndexedSeq.empty).map(_.copy(row_kind = "-D"))
      rnd.shuffle(ins ++ del)
    }
  }

  /** One generated batch: its input rows, the rows the sink and the
    * watermark filter must report for it when timed, and the call that
    * hands it to the source. Generation happens before the clock starts. */
  final case class Batch(rows: Int, out: Long, late: Long, add: () => Unit)

  /** One operator under test: its query and its batch generator. */
  final case class Op(name: String, changelog: Boolean, query: StreamingQuery, next: Int => Batch)

  def start(spark: SparkSession, seed: Long, sz: Size, workDir: java.io.File): Seq[Op] = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def sink(name: String, df: DataFrame, mode: OutputMode): StreamingQuery =
      df.writeStream.format("noop").outputMode(mode).queryName(name)
        .option("checkpointLocation", new java.io.File(workDir, s"ckpt/$name").getPath)
        .start()
    val events = new Events(seed, sz)
    val evCache = mutable.HashMap.empty[Int, IndexedSeq[Ev]]
    def evBatch(b: Int) = { evCache.filterInPlace((k, _) => k >= b); evCache.getOrElseUpdate(b, events.batch(b)) }
    def appendOp(name: String, mode: OutputMode, build: DataFrame => DataFrame,
                 out: Int => Long, late: Long = 0L): Op = {
      val in = MemoryStream[Ev]
      val q = sink(name, build(in.toDF()), mode)
      Op(name, changelog = false, q, b => { val d = evBatch(b); Batch(d.size, out(b), late, () => in.addData(d)) })
    }
    val ops = mutable.ArrayBuffer.empty[Op]
    ops += appendOp("tumble_window_agg", OutputMode.Update,
      _.withWatermark("ts", "10 seconds").groupBy(window(col("ts"), "1 minute"), col("tpe"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s")),
      out = _ => Types.size, late = sz.late)
    ops += appendOp("dedup_keep_first", OutputMode.Append,
      StatefulOps.keepFirstStreaming(_, Seq("user")),
      out = _ => sz.fresh + sz.patterns)
    ops += appendOp("topn_per_key", OutputMode.Update,
      StatefulOps.topNStreaming(_, Seq("tpe"), "value", descending = true, n = 5),
      out = _ => 5 * Types.size)
    ops += appendOp("cep_match_pattern", OutputMode.Append,
      df => Cep.matchPatternStreaming(
        df.withWatermark("ts", "10 seconds")
          .withColumn("eid", concat_ws("-", col("user"), col("ts").cast("long"))),
        "user", "ts", "eid",
        Seq(Cep.Step.once("a", (r: Row) => r.getString(r.fieldIndex("tpe")) == "t0"),
          Cep.Step.oneOrMore("b", (r: Row) => r.getString(r.fieldIndex("tpe")) == "t1")),
        withinSec = 60L),
      // one row per match of the previous batch's patterns: the no-data batch that follows
      // each batch advances the watermark past their deadline
      out = _ => sz.patterns, late = sz.late)

    locally {
      val gen = new Changes(seed, sz)
      val in = MemoryStream[Chg]
      val q = sink("retract_group_agg", Changelog.retractGroupAgg(in.toDF(), Seq("k"), "price"),
        OutputMode.Update)
      ops += Op("retract_group_agg", changelog = true, q, b => {
        val d = gen.batch(b)
        Batch(d.size, d.map(_.k).distinct.size, 0, () => in.addData(d))
      })
    }
    locally {
      val gen = new JoinSides(seed, sz)
      val l = MemoryStream[Cj]
      val r = MemoryStream[Cj]
      val q = sink("changelog_join",
        ChangelogJoin.streaming(l.toDF(), Seq("k"), r.toDF(), Seq("k"), "seq", "inner"),
        OutputMode.Append)
      ops += Op("changelog_join", changelog = true, q, b => {
        val (ld, rd) = gen.batch(b)
        Batch(ld.size + rd.size, ld.size, 0, () => { l.addData(ld); r.addData(rd) })
      })
    }
    locally {
      val gen = new Ranked(seed, sz)
      val in = MemoryStream[Rtn]
      val q = sink("retract_topn",
        RetractTopN(in.toDF(), keys = Seq("grp"), idCol = "id", scoreCol = "score", n = 5),
        OutputMode.Append)
      // each group's top 5 leaves (-D) and five new ids enter (+I)
      ops += Op("retract_topn", changelog = true, q, b => {
        val d = gen.batch(b)
        Batch(d.size, 10L * sz.groups, 0, () => in.addData(d))
      })
    }
    ops.toSeq
  }

  /** One timed micro-batch of one operator, with the progress entries
    * of the triggers it caused. */
  final case class Sample(op: Op, ms: Double, batch: Batch, ps: Seq[StreamingQueryProgress]) {
    def out: Long = ps.map(_.sink.numOutputRows).sum
    def late: Long = ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    def in: Long = ps.map(_.numInputRows).sum
    def dur(k: String): Double = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Long =
      ps.flatMap(_.stateOperators).map(f).sum
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean, startNs: Long,
          workDir: java.io.File, tracePath: java.nio.file.Path): Result = {
    val res = new Result
    val ops = start(spark, seed, DefaultSize, workDir)
    val seen = mutable.HashMap.empty[String, Int]
    def newProgress(op: Op): Seq[StreamingQueryProgress] = {
      val all = op.query.recentProgress.toSeq
      val fresh = all.drop(seen.getOrElse(op.name, 0))
      seen(op.name) = all.length
      fresh
    }
    try {
      val order = new Random(seed).shuffle(ops)
      val tracer = new Tracer
      def round(r: Int): Seq[Sample] = order.map { op =>
        val batch = op.next(r)
        val s0 = System.nanoTime()
        tracer.span("batch", "streaming", s"${op.name}#$r") {
          batch.add()
          op.query.processAllAvailable()
        }
        val ms = (System.nanoTime() - s0) / 1e6
        val s = Sample(op, ms, batch, newProgress(op))
        val ok = s.in == batch.rows && s.out == batch.out && s.late == batch.late && s.out > 0
        if (!ok) res.note(s"${op.name} batch $r: rows in ${s.in}/${batch.rows}, " +
          s"out ${s.out}/${batch.out}, late ${s.late}/${batch.late} (got/expected)")
        res.attempt(ok)
        s
      }

      // Warm-up: batch 0 into every operator, drained together, then one
      // untimed round the way the timed ones run.
      val w0 = System.nanoTime()
      ops.foreach(_.next(0).add())
      ops.foreach { op => op.query.processAllAvailable(); newProgress(op) }
      val w1 = System.nanoTime()
      round(1)
      val setupS = (System.nanoTime() - startNs) / 1e9
      res.note(f"set-up: ${(w0 - startNs) / 1e9}%.1f s to start, batch 0 ${(w1 - w0) / 1e9}%.1f s, " +
        f"warm-up round ${(System.nanoTime() - w1) / 1e9}%.1f s")

      val rounds = mutable.ArrayBuffer.empty[(Boolean, Seq[Sample])]
      val roundCount = math.max(if (trace) 3 else 1, seconds / RoundSeconds)
      for (r <- 2 until 2 + roundCount) {
        val on = trace && r % 2 == 1
        tracer.on = on
        rounds += on -> round(r)
      }

      val timed = rounds.filterNot(_._1).map(_._2)
      val all = timed.flatten.toSeq
      res.put("setup_s", setupS, "s")
      res.put("pass_s", Stats.median(timed.map(_.map(_.ms).sum / 1000).toSeq), "s")
      res.put("op_p50_ms", Stats.medianOfMedians(all.groupBy(_.op.name).values.map(_.map(_.ms))), "ms")
      val tail = Stats.tail(all.map(_.ms))
      res.put("op_tail_ms", tail.value, "ms")
      res.note(f"op_tail_ms is p${tail.percentile}%.1f of ${tail.samples} micro-batches " +
        s"over ${timed.size} rounds of ${ops.size} operators; rounds took " +
        rounds.map(r => f"${r._2.map(_.ms).sum / 1000}%.2f${if (r._1) "(traced)" else ""}").mkString(" ") + " s")
      if (trace) layers(res, tracer, rounds.toSeq, tracePath)
    } finally ops.foreach(_.query.stop())
    res
  }

  /** Per-layer metrics from the traced rounds: times as the median over
    * rounds of each round's sum, counts from the first traced round. */
  private def layers(res: Result, tracer: Tracer, rounds: Seq[(Boolean, Seq[Sample])],
                     tracePath: java.nio.file.Path): Unit = {
    val traced = rounds.filter(_._1).map(_._2)
    val first = traced.head
    def perRound(f: Sample => Double): Double = Stats.median(traced.map(_.map(f).sum))
    res.put("streaming.add_batch_ms", perRound(_.dur("addBatch")), "ms")
    res.put("streaming.query_planning_ms", perRound(_.dur("queryPlanning")), "ms")
    res.put("streaming.wal_commit_ms", perRound(_.dur("walCommit")), "ms")
    res.put("streaming.commit_offsets_ms", perRound(_.dur("commitOffsets")), "ms")
    res.put("state.commit_ms", perRound(_.state(_.commitTimeMs).toDouble), "ms")
    res.put("state.update_ms", perRound(_.state(_.allUpdatesTimeMs).toDouble), "ms")
    res.put("state.removal_ms", perRound(_.state(_.allRemovalsTimeMs).toDouble), "ms")
    def lastState(s: Sample, f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Long =
      s.ps.lastOption.map(_.stateOperators.map(f).sum).getOrElse(0L)
    res.put("state.rows_total", first.map(lastState(_, _.numRowsTotal)).sum, "count")
    res.put("state.memory_bytes", first.map(lastState(_, _.memoryUsedBytes)).sum, "bytes")
    res.put("state.rows_dropped_late", first.map(_.late).sum, "count")
    res.put("streaming.rows_in", first.map(_.in).sum, "count")
    res.put("streaming.rows_out", first.map(_.out).sum, "count")
    Seq(false -> "append", true -> "changelog").foreach { case (chg, cls) =>
      val ss = rounds.flatMap(_._2).filter(_.op.changelog == chg)
      res.put(s"streaming.${cls}_rows_per_s", ss.map(_.batch.rows).sum / (ss.map(_.ms).sum / 1000), "rows/s")
    }
    first.foreach { s =>
      val name = s.op.name
      res.put(s"streaming.add_batch_ms.$name",
        Stats.median(traced.flatMap(_.filter(_.op.name == name)).map(_.dur("addBatch"))), "ms")
      res.put(s"state.commit_ms.$name",
        Stats.median(traced.flatMap(_.filter(_.op.name == name)).map(_.state(_.commitTimeMs).toDouble)), "ms")
      res.put(s"streaming.rows_out.$name", s.out, "count")
    }
    val self = Stats.selfTimes(tracer.spans)
    val byRound = tracer.spans.groupBy(_.queryId.split('#').last)
    res.put("self_s.streaming", Stats.median(byRound.values.map(_.map(s => self(s.id)).sum / 1000).toSeq), "s")
    val tracedS = traced.map(_.map(_.ms).sum / 1000)
    val untracedS = rounds.filterNot(_._1).map(_._2.map(_.ms).sum / 1000)
    res.put("trace.overhead_s", Stats.median(tracedS) - Stats.median(untracedS), "s")
    tracer.writeJson(tracePath)
    res.note(s"spans written to $tracePath")
  }
}
