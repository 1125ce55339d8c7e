package pipebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.ReadLimit

import graft.streaming.{CdcPipeline, MysqlBinlog, MysqlBinlogMicroBatchStream, MysqlBinlogOffset}

/** The pipeline benchmark: binlog in, rows visible in the sink.
  *
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR [--size tiny]
  * [--corrupt 1] [--replay 1] [--spans FILE]`
  *
  * Untraced runs print the end-to-end metrics; traced runs repeat the
  * measured phase untraced and then traced on fresh directories and print
  * the per-layer metrics. The last stdout line is one JSON object.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, tiny: Boolean,
                        corrupt: Boolean, replay: Boolean,
                        spans: Option[String])

  val EndToEnd: Seq[String] = Seq("setup_s", "snapshot_rows_per_s",
    "catchup_events_per_s", "catchup_mb_per_s", "trigger_p50_s",
    "trigger_tail_s", "lag_p50_s", "lag_tail_s", "state_scan_s")

  val PerLayer: Seq[String] = Seq(
    "sync.run_s", "sync.copy_s", "sync.driver_s", "sync.partitions", "sync.rows",
    "source.latest_offset_s", "source.events_per_trigger", "source.admission_mb_per_s",
    "decode.events_per_s", "decode.mb_per_s", "decode.passes",
    "stream.triggers", "stream.add_batch_s", "stream.query_planning_s",
    "stream.wal_commit_s", "stream.commit_offsets_s", "stream.overhead_share",
    "apply.calls", "apply.s", "apply.probe_s", "apply.write_s", "apply.driver_s",
    "apply.fs_status", "apply.fs_list", "apply.fs_open", "apply.fs_create",
    "apply.fs_rename", "apply.fs_delete", "apply.fs_mkdirs",
    "apply.buckets_written", "apply.files_written", "apply.bytes_written",
    "apply.state_rows_read", "apply.rows_rewritten", "apply.rewrite_amplification",
    "sink.calls", "sink.s", "sink.rows_upserted", "sink.collapse_ratio",
    "state.files", "state.bytes", "state.bytes_per_live_row", "state.tombstone_share",
    "jvm.gc_s", "jvm.heap_peak_mb", "gen.late_p99_s", "check.failed_share",
    "trace.coverage", "trace.overhead")

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    require(args.length % 2 == 0 && kv.size * 2 == args.length,
      s"expected --flag value pairs, got ${args.mkString(" ")}")
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("work"),
      kv.getOrElse("size", "full") == "tiny", kv.getOrElse("corrupt", "0") == "1",
      kv.getOrElse("replay", "0") == "1", kv.get("spans"))
  }

  private def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  def main(args: Array[String]): Unit =
    try run(parse(args))
    catch { case t: Throwable =>
      t.printStackTrace()
      System.exit(2)
    }

  private def run(o: Opts): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val b = SparkSession.builder().master(s"local[$cores]").appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", 1000000L)
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
    if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val actions = new ActionLog
    if (o.trace) {
      spark.listenerManager.register(actions)
      val f = new org.apache.hadoop.fs.Path(o.work)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(f.isInstanceOf[CountingFs], s"file scheme resolves to ${f.getClass}")
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rep = new Report
    val trace = new Trace
    val ok = try {
      o.workload match {
        case "bucketed_catchup" | "wide_multichain_catchup" =>
          catchup(spark, o, actions, rep, trace, sessionS)
        case "cli_snapshot_tail" => tail(spark, o, actions, rep, trace, sessionS)
        case w => sys.error(s"unknown workload $w")
      }
      rep.put("check.failed_share", rep.failedShare, "ratio")
      val names = if (o.trace) PerLayer else EndToEnd
      names.foreach { n =>
        val m = rep.metrics(n)
        println(f"pipebench ${o.workload} ${m.name}%-28s ${m.value}%14.6f ${m.unit}%-9s ${m.note}")
      }
      println(f"pipebench ${o.workload} failed_share ${rep.failedShare}%.6f (${rep.failed} of ${rep.attempted} checked)")
      rep.problems.foreach(p => println(s"pipebench MISMATCH $p"))
      o.spans.foreach(trace.write)
      println(rep.json(names))
      rep.failed == 0
    } finally spark.stop()
    System.exit(if (ok) 0 else 1)
  }

  // -- catch-ups --------------------------------------------------------

  /** The catch-up inputs at the run's size; backlogs scale with --seconds. */
  private def genCatchup(o: Opts, dir: String): CatchupInputs = {
    val s = o.seconds
    (o.workload, o.tiny) match {
      case ("bucketed_catchup", true) =>
        Catchup.bucketed(dir, o.seed, Catchup.BucketedShape(300, 4, 15, 15))
      case ("bucketed_catchup", false) => Catchup.bucketed(dir, o.seed,
        Catchup.BucketedShape(10000, 8, 32 * math.max(4, s * 6 / 5), 96))
      case (_, true) => Catchup.wide(dir, o.seed, Catchup.WideShape(4, 40, 8, 4, 15, 4, 5))
      case (_, false) => Catchup.wide(dir, o.seed,
        Catchup.WideShape(4, 1000, 64, 16, 320 * math.max(3, s * 2 / 5), 4, 320))
    }
  }

  private def catchup(spark: SparkSession, o: Opts, actions: ActionLog,
                      rep: Report, trace: Trace, sessionS: Double): Unit = {
    val gens = repeatSetup(i => genCatchup(o, s"${o.work}/gen$i"))
    val in = gens.last._1
    // warm-up: the same inputs, untimed, on their own directories: the
    // snapshot and about 40% of the stream's triggers
    val warmTriggers = o.workload match {
      case "bucketed_catchup" => if (o.tiny) 2 else 4
      case _ => 2
    }
    val (_, warmS) = timed(Catchup.warm(spark, in, s"${o.work}/warm", warmTriggers))
    putSetup(rep, sessionS, warmS, gens.map(_._2))
    val (run, r) = Catchup.run(spark, in, s"${o.work}/run", traced = false,
      actions, o.corrupt, o.replay)
    merge(rep, r)
    if (!o.trace) {
      rep.put("snapshot_rows_per_s", run.snapshotRows / run.snapshotS, "rows/s")
      val wallS = (Clock.ofMs(run.trigs.map(_.endMs).max) - run.startNs) / 1e9
      catchupE2e(rep, run.trigs.map(_.admitted).sum, run.trigs.map(_.wire).sum, wallS)
      streamE2e(rep, run.trigs, run.lagsS)
      rep.put("state_scan_s", run.stateScanS, "s")
    } else {
      val (t, r2) = Catchup.run(spark, in, s"${o.work}/run_traced", traced = true,
        actions, o.corrupt, o.replay)
      merge(rep, r2)
      catchupLayers(spark, o, in, t, run, rep, trace)
    }
  }

  /** Generate the inputs three times, or as often as fits in 3 s (at least
    * once), for a steadier set-up time; all generations are identical.
    */
  private def repeatSetup[T](gen: Int => T): Seq[(T, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer(timed(gen(0)))
    while (out.size < 3 && out.map(_._2).sum + out.head._2 < 3.0)
      out += timed(gen(out.size))
    out.toSeq
  }

  /** Set-up time: session start, the warm-up pass and the median input
    * generation.
    */
  private def putSetup(rep: Report, sessionS: Double, warmS: Double,
                       genS: Seq[Double]): Unit = {
    val g = Stats.median(genS)
    rep.put("setup_s", sessionS + warmS + g, "s",
      f"session $sessionS%.2f + warm-up $warmS%.2f + generation $g%.2f (x${genS.size})")
    System.err.println(s"pipebench setup: ${rep.metrics("setup_s").note}")
  }

  private def merge(into: Report, r: Report): Unit = {
    into.attempted += r.attempted
    into.failed += r.failed
    into.problems ++= r.problems
  }

  /** Catch-up rates: a backlog's change events and wire bytes over the
    * time from stream start until they were visible.
    */
  private def catchupE2e(rep: Report, events: Long, wire: Long, wallS: Double): Unit = {
    val note = f"$events events in $wallS%.3f s"
    rep.put("catchup_events_per_s", events / wallS, "events/s", note)
    rep.put("catchup_mb_per_s", wire / 1e6 / wallS, "MB/s", note)
  }

  /** End-to-end trigger and lag metrics shared by every workload. */
  private def streamE2e(rep: Report, trigs: Vector[Trig], lagsS: Vector[Double]): Unit = {
    val execs = trigs.map(_.execMs / 1e3)
    rep.put("trigger_p50_s", Stats.median(execs), "s", s"n=${execs.size}")
    val (tv, tp) = Stats.tail(execs)
    rep.put("trigger_tail_s", tv, "s", s"p$tp of n=${execs.size}")
    rep.put("lag_p50_s", Stats.median(lagsS), "s", s"n=${lagsS.size}")
    val (lv, lp) = Stats.tail(lagsS)
    rep.put("lag_tail_s", lv, "s", s"p$lp of n=${lagsS.size}")
  }

  /** Standalone single-thread decode of whole log files: (events/s, MB/s). */
  private def decodeRate(files: Seq[String]): (Double, Double) = {
    val bytes = files.map(f => Files.readAllBytes(Paths.get(f)))
    def once(): (Long, Double) = {
      val t = System.nanoTime()
      var n = 0L
      bytes.foreach { b =>
        val it = MysqlBinlog.changeEventsIterator(MysqlBinlog.eventIterator(b))
        while (it.hasNext) { it.next(); n += 1 }
      }
      (n, (System.nanoTime() - t) / 1e9)
    }
    once()
    val runs = (1 to 3).map(_ => once())
    val s = Stats.median(runs.map(_._2))
    (runs.head._1 / s, bytes.map(_.length.toLong).sum / 1e6 / s)
  }

  /** Standalone admission pass: the micro-batch source's `latestOffset`
    * walked from the fence to the end of each chain, MB/s of wire bytes.
    */
  private def admissionRate(chains: Seq[Chain], fence: Seq[Off],
                            maxEvents: Long): Double = {
    def once(): (Long, Double) = {
      val t = System.nanoTime()
      var bytes = 0L
      chains.zip(fence).foreach { case (ch, f) =>
        val s = new MysqlBinlogMicroBatchStream(ch.head, maxEvents)
        var cur = MysqlBinlogOffset(f.file, f.bytes, 1L)
        var next = s.latestOffset(cur, ReadLimit.allAvailable()).asInstanceOf[MysqlBinlogOffset]
        while (next != cur) {
          cur = next
          next = s.latestOffset(cur, ReadLimit.allAvailable()).asInstanceOf[MysqlBinlogOffset]
        }
        bytes += ch.wireAt(cur.file, cur.bytes) - ch.wireAt(f.file, f.bytes)
      }
      (bytes, (System.nanoTime() - t) / 1e9)
    }
    once()
    val runs = (1 to 3).map(_ => once())
    runs.head._1 / 1e6 / Stats.median(runs.map(_._2))
  }

  /** Trigger spans from progress: the trigger, then its phases laid out in
    * the engine's order (durations are exact, positions are inferred).
    * Returns the index of each trigger's addBatch span.
    */
  private def triggerSpans(trace: Trace, trigs: Vector[Trig],
                           addBatchName: String): Map[Long, Int] =
    trigs.map { t =>
      val root = trace.add(Span("stream.trigger", Clock.ofMs(t.startMs),
        Clock.ofMs(t.endMs), -1, t.id))
      var at = Clock.ofMs(t.startMs)
      var add = -1
      Seq("latestOffset" -> "source.latest_offset", "walCommit" -> "stream.wal_commit",
        "getBatch" -> "stream.get_batch", "queryPlanning" -> "stream.query_planning",
        "addBatch" -> addBatchName, "commitOffsets" -> "stream.commit_offsets")
        .foreach { case (k, name) =>
          val d = Clock.ofMs(t.phase(k))
          val i = trace.add(Span(name, at, at + d, root, t.id))
          if (k == "addBatch") add = i
          at += d
        }
      t.id -> add
    }.toMap

  private def fsMetrics(rep: Report, fs: Seq[Vector[Long]], calls: Int): Unit = {
    val names = Map("status" -> CountingFs.Status, "list" -> CountingFs.List,
      "open" -> CountingFs.Open, "create" -> CountingFs.Create,
      "rename" -> CountingFs.Rename, "delete" -> CountingFs.Delete,
      "mkdirs" -> CountingFs.Mkdirs)
    names.foreach { case (n, i) =>
      rep.put(s"apply.fs_$n",
        if (calls == 0) 0.0 else fs.map(_(i)).sum.toDouble / calls, "count")
    }
  }

  private def zeroLayers(rep: Report, names: Seq[String], unit: String): Unit =
    names.foreach(n => rep.put(n, 0.0, unit))

  private def catchupLayers(spark: SparkSession, o: Opts, in: CatchupInputs,
                            t: CatchupRun, untraced: CatchupRun, rep: Report,
                            trace: Trace): Unit = {
    val trigs = t.trigs
    val admitted = trigs.map(_.admitted).sum
    val addOf = triggerSpans(trace, trigs, "stream.add_batch")
    val first = Clock.ofMs(trigs.map(_.startMs).min)
    val last = Clock.ofMs(trigs.map(_.endMs).max)
    trace.add(Span("stream.start", t.startNs, first, -1, -1))
    trace.add(Span("stream.stop", last, t.endNs, -1, -1))
    // apply calls and their listener actions
    val applies = t.applies.filter(a => addOf.contains(a.batchId))
    val perCall = applies.map { a =>
      val parent = trace.add(Span("apply", a.startNs, a.endNs, addOf(a.batchId),
        a.batchId, a.fs))
      val mine = t.actions.filter(x => x.startNs >= a.startNs && x.startNs <= a.endNs)
      mine.foreach { x =>
        trace.add(Span(if (x.name == "collect") "apply.probe" else "apply.write",
          x.startNs, x.endNs, parent, a.batchId))
      }
      val probe = mine.filter(_.name == "collect").map(_.durNs).sum / 1e9
      val write = mine.filter(_.name != "collect").map(_.durNs).sum / 1e9
      ((a.endNs - a.startNs) / 1e9, probe, write, mine)
    }
    val calls = applies.size
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    rep.put("apply.calls", calls.toDouble, "count")
    rep.put("apply.s", med(perCall.map(_._1)), "s")
    rep.put("apply.probe_s", med(perCall.map(_._2)), "s")
    rep.put("apply.write_s", med(perCall.map(_._3)), "s")
    rep.put("apply.driver_s", med(perCall.map(c => c._1 - c._2 - c._3)), "s")
    fsMetrics(rep, applies.map(_.fs), calls)
    val writes = perCall.flatMap(_._4)
    def perApply(f: Action => Long): Double = writes.map(f).sum.toDouble / math.max(calls, 1)
    rep.put("apply.buckets_written", perApply(_.partsWritten), "count")
    rep.put("apply.files_written", perApply(_.filesWritten), "count")
    rep.put("apply.bytes_written", perApply(_.bytesWritten), "bytes")
    rep.put("apply.state_rows_read", perApply(_.stateRowsRead), "rows")
    rep.put("apply.rows_rewritten", perApply(_.rowsWritten), "rows")
    rep.put("apply.rewrite_amplification",
      writes.map(_.rowsWritten).sum.toDouble / admitted, "ratio")

    rep.put("source.latest_offset_s", med(trigs.map(_.phase("latestOffset") / 1e3)), "s")
    rep.put("source.events_per_trigger", med(trigs.map(_.admitted.toDouble)), "events")
    rep.put("source.admission_mb_per_s",
      admissionRate(in.chains, in.fence, in.maxEventsPerTrigger), "MB/s")
    val (evs, mbs) = decodeRate(in.chains.flatMap(_.files))
    rep.put("decode.events_per_s", evs, "events/s")
    rep.put("decode.mb_per_s", mbs, "MB/s")
    rep.put("decode.passes", trigs.map(_.inputRows).sum.toDouble / admitted, "ratio")
    streamLayers(rep, trigs)
    rep.put("sink.calls", 0.0, "count")
    rep.put("sink.rows_upserted", 0.0, "rows")
    rep.put("sink.s", 0.0, "s")
    rep.put("sink.collapse_ratio", 0.0, "ratio")
    zeroLayers(rep, Seq("sync.run_s", "sync.copy_s", "sync.driver_s"), "s")
    zeroLayers(rep, Seq("sync.partitions", "sync.rows"), "count")
    rep.put("gen.late_p99_s", 0.0, "s")

    // state layer: stateStats plus a listing of the data files
    val stateDir = s"${o.work}/run_traced/state"
    val st = CdcPipeline.stateStats(spark, stateDir).collect()
    val live = st.map(_.getAs[Long]("live_rows")).sum
    val tomb = st.map(_.getAs[Long]("tombstones")).sum
    val bytes = st.map(_.getAs[Long]("bytes")).sum
    val files = Files.walk(Paths.get(stateDir)).iterator()
    var nFiles = 0
    files.forEachRemaining(p => if (p.toString.endsWith(".parquet")) nFiles += 1)
    rep.put("state.files", nFiles.toDouble, "count")
    rep.put("state.bytes", bytes.toDouble, "bytes")
    rep.put("state.bytes_per_live_row", bytes.toDouble / math.max(live, 1L), "bytes")
    rep.put("state.tombstone_share", tomb.toDouble / math.max(live + tomb, 1L), "ratio")
    rep.put("jvm.gc_s", t.gcS, "s")
    rep.put("jvm.heap_peak_mb", t.heapPeakMb, "MB")
    rep.put("trace.coverage", trace.attributedNs(t.startNs, t.endNs) / 1e9 / t.wallS,
      "ratio", layerShares(trace, t.startNs, t.endNs))
    rep.put("trace.overhead", t.wallS / untraced.wallS, "ratio")
  }

  /** Self time per layer as a share of the window, for the report line;
    * time no layer span holds is `unattributed`.
    */
  private def layerShares(trace: Trace, from: Long, to: Long): String = {
    val self = trace.selfTimes(from, to).groupMapReduce { case (n, _) =>
      if (Trace.Unattributed(n)) "unattributed" else n.takeWhile(_ != '.')
    }(_._2)(_ + _)
    val idle = to - from - self.values.sum
    (self + ("unattributed" -> (self.getOrElse("unattributed", 0L) + idle)))
      .toSeq.sortBy(-_._2)
      .map { case (l, ns) => f"$l ${ns.toDouble / (to - from)}%.3f" }.mkString(", ")
  }

  private def streamLayers(rep: Report, trigs: Vector[Trig]): Unit = {
    def med(k: String) = Stats.median(trigs.map(_.phase(k) / 1e3))
    rep.put("stream.triggers", trigs.size.toDouble, "count")
    rep.put("stream.add_batch_s", med("addBatch"), "s")
    rep.put("stream.query_planning_s", med("queryPlanning"), "s")
    rep.put("stream.wal_commit_s", med("walCommit"), "s")
    rep.put("stream.commit_offsets_s", med("commitOffsets"), "s")
    val exec = trigs.map(_.execMs).sum.toDouble
    rep.put("stream.overhead_share",
      trigs.map(t => t.execMs - t.phase("addBatch")).sum / exec, "ratio")
  }

  // -- cli_snapshot_tail ---------------------------------------------------

  private def tailShape(o: Opts): Tail.Shape =
    if (o.tiny) Tail.Shape(1500, 50, 1200, 30, 20.0, 1.0)
    else Tail.Shape(12000, 500, 2000, 1500, 100.0, o.seconds.toDouble)

  private def tail(spark: SparkSession, o: Opts, actions: ActionLog,
                   rep: Report, trace: Trace, sessionS: Double): Unit = {
    val gens = repeatSetup(i => Tail.generate(s"${o.work}/gen$i", o.seed, tailShape(o)))
    val in = gens.last._1
    // warm-up: the snapshot, the backlog and the first 20% of the open
    // loop, untimed, into their own destination and log
    val (_, warmS) = timed {
      merge(rep, Tail.run(spark, in, s"${o.work}/warm", traced = false, actions,
        corrupt = false, txns = (o.seconds * 0.2 * in.ratePerS).toInt, syncReps = 1)._2)
    }
    putSetup(rep, sessionS, warmS, gens.map(_._2))
    val (run, r) = Tail.run(spark, in, s"${o.work}/run", traced = false, actions, o.corrupt)
    merge(rep, r)
    if (!o.trace) {
      rep.put("snapshot_rows_per_s", run.syncRows / run.syncS, "rows/s")
      catchupE2e(rep, run.catchupEvents, run.catchupWire, run.catchupS)
      streamE2e(rep, run.trigs, run.lagsS)
      rep.put("state_scan_s", run.stateScanS, "s")
    } else {
      val (t, r2) = Tail.run(spark, in, s"${o.work}/run_traced", traced = true,
        actions, o.corrupt)
      merge(rep, r2)
      tailLayers(in, t, run, rep, trace)
    }
  }

  private def tailLayers(in: TailInputs, t: TailRun, untraced: TailRun,
                         rep: Report, trace: Trace): Unit = {
    val trigs = t.trigs
    val admitted = trigs.map(_.admitted).sum
    // sync: the verb's wall time, split by the copy actions inside it
    val syncSpan = trace.add(Span("sync.run", t.syncStartNs, t.syncEndNs, -1, -1))
    val copies = t.actions.filter(a => a.startNs >= t.syncStartNs && a.endNs <= t.syncEndNs &&
      a.name != "collect" && a.name != "head")
    copies.foreach(a => trace.add(Span("sync.copy", a.startNs, a.endNs, syncSpan, -1)))
    val union = Stats.unionLength(copies.map(a => (a.startNs, a.endNs))) / 1e9
    val runS = (t.syncEndNs - t.syncStartNs) / 1e9
    rep.put("sync.run_s", runS, "s")
    rep.put("sync.copy_s", union, "s")
    rep.put("sync.driver_s", runS - union, "s")
    rep.put("sync.partitions", t.report.map(_.partitions).sum.toDouble, "count")
    rep.put("sync.rows", t.syncRows.toDouble, "count")

    val addOf = triggerSpans(trace, trigs, "sink.upsert")
    trigs.foreach { tr =>
      t.actions.filter(a => a.startNs >= Clock.ofMs(tr.startMs) && a.startNs <= Clock.ofMs(tr.endMs))
        .foreach(a => trace.add(Span("sink.write", a.startNs, a.endNs, addOf(tr.id), tr.id)))
    }
    rep.put("source.latest_offset_s", Stats.median(trigs.map(_.phase("latestOffset") / 1e3)), "s")
    rep.put("source.events_per_trigger", Stats.median(trigs.map(_.admitted.toDouble)), "events")
    rep.put("source.admission_mb_per_s",
      admissionRate(Seq(t.chain), Seq(t.fence), 10000L), "MB/s")
    val (evs, mbs) = decodeRate(t.chain.files)
    rep.put("decode.events_per_s", evs, "events/s")
    rep.put("decode.mb_per_s", mbs, "MB/s")
    rep.put("decode.passes", trigs.map(_.inputRows).sum.toDouble / admitted, "ratio")
    streamLayers(rep, trigs)
    // sink: the program's own foreachBatch is the addBatch phase
    var prev = in.preFence.size
    val upserted = trigs.map { tr =>
      val upTo = tr.covered(0)
      val keys = (prev until upTo).flatMap(i => in.tailKeys(i - in.preFence.size)).toSet
      prev = upTo
      keys.size.toLong
    }
    rep.put("sink.calls", trigs.size.toDouble, "count")
    rep.put("sink.s", Stats.median(trigs.map(_.phase("addBatch") / 1e3)), "s")
    rep.put("sink.rows_upserted", upserted.sum.toDouble / trigs.size, "rows")
    rep.put("sink.collapse_ratio", upserted.sum.toDouble / admitted, "ratio")
    zeroLayers(rep, Seq("apply.calls", "apply.fs_status", "apply.fs_list", "apply.fs_open",
      "apply.fs_create", "apply.fs_rename", "apply.fs_delete", "apply.fs_mkdirs",
      "apply.buckets_written", "apply.files_written", "state.files"), "count")
    zeroLayers(rep, Seq("apply.s", "apply.probe_s", "apply.write_s", "apply.driver_s"), "s")
    zeroLayers(rep, Seq("apply.bytes_written", "state.bytes", "state.bytes_per_live_row"), "bytes")
    zeroLayers(rep, Seq("apply.state_rows_read", "apply.rows_rewritten"), "rows")
    zeroLayers(rep, Seq("apply.rewrite_amplification", "state.tombstone_share"), "ratio")
    rep.put("gen.late_p99_s", t.lateS.sorted.apply((t.lateS.size * 99) / 100), "s")
    rep.put("jvm.gc_s", t.gcS, "s")
    rep.put("jvm.heap_peak_mb", t.heapPeakMb, "MB")
    val window = (t.endNs - t.syncStartNs) / 1e9
    rep.put("trace.coverage", trace.attributedNs(t.syncStartNs, t.endNs) / 1e9 / window,
      "ratio", layerShares(trace, t.syncStartNs, t.endNs))
    def busy(r: TailRun) = r.syncS + r.trigs.map(_.execMs).sum / 1e3
    rep.put("trace.overhead", busy(t) / busy(untraced), "ratio")
  }
}
