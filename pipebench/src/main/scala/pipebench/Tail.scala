package pipebench

import java.sql.DriverManager
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.MysqlBinlogWriter.{Col, TableDef, Writer}
import graft.sync.SyncCli

/** Inputs of `cli_snapshot_tail`: a Derby source database (shared by every
  * pass, the snapshot only reads it), the source rows the copies are
  * checked against, the binlog transactions before the fence, the
  * transactions after it (the first `backlog` of them are written while
  * the snapshot copies, the rest by the open loop at `ratePerS`), and the
  * model of the destination change table after all of them.
  */
final case class TailInputs(srcUrl: String,
                            sourceRows: Map[String, Vector[String]],
                            preFence: Vector[Writer => Int],
                            tail: Vector[Writer => Int],
                            tailKeys: Vector[Set[(String, Long)]],
                            backlog: Int, ratePerS: Double,
                            model: Map[(String, Long), String])

final case class SyncTable(table: String, rows: Long, strategy: String,
                           partitions: Int)

/** One pass. `syncS` and `catchupS` are medians over the pass's starts of
  * the CLI verb; `catchupS` runs from the stream's start to the end of
  * the trigger that made the backlog visible. `catchupEvents` and
  * `catchupWire` are the backlog's change events and binlog bytes.
  */
final case class TailRun(syncS: Double, syncRows: Long, report: Vector[SyncTable],
                         syncStartNs: Long, syncEndNs: Long,
                         catchupS: Double, catchupEvents: Long,
                         catchupWire: Long, endNs: Long, chain: Chain,
                         fence: Off, trigs: Vector[Trig],
                         actions: Vector[Action], lagsS: Vector[Double],
                         lateS: Vector[Double], stateScanS: Double,
                         gcS: Double, heapPeakMb: Double)

object Tail {
  private val Uuid = "6f1c2a3e-0000-4000-8000-00000000b001"
  private val ClockSec = 1700000000L
  private val Labels = Vector("alpha", "beta", "gamma", "delta", "epsilon")

  val derbyProps: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** Shape: source table sizes (one per ChunkPlanner strategy), the
    * transactions made while the snapshot copies, and the open-loop rate
    * and window.
    */
  final case class Shape(bigRows: Int, smallRows: Int, nopkRows: Int,
                         backlogTxns: Int, ratePerS: Double, seconds: Double)

  private val big = TableDef(61L, "bench", "BIG_PK", Seq(Col.bigint("id"),
    Col.bigint("grp"), Col.double("amount"), Col.varchar("label", 32)))
  private val small = TableDef(62L, "bench", "SMALL_T",
    Seq(Col.bigint("id"), Col.varchar("name", 32)))

  private def exec(url: String, sql: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); sql.foreach(st.execute); st.close() }
    finally c.close()
  }

  def generate(dir: String, seed: Long, s: Shape): TailInputs = {
    val rng = new scala.util.Random(seed)
    val srcUrl = s"jdbc:derby:$dir/src;create=true"
    val bigRows = mutable.LinkedHashMap.empty[Long, Array[AnyRef]]
    def bigRow(k: Long): Array[AnyRef] = Array[AnyRef](java.lang.Long.valueOf(k),
      java.lang.Long.valueOf(rng.nextInt(100).toLong),
      java.lang.Double.valueOf(rng.nextInt(10000000) / 100.0),
      Labels(rng.nextInt(Labels.size)) + "_" + rng.nextInt(1000))
    (1L to s.bigRows.toLong).foreach(k => bigRows(k) = bigRow(k))
    val smallRows = (1L to s.smallRows.toLong).map(k =>
      Array[AnyRef](java.lang.Long.valueOf(k), s"name_${rng.nextInt(100000)}")).toArray
    val nopkRows = (1 to s.nopkRows).map(_ => Array[AnyRef](
      java.lang.Long.valueOf(rng.nextInt(1000000).toLong),
      java.lang.Long.valueOf(rng.nextInt(1000).toLong), s"t${rng.nextInt(10)}"))
    exec(srcUrl,
      "CREATE TABLE BIG_PK (ID BIGINT NOT NULL PRIMARY KEY, GRP BIGINT, " +
        "AMOUNT DOUBLE, LABEL VARCHAR(32))",
      "CREATE TABLE SMALL_T (ID BIGINT NOT NULL PRIMARY KEY, NAME VARCHAR(32))",
      "CREATE TABLE NOPK_T (ID BIGINT, V BIGINT, TAG VARCHAR(16))")
    val conn = DriverManager.getConnection(srcUrl)
    try {
      conn.setAutoCommit(false)
      def load(table: String, rows: Iterable[Array[AnyRef]]): Unit = {
        val n = rows.head.length
        val ps = conn.prepareStatement(
          s"INSERT INTO $table VALUES (${Seq.fill(n)("?").mkString(", ")})")
        rows.foreach { r => r.indices.foreach(i => ps.setObject(i + 1, r(i))); ps.addBatch() }
        ps.executeBatch(); ps.close()
      }
      load("BIG_PK", bigRows.values)
      load("SMALL_T", smallRows)
      load("NOPK_T", nopkRows)
      conn.commit()
    } finally conn.close()
    def render(rows: Iterable[Array[AnyRef]]): Vector[String] =
      rows.map(_.mkString("|")).toVector.sorted
    val sourceRows = Map("BIG_PK" -> render(bigRows.values),
      "SMALL_T" -> render(smallRows), "NOPK_T" -> render(nopkRows))

    // history before the fence: rows already inside the copied tables,
    // with keys the tail leaves alone, so a replay shows in the oracle
    val history = 8
    val preFence = Vector.tabulate(history) { i =>
      val rows = Seq(bigRows(i + 1L))
      (w: Writer) => { w.tableMap(big); w.writeRows(big, rows); 1 }
    }

    val model = mutable.HashMap.empty[(String, Long), Option[String]]
    val pool = new KeyPool
    bigRows.keys.filter(_ > history).foreach(pool.add)
    var nextKey = s.bigRows + 1L
    val nTxns = s.backlogTxns + math.max(1, (s.ratePerS * s.seconds).toInt)
    val tailKeys = Vector.newBuilder[Set[(String, Long)]]
    val tail = Vector.tabulate(nTxns) { i =>
      val ins = Seq.fill(2) {
        val r = bigRow(nextKey); bigRows(nextKey) = r; pool.add(nextKey)
        nextKey += 1; r
      }
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < 6) picked += pool.pick(rng)
      val (updKeys, delKeys) = picked.toVector.splitAt(5)
      val upd = updKeys.map { k =>
        val before = bigRows(k)
        val after = before.clone()
        after(2) = java.lang.Double.valueOf(rng.nextInt(10000000) / 100.0)
        bigRows(k) = after
        (before, after)
      }
      val del = delKeys.map { k => pool.remove(k); bigRows.remove(k).get }
      val smallUpd = if (i % 4 == 0) {
        val k = 1L + rng.nextInt(s.smallRows)
        val before = smallRows((k - 1).toInt)
        val after = Array[AnyRef](before(0), s"name_${rng.nextInt(100000)}")
        smallRows((k - 1).toInt) = after
        Some((before, after))
      } else None
      (ins ++ upd.map(_._2)).foreach(r =>
        model(("BIG_PK", r(0).asInstanceOf[java.lang.Long].longValue)) =
          Some(Json.row(big, r)))
      del.foreach(r => model(("BIG_PK", r(0).asInstanceOf[java.lang.Long].longValue)) = None)
      smallUpd.foreach { case (_, a) =>
        model(("SMALL_T", a(0).asInstanceOf[java.lang.Long].longValue)) = Some(Json.row(small, a))
      }
      val keys = (ins ++ upd.map(_._2) ++ del).map(r =>
        ("BIG_PK", r(0).asInstanceOf[java.lang.Long].longValue)).toSet ++
        smallUpd.map(p => ("SMALL_T", p._2(0).asInstanceOf[java.lang.Long].longValue))
      tailKeys += keys
      (w: Writer) => {
        w.tableMap(big); w.writeRows(big, ins)
        w.tableMap(big); w.updateRows(big, upd)
        w.tableMap(big); w.deleteRows(big, del)
        smallUpd.foreach { p => w.tableMap(small); w.updateRows(small, Seq(p)) }
        ins.size + upd.size + del.size + smallUpd.size
      }
    }
    TailInputs(srcUrl, sourceRows, preFence, tail, tailKeys.result(),
      s.backlogTxns, s.ratePerS,
      model.collect { case (k, Some(p)) => k -> p }.toMap)
  }

  /** Parse `JdbcSyncJob`'s printed report table (`|table|rows|...|`). */
  private def parseReport(out: String): Vector[SyncTable] =
    out.linesIterator.map(_.split("\\|").map(_.trim).filter(_.nonEmpty))
      .collect { case Array(t, rows, _, _, strategy, parts)
        if rows.forall(_.isDigit) && parts.forall(_.isDigit) =>
        SyncTable(t, rows.toLong, strategy, parts.toInt)
      }.toVector

  /** A fresh destination database and a log holding the pre-fence
    * history under `dir`, and the CLI verb's configuration for them.
    */
  private def prepare(in: TailInputs, dir: String): (String, Chain, SyncCli.CliConfig) = {
    val dstUrl = s"jdbc:derby:$dir/dst;create=true"
    exec(dstUrl, "CREATE TABLE cdc_state (tbl VARCHAR(64) NOT NULL, " +
      "k BIGINT NOT NULL, ts TIMESTAMP, seq BIGINT, payload VARCHAR(1024), " +
      "PRIMARY KEY (tbl, k))")
    val chain = new Chain(s"$dir/chain0", Uuid, 31L, ClockSec)
    in.preFence.foreach(b => chain.txn(compressed = false)(b))
    chain.flush()
    val Right(cli) = SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", in.srcUrl, "--dst_url", dstUrl,
      "--checkpoint_dir", s"$dir/ckpt", "--binlog", chain.head,
      "--binlog_format", "mysql", "--binlog_start_pos", chain.position.toString,
      "--max_workers", "4", "--batch_size", "1000")): @unchecked
    cli.srcProps.putAll(derbyProps); cli.dstProps.putAll(derbyProps)
    (dstUrl, chain, cli)
  }

  /** The CLI verb on `cli`, its printed report captured: (query, report, ns). */
  private def snapshotThenStream(spark: SparkSession, cli: SyncCli.CliConfig) = {
    val printed = new java.io.ByteArrayOutputStream()
    val s0 = System.nanoTime()
    val q = Console.withOut(new java.io.PrintStream(printed, true, "UTF-8")) {
      SyncCli.runSnapshotThenStream(spark, cli)
    }
    (q, parseReport(printed.toString("UTF-8")), System.nanoTime() - s0)
  }

  /** The CLI verb on a fresh destination and log under `dir`. The backlog
    * is written after the fence first, as a source keeps writing while
    * the snapshot copies, and the verb runs until the stream has caught
    * up on it: `caughtUpNs` is the end of the trigger that made the
    * backlog visible.
    */
  private final case class Started(dstUrl: String, chain: Chain, fence: Off,
                                   fenceTxns: Int, backlogEvents: Long,
                                   backlogWire: Long, q: StreamingQuery,
                                   report: Vector[SyncTable], syncStartNs: Long,
                                   syncEndNs: Long, caughtUpNs: Long) {
    def syncS: Double = (syncEndNs - syncStartNs) / 1e9
    def catchupS: Double = (caughtUpNs - syncEndNs) / 1e9
  }

  private def start(spark: SparkSession, in: TailInputs, dir: String): Started = {
    val (dstUrl, chain, cli) = prepare(in, dir)
    val fenceTxns = chain.txnCount
    val fence = Off(chain.head, chain.position)
    in.tail.take(in.backlog).foreach(b => chain.txn(compressed = false)(b))
    chain.flush()
    val events = chain.eventCount - chain.eventsAt(fence.file, fence.bytes)
    val wire = chain.wireAt(chain.files.last, chain.position) -
      chain.wireAt(fence.file, fence.bytes)
    val s0 = Clock.nowNs()
    val (q, report, syncNs) = snapshotThenStream(spark, cli)
    Started(dstUrl, chain, fence, fenceTxns, events, wire, q, report, s0, s0 + syncNs,
      awaitCovered(q, chain, chain.txnCount))
  }

  /** One pass: the CLI verb and the catch-up `syncReps` times on fresh
    * destinations (snapshot and catch-up times are their medians, the
    * first left out when there are several: it ran about 15% slower; all
    * but the last stop the stream once it has caught up). On the last,
    * the open loop then appends the first `txns` of the remaining
    * transactions, and the stream drains. The change table is checked
    * only when the whole tail ran.
    */
  def run(spark: SparkSession, in: TailInputs, dir: String, traced: Boolean,
          actions: ActionLog, corrupt: Boolean, txns: Int = Int.MaxValue,
          syncReps: Int = 7): (TailRun, Report) = {
    val rep = new Report
    val extra = (1 until syncReps).map { i =>
      val p = start(spark, in, s"$dir/sync$i")
      p.q.stop(); p.chain.close()
      p
    }
    if (traced) actions.on = true
    val gc0 = Jvm.gcMs()
    Jvm.resetPeaks()
    val p = start(spark, in, dir)
    val (q, chain) = (p.q, p.chain)

    // the open loop: one generator thread appends whole transactions on
    // a fixed schedule, whether or not the stream keeps up
    val n = math.min(txns, in.tail.size - in.backlog)
    val periodNs = (1e9 / in.ratePerS).toLong
    val due = new Array[Long](n)
    val done = new Array[Long](n)
    val t0 = Clock.nowNs() + 50000000L
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        due(i) = t0 + i * periodNs
        val wait = due(i) - Clock.nowNs()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        chain.txn(compressed = false)(in.tail(in.backlog + i))
        chain.flush()
        done(i) = Clock.nowNs()
        i += 1
      }
    }, "pipebench-generator")
    gen.start()
    gen.join()
    try q.processAllAvailable()
    finally q.stop()
    val t1 = Clock.nowNs()
    chain.close()
    val gcS = (Jvm.gcMs() - gc0) / 1e3
    val heap = Jvm.heapPeakMb()
    if (traced) actions.drain(spark)
    actions.on = false
    val acts = actions.take()
    q.exception.foreach(e => throw e)

    val trigs = Trig.of(q.recentProgress.toSeq, Seq(chain), Seq(p.fence), rep)
    rep.check("micro-batches", trigs.size.toLong, 0L)
    val vis = Trig.visible(trigs, 0, p.fenceTxns, chain.txnCount)
    val lags = due.indices.map(i =>
      (Clock.ofMs(vis(in.backlog + i)) - due(i)) / 1e9).toVector
    val late = due.indices.map(i => (done(i) - due(i)) / 1e9).toVector

    val dstUrl = p.dstUrl
    if (corrupt) exec(dstUrl.stripSuffix(";create=true"),
      "UPDATE cdc_state SET payload = '{\"corrupt\":1}' WHERE k = " +
        "(SELECT MIN(k) FROM cdc_state)")
    // the visible state as a Spark reader sees it: every destination
    // table (the snapshot copies and cdc_state) read over JDBC into a
    // noop sink, the median of 15 reads after 10 untimed ones (the reads
    // of a pass kept getting faster over the first ten or so). A plain
    // JDBC loop over the same tables ran at one of two speeds per JVM
    // (about 18 or 33 ms), which split runs into a fast and a slow mode
    val tables = "CDC_STATE" +: in.sourceRows.keys.toSeq.sorted
    def scan(): Double = {
      val s = System.nanoTime()
      tables.foreach(t => spark.read.jdbc(dstUrl, t, derbyProps)
        .write.format("noop").mode("overwrite").save())
      (System.nanoTime() - s) / 1e9
    }
    (1 to 10).foreach(_ => scan())
    val scans = (1 to 15).map(_ => scan())
    checkCopies(dstUrl, in, rep)
    if (in.backlog + n == in.tail.size) checkChanges(dstUrl, in.model, rep)
    val all = extra.drop(1) :+ p
    (TailRun(Stats.median(all.map(_.syncS)), p.report.map(_.rows).sum, p.report,
      p.syncStartNs, p.syncEndNs, Stats.median(all.map(_.catchupS)),
      p.backlogEvents, p.backlogWire, t1, chain, p.fence, trigs, acts, lags, late,
      Stats.median(scans), gcS, heap), rep)
  }

  /** Wait until the stream has made the chain's first `txns` transactions
    * visible; the end of the trigger that did, in Clock ns.
    */
  private def awaitCovered(q: StreamingQuery, chain: Chain, txns: Int): Long = {
    def covering: Option[Long] = q.recentProgress.find(_.sources.exists { s =>
      val o = Off.parse(s.endOffset)
      chain.files.contains(o.file) && chain.txnsAt(o.file, o.bytes) >= txns
    }).map(p => Clock.ofMs(java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution")))
    val deadline = System.nanoTime() + 120e9.toLong
    while (covering.isEmpty && q.isActive && System.nanoTime() < deadline) Thread.sleep(2)
    q.exception.foreach(e => throw e)
    covering.getOrElse(sys.error("the stream did not catch up on the backlog within 120 s"))
  }

  /** Snapshot copies against the source rows, row for row. */
  private def checkCopies(dstUrl: String, in: TailInputs, rep: Report): Unit = {
    val c = DriverManager.getConnection(dstUrl)
    try in.sourceRows.foreach { case (table, want) =>
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table")
      val n = rs.getMetaData.getColumnCount
      val got = mutable.ArrayBuffer.empty[String]
      while (rs.next()) got += (1 to n).map(i => rs.getObject(i) match {
        case clob: java.sql.Clob => clob.getSubString(1L, clob.length.toInt)
        case v => String.valueOf(v)
      }).mkString("|")
      val g = got.groupMapReduce(identity)(_ => 1)(_ + _)
      val w = want.groupMapReduce(identity)(_ => 1)(_ + _)
      val bad = (g.keySet ++ w.keySet).toSeq
        .map(k => math.abs(g.getOrElse(k, 0) - w.getOrElse(k, 0)).toLong).sum
      rep.check(s"snapshot $table", math.max(got.size, want.size).toLong, bad)
    } finally c.close()
  }

  /** Destination change table against the model of the tail. */
  private def checkChanges(dstUrl: String, model: Map[(String, Long), String],
                           rep: Report): Unit = {
    val c = DriverManager.getConnection(dstUrl)
    try {
      val rs = c.createStatement().executeQuery("SELECT tbl, k, payload FROM cdc_state")
      val got = mutable.HashMap.empty[(String, Long), String]
      var bad = 0L
      while (rs.next()) {
        val k = (rs.getString(1), rs.getLong(2))
        if (got.contains(k) || !model.get(k).contains(rs.getString(3))) bad += 1
        got(k) = rs.getString(3)
      }
      bad += model.keys.count(k => !got.contains(k))
      rep.check("cdc_state rows", math.max(got.size, model.size).toLong, bad,
        s"${got.size} rows, ${model.size} in the model")
    } finally c.close()
  }
}
