package pipebench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.streaming.{CdcPipeline, MysqlBinlogSource, MysqlBinlogSourceProvider}
import graft.streaming.MysqlBinlogWriter.{Col, TableDef}

/** Everything a catch-up run needs, made by the generator from the seed:
  * the chains with their pre-fence history and backlog, the fence (the
  * executed GTID set and each chain's offset after it), the fenced
  * snapshot and the model of the final state.
  */
final case class CatchupInputs(chains: Vector[Chain], fenceSet: String,
                               fence: Vector[Off], fenceTxns: Vector[Int],
                               snapshot: Vector[(String, Long, String)],
                               snapshotTs: Timestamp,
                               model: Map[(String, Long), String],
                               buckets: Int, maxEventsPerTrigger: Int)

/** One apply call as the benchmark's foreachBatch wrapper timed it. */
final case class ApplyCall(batchId: Long, startNs: Long, endNs: Long,
                           fs: Vector[Long])

final case class CatchupRun(snapshotS: Double, snapshotRows: Long,
                            startNs: Long, endNs: Long, trigs: Vector[Trig],
                            applies: Vector[ApplyCall],
                            actions: Vector[Action], stateScanS: Double,
                            lagsS: Vector[Double], gcS: Double,
                            heapPeakMb: Double) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** The two closed catch-up workloads: a fenced snapshot applied as batch
  * zero, then the backlog drained from GTID auto-position through
  * `CdcPipeline.applyBatch` into bucketed parquet state.
  */
object Catchup {
  private val snapshotSchema = CdcPipeline.changeEventSchema

  /** Warm-up: the snapshot once and the stream's first `triggers` apply
    * calls, untimed and unchecked, on fresh directories under `dir`. A
    * fixed amount of work, so a slow moment does not leave the measured
    * pass colder.
    */
  def warm(spark: SparkSession, in: CatchupInputs, dir: String,
           triggers: Int): Unit = {
    CdcPipeline.applyBatch(spark, snapshotDf(spark, in), s"$dir/state",
      numBuckets = in.buckets)
    val done = new java.util.concurrent.atomic.AtomicInteger()
    val q = stream(spark, in, dir, fromGtid = true, _ => done.incrementAndGet(): Unit)
    val deadline = System.nanoTime() + 120e9.toLong
    try while (done.get < triggers && q.isActive && System.nanoTime() < deadline)
      Thread.sleep(5)
    finally q.stop()
    q.exception.foreach(e => throw e)
  }

  private def snapshotDf(spark: SparkSession, in: CatchupInputs): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(in.snapshot.map { case (t, k, p) =>
        Row("insert", t, k, in.snapshotTs, 0L, p)
      }, 4), snapshotSchema)

  /** The catch-up stream from the fence into `dir/state`; `onApply` sees
    * each apply call as the foreachBatch wrapper timed it. Without
    * `fromGtid` the source starts at the head of the log and replays the
    * history before the fence (the self test's fault).
    */
  private def stream(spark: SparkSession, in: CatchupInputs, dir: String,
                     fromGtid: Boolean, onApply: ApplyCall => Unit) = {
    val opts = Map("maxEventsPerTrigger" -> in.maxEventsPerTrigger.toString) ++
      (if (fromGtid) Map("startGtid" -> in.fenceSet) else Map.empty)
    val source: DataFrame =
      if (in.chains.size == 1) {
        var r = spark.readStream.format(classOf[MysqlBinlogSourceProvider].getName)
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.option("path", in.chains.head.head).load()
      } else MysqlBinlogSource.unionTails(spark, in.chains.map(_.head), opts)
    val stateDir = s"$dir/state"
    source.writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val f0 = CountingFs.read()
        val a0 = Clock.nowNs()
        CdcPipeline.applyBatch(spark, batch, stateDir)
        val a1 = Clock.nowNs()
        onApply(ApplyCall(id, a0, a1,
          CountingFs.read().zip(f0).map { case (a, b) => a - b }))
      }
      .start()
  }

  /** Run one catch-up on fresh directories under `dir`: the snapshot
    * applied once untimed, because the first apply of a pass ran up to
    * 1.7x slower, and then seven times timed (median time; the stream
    * continues on the last copy), then the backlog drained. With `traced`, FS counting and the
    * action listener are on for the stream part. `corrupt` writes one bad
    * state row, `replay` starts the stream without GTID auto-position.
    */
  def run(spark: SparkSession, in: CatchupInputs, dir: String, traced: Boolean,
          actions: ActionLog, corrupt: Boolean,
          replay: Boolean): (CatchupRun, Report) = {
    val stateDir = s"$dir/state"
    val rep = new Report
    actions.stateRoot = stateDir
    val snapDf = snapshotDf(spark, in)
    snapDf.cache().count()
    // batch zero: the fenced snapshot through the same apply path
    val snapTimes = (0 to 7).map { i =>
      val s0 = System.nanoTime()
      CdcPipeline.applyBatch(spark, snapDf,
        if (i == 7) stateDir else s"$dir/state_snap$i",
        numBuckets = in.buckets)
      (System.nanoTime() - s0) / 1e9
    }.drop(1)
    val snapS = Stats.median(snapTimes)
    snapDf.unpersist()

    val applies = new java.util.concurrent.ConcurrentLinkedQueue[ApplyCall]()
    if (traced) { CountingFs.enabled = true; actions.on = true }
    val gc0 = Jvm.gcMs()
    Jvm.resetPeaks()
    val t0 = Clock.nowNs()
    val q = stream(spark, in, dir, fromGtid = !replay, a => applies.add(a): Unit)
    try q.processAllAvailable()
    finally q.stop()
    val t1 = Clock.nowNs()
    val gcS = (Jvm.gcMs() - gc0) / 1e3
    val heap = Jvm.heapPeakMb()
    if (traced) actions.drain(spark)
    CountingFs.enabled = false
    actions.on = false
    val acts = actions.take()
    q.exception.foreach(e => throw e)

    val trigs = Trig.of(q.recentProgress.toSeq, in.chains, in.fence, rep,
      in.chains.indices.map(c =>
        Trig.firstEnd(in.chains(c).head, in.fence(c), in.maxEventsPerTrigger)))
    rep.check("micro-batches", trigs.size.toLong, 0L)
    // every backlog transaction was due when the stream started
    val lags = in.chains.indices.flatMap { c =>
      Trig.visible(trigs, c, in.fenceTxns(c), in.chains(c).txnCount)
        .map(ms => (Clock.ofMs(ms) - t0) / 1e9)
    }.toVector

    if (corrupt) {
      // one stray row written over a live key, as a faulty sink would
      val (t, k) = in.model.keys.minBy(_._2)
      CdcPipeline.applyBatch(spark, spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("update", t, k,
          new Timestamp(in.snapshotTs.getTime + 86400000L * 365), 0L,
          """{"corrupt":1}""")), 1), snapshotSchema), stateDir)
    }
    // fifteen timed scans after two untimed ones: the first scan of a pass
    // ran about 2x slower, and single scans spread about 15%
    val scans = (1 to 17).map { _ =>
      val s = System.nanoTime()
      CdcPipeline.currentState(spark, stateDir).write.format("noop")
        .mode("overwrite").save()
      (System.nanoTime() - s) / 1e9
    }.drop(2)
    checkState(spark, stateDir, in.model, rep)
    (CatchupRun(snapS, in.snapshot.size.toLong, t0, t1, trigs,
      applies.toArray(Array.empty[ApplyCall]).toVector.sortBy(_.batchId),
      acts, Stats.median(scans), lags, gcS, heap), rep)
  }

  /** The oracle: live state rows against the generator's model. */
  private def checkState(spark: SparkSession, stateDir: String,
                         model: Map[(String, Long), String], rep: Report): Unit = {
    val got = CdcPipeline.currentState(spark, stateDir)
      .select(col("table"), col("key"), col("payload")).collect()
    val seen = mutable.HashMap.empty[(String, Long), Int]
    var bad = 0L
    got.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      seen(k) = seen.getOrElse(k, 0) + 1
      if (!model.get(k).contains(r.getString(2))) bad += 1
    }
    bad += seen.count(_._2 > 1)
    bad += model.keys.count(k => !seen.contains(k))
    rep.check("state rows", math.max(got.length, model.size).toLong, bad,
      s"${got.length} state rows, ${model.size} model rows")
  }

  // -- generators ---------------------------------------------------------

  private val Uuids = Vector(
    "6f1c2a3e-0000-4000-8000-00000000a001", "6f1c2a3e-0000-4000-8000-00000000a002",
    "6f1c2a3e-0000-4000-8000-00000000a003", "6f1c2a3e-0000-4000-8000-00000000a004")
  private val ClockSec = 1700000000L
  private val Statuses = Vector("new", "paid", "packed", "shipped", "returned")

  /** Shape of `bucketed_catchup`: OLTP transactions of 4 inserts, 10
    * updates and 2 deletes over a keyspace much larger than a trigger.
    */
  final case class BucketedShape(keys: Int, buckets: Int, backlogTxns: Int,
                                 maxEventsPerTrigger: Int)

  def bucketed(dir: String, seed: Long, s: BucketedShape): CatchupInputs = {
    val rng = new scala.util.Random(seed)
    val td = TableDef(41L, "bench", "orders", Seq(Col.bigint("id"),
      Col.bigint("customer"), Col.double("amount"), Col.varchar("status", 16)))
    val chain = new Chain(s"$dir/chain0", Uuids(0), 11L, ClockSec)
    val model = new Model
    val rows = mutable.HashMap.empty[Long, Array[AnyRef]]
    val pool = new KeyPool
    var nextKey = 1L
    def fresh(): Array[AnyRef] = {
      val k = nextKey; nextKey += 1
      Array[AnyRef](java.lang.Long.valueOf(k),
        java.lang.Long.valueOf(rng.nextInt(5000).toLong),
        java.lang.Double.valueOf(rng.nextInt(1000000) / 100.0),
        Statuses(rng.nextInt(Statuses.size)))
    }
    def keyOf(r: Array[AnyRef]): Long = r(0).asInstanceOf[java.lang.Long].longValue
    def insert(w: graft.streaming.MysqlBinlogWriter.Writer, n: Int): Int = {
      val rs = Seq.fill(n)(fresh())
      w.tableMap(td); w.writeRows(td, rs)
      rs.foreach { r =>
        val k = keyOf(r)
        rows(k) = r; pool.add(k); model.put(td, k, r)
      }
      n
    }
    // pre-fence history: the rows the snapshot will hold
    while (nextKey <= s.keys)
      chain.txn(compressed = false)(w => insert(w, math.min(64, s.keys - nextKey.toInt + 1)))
    val fenceTxns = chain.txnCount
    val fence = Off(chain.head, chain.position)
    val fenceSet = chain.executedSet
    val snapshot = model.snapshot().toVector.map { case ((t, k), p) => (t, k, p) }
    // backlog: mixed transactions
    (0 until s.backlogTxns).foreach { _ =>
      chain.txn(compressed = false) { w =>
        val n = insert(w, 4)
        val picked = mutable.LinkedHashSet.empty[Long]
        while (picked.size < 12) picked += pool.pick(rng)
        val (upd, del) = picked.toVector.splitAt(10)
        val pairs = upd.map { k =>
          val before = rows(k)
          val after = before.clone()
          after(2) = java.lang.Double.valueOf(rng.nextInt(1000000) / 100.0)
          after(3) = Statuses(rng.nextInt(Statuses.size))
          rows(k) = after
          model.put(td, k, after)
          (before, after)
        }
        w.tableMap(td); w.updateRows(td, pairs)
        val gone = del.map { k =>
          val r = rows.remove(k).get
          pool.remove(k); model.delete("orders", k)
          r
        }
        w.tableMap(td); w.deleteRows(td, gone)
        n + pairs.size + gone.size
      }
    }
    chain.close()
    CatchupInputs(Vector(chain), fenceSet, Vector(fence), Vector(fenceTxns),
      snapshot, new Timestamp((ClockSec - 1) * 1000L), model.snapshot(),
      s.buckets, s.maxEventsPerTrigger)
  }

  /** Shape of `wide_multichain_catchup`: per chain, a snapshot of ~1 KB
    * JSON documents, then FULL-image updates on a small hot keyspace, half
    * of the transactions zstd-wrapped, with one rotation mid-backlog.
    */
  final case class WideShape(chains: Int, docsPerChain: Int, hotKeys: Int,
                             rowsPerTxn: Int, backlogTxnsPerChain: Int,
                             buckets: Int, maxEventsPerTrigger: Int)

  def wide(dir: String, seed: Long, s: WideShape): CatchupInputs = {
    val rng = new scala.util.Random(seed)
    val model = new Model
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    // ~1 KB documents; the keys are in the order MySQL stores them
    // (by length, then bytes), so the decoder renders them unchanged
    val pads = Vector.fill(64)(
      (0 until 24).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString * 36)
    def doc(k: Long, rev: Long): String = {
      val tags = (0 until 1 + rng.nextInt(4)).map(_ => s""""t${rng.nextInt(50)}"""")
      s"""{"n":${rng.nextInt(1000)},"id":$k,"pad":"${pads(rng.nextInt(pads.size))}","rev":$rev,"tags":[${tags.mkString(",")}]}"""
    }
    def img(k: Long, rev: Long): Array[AnyRef] = Array[AnyRef](
      java.lang.Long.valueOf(k), java.lang.Long.valueOf(rev), doc(k, rev))
    val built = (0 until s.chains).map { c =>
      val table = s"docs_$c"
      val td = TableDef(51L + c, "bench", table,
        Seq(Col.bigint("id"), Col.bigint("rev"), Col.json("doc")))
      val chain = new Chain(s"$dir/chain$c", Uuids(c), 21L + c, ClockSec)
      val rows = mutable.HashMap.empty[Long, Array[AnyRef]]
      var k = 1L
      while (k <= s.docsPerChain) {
        val batch = (k until math.min(k + 20, s.docsPerChain + 1L)).map(img(_, 0L))
        chain.txn(compressed = chain.txnCount % 2 == 1) { w =>
          w.tableMap(td); w.writeRows(td, batch); batch.size
        }
        batch.foreach { r =>
          val key = r(0).asInstanceOf[java.lang.Long].longValue
          rows(key) = r; model.put(td, key, r)
        }
        k += 20
      }
      val fence = (chain.txnCount, Off(chain.head, chain.position), chain.executedSet)
      (c, table, td, chain, rows, fence)
    }
    val snapshot = model.snapshot().toVector.map { case ((t, k), p) => (t, k, p) }
    // rotate on a trigger boundary (one rows event per transaction), so
    // no trigger is cut short by the rotation
    val rotateAt = s.backlogTxnsPerChain / 2 / s.maxEventsPerTrigger * s.maxEventsPerTrigger
    built.foreach { case (_, table, td, chain, rows, _) =>
      (0 until s.backlogTxnsPerChain).foreach { i =>
        if (i == rotateAt) chain.rotate()
        chain.txn(compressed = i % 2 == 1) { w =>
          val keys = mutable.LinkedHashSet.empty[Long]
          while (keys.size < s.rowsPerTxn) keys += 1L + rng.nextInt(s.hotKeys)
          val pairs = keys.toVector.map { key =>
            val before = rows(key)
            val rev = before(1).asInstanceOf[java.lang.Long].longValue + 1
            val after = img(key, rev)
            rows(key) = after
            model.put(td, key, after)
            (before, after)
          }
          w.tableMap(td); w.updateRows(td, pairs)
          pairs.size
        }
      }
      chain.close()
    }
    CatchupInputs(built.map(_._4).toVector, built.map(_._6._3).mkString(","),
      built.map(_._6._2).toVector, built.map(_._6._1).toVector, snapshot,
      new Timestamp((ClockSec - 1) * 1000L), model.snapshot(), s.buckets,
      s.maxEventsPerTrigger)
  }
}
