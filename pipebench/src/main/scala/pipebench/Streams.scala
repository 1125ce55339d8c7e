package pipebench

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.{MysqlBinlogMicroBatchStream, MysqlBinlogOffset}

/** A binlog stream offset `(file, byte)` as the source reports it. */
final case class Off(file: String, bytes: Long)

object Off {
  private val FileRe = """"file":"((?:[^"\\]|\\.)*)"""".r
  private val BytesRe = """"bytes":(\d+)""".r
  def parse(json: String): Off = Off(
    FileRe.findFirstMatchIn(json).map(_.group(1)).getOrElse(
      sys.error(s"no file in offset $json")),
    BytesRe.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(
      sys.error(s"no bytes in offset $json")))
}

/** One micro-batch as read from Spark's progress, with the admitted work
  * counted from its source offsets against the generator's index.
  * `covered(c)` is the number of chain `c`'s transactions visible after it.
  */
final case class Trig(id: Long, startMs: Long, execMs: Long,
                      dur: Map[String, Long], admitted: Long, wire: Long,
                      inputRows: Long, covered: Vector[Int]) {
  def endMs: Long = startMs + execMs
  def phase(k: String): Long = dur.getOrElse(k, 0L)
}

object Trig {
  /** Data triggers of a run, in batch order. `fence(i)` is chain i's start
    * offset, used where Spark reports no start offset (the first batch).
    *
    * The source must read each chain from its fence on, exactly once. A
    * range that starts or ends before the fence (history the snapshot
    * already holds, replayed), a first range that does not end one
    * admission step after the fence (`firstEnd`, given where admission
    * is deterministic), or admitted events that do not add up to the
    * chains' events after the fence are failures in `rep`; the triggers
    * holding a wrong range are left out.
    */
  def of(progress: Seq[StreamingQueryProgress], chains: Seq[Chain],
         fence: Seq[Off], rep: Report, firstEnd: Seq[Off] = Nil): Vector[Trig] = {
    def chainOf(o: Off): Int = {
      val i = chains.indexWhere(_.files.contains(o.file))
      require(i >= 0, s"offset ${o.file} belongs to no generated chain")
      i
    }
    var ranges = 0L
    val wrong = scala.collection.mutable.ArrayBuffer.empty[String]
    val trigs = progress.sortBy(_.batchId).flatMap { p =>
      var admitted = 0L
      var wire = 0L
      var ok = true
      val covered = Array.fill(chains.size)(-1)
      p.sources.foreach { s =>
        val end = Off.parse(s.endOffset)
        val c = chainOf(end)
        val from = Option(s.startOffset).map(Off.parse)
        val start = from.getOrElse(fence(c))
        val ch = chains(c)
        val at = ch.wireAt(fence(c).file, fence(c).bytes)
        ranges += 1
        if (ch.wireAt(end.file, end.bytes) < at ||
            from.exists(o => ch.wireAt(o.file, o.bytes) < at) ||
            (from.isEmpty && firstEnd.nonEmpty && end != firstEnd(c))) {
          ok = false
          wrong += s"batch ${p.batchId} of chain $c read from " +
            s"${from.getOrElse("its initial offset")} to $end, fence ${fence(c)}"
        }
        admitted += ch.eventsAt(end.file, end.bytes) - ch.eventsAt(start.file, start.bytes)
        wire += ch.wireAt(end.file, end.bytes) - ch.wireAt(start.file, start.bytes)
        covered(c) = ch.txnsAt(end.file, end.bytes)
      }
      val dur = p.durationMs.entrySet().toArray
        .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
        .map(e => e.getKey -> e.getValue.longValue()).toMap
      if (admitted <= 0 || !ok) None
      else Some(Trig(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        dur.getOrElse("triggerExecution", 0L), dur, admitted, wire,
        p.numInputRows, covered.toVector))
    }.toVector
    rep.check("source ranges at or after the fence", ranges, wrong.size.toLong,
      wrong.take(3).mkString("; "))
    val want = chains.indices.map { c =>
      chains(c).eventCount - chains(c).eventsAt(fence(c).file, fence(c).bytes)
    }.sum
    val got = trigs.map(_.admitted).sum
    rep.check("admitted change events", want, math.abs(want - got),
      s"$got admitted, $want after the fence")
    trigs
  }

  /** Where the source's first range from `from` ends on a fully written
    * chain: one `latestOffset` admission step of the program's own
    * micro-batch stream, started at the fence the generator recorded.
    */
  def firstEnd(head: String, from: Off, maxEvents: Long): Off = {
    val o = new MysqlBinlogMicroBatchStream(head, maxEvents)
      .latestOffset(MysqlBinlogOffset(from.file, from.bytes, 1L), ReadLimit.allAvailable())
      .asInstanceOf[MysqlBinlogOffset]
    Off(o.file, o.bytes)
  }

  /** Epoch ms at which each of chain `c`'s transactions `from until n`
    * became visible: the end of the first trigger covering it.
    */
  def visible(trigs: Seq[Trig], c: Int, from: Int, n: Int): Array[Long] = {
    val out = Array.fill(n - from)(-1L)
    var done = from
    trigs.foreach { t =>
      val upTo = math.min(t.covered(c), n)
      while (done < upTo) { out(done - from) = t.endMs; done += 1 }
    }
    require(done == n, s"chain $c: only $done of $n transactions became visible")
    out
  }
}
