package pipebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.streaming.MysqlBinlogWriter.{TableDef, Writer}

/** The generator's JSON rendering of a row image — the same rules the
  * binlog decoder documents for its payloads (compact, present columns
  * in table order, strings quoted and escaped, doubles via
  * `Double.toString`), so the oracle can compare payloads exactly.
  */
object Json {
  def str(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case ch if ch < ' ' => b.append(f"\\u${ch.toInt}%04x")
      case ch => b.append(ch)
    }
    b.append('"').toString
  }

  def row(td: TableDef, img: Array[AnyRef]): String =
    td.cols.indices.map { i =>
      val v = img(i) match {
        case null => "null"
        case l: java.lang.Long => l.toString
        case d: java.lang.Double => d.toString
        case s: String => str(s)
        case other => str(other.toString)
      }
      str(td.cols(i).name) + ":" + v
    }.mkString("{", ",", "}")
}

/** One source server's binlog chain as the generator writes it, plus the
  * index the benchmark's event accounting reads: for every transaction,
  * the file it lives in, the byte offset where it ends and the running
  * count of change events (rows) up to and including it. A stream offset
  * `(file, byte)` maps onto "events admitted so far" by a binary search,
  * independent of how many times the program decodes the range.
  */
final class Chain(val dir: String, val uuid: String, serverId: Long,
                  clockSec: Long) {
  private val fileNames = mutable.ArrayBuffer.empty[String]
  private val closedSizes = mutable.ArrayBuffer.empty[Long]
  private var w: Writer = _
  private var txns = 0
  private var ends = new Array[Long](1024)
  private var fileOf = new Array[Int](1024)
  private var cum = new Array[Long](1024)
  private var events = 0L
  var gno = 0L

  Files.createDirectories(Paths.get(dir))
  open()

  private def open(): Unit = {
    val name = f"$dir/bin.${fileNames.size + 1}%06d"
    fileNames += name
    w = new Writer(name, serverId = serverId)
    w.setClock(clockSec)
    w.begin()
    w.previousGtids(if (gno == 0) Seq.empty else Seq(uuid -> Seq((1L, gno))))
  }

  def head: String = fileNames.head
  def files: Seq[String] = fileNames.toSeq
  def txnCount: Int = txns
  def eventCount: Long = events
  def position: Long = w.position

  /** The executed GTID set after every transaction written so far. */
  def executedSet: String = if (gno == 0) "" else s"$uuid:1-$gno"

  /** Append one transaction. `body` writes BEGIN..XID-free content (the
    * table map and rows events) and returns the number of row changes;
    * `compressed` wraps the whole transaction in a zstd
    * TRANSACTION_PAYLOAD event.
    */
  def txn(compressed: Boolean)(body: Writer => Int): Long = {
    gno += 1
    w.setClock(clockSec + txns / 1000)
    w.gtid(uuid, gno)
    var n = 0
    def whole(x: Writer): Unit = {
      x.query("bench", "BEGIN")
      n = body(x)
      x.xid(gno)
    }
    if (compressed) w.transactionPayload()(whole) else whole(w)
    if (txns == ends.length) {
      ends = java.util.Arrays.copyOf(ends, txns * 2)
      fileOf = java.util.Arrays.copyOf(fileOf, txns * 2)
      cum = java.util.Arrays.copyOf(cum, txns * 2)
    }
    events += n
    ends(txns) = w.position
    fileOf(txns) = fileNames.size - 1
    cum(txns) = events
    txns += 1
    w.position
  }

  /** Close the current file with a ROTATE and continue in its successor. */
  def rotate(): Unit = {
    val next = f"bin.${fileNames.size + 1}%06d"
    w.rotate(next)
    closedSizes += w.position
    w.close()
    open()
  }

  def flush(): Unit = w.flush()
  def close(): Unit = w.close()

  private def fileIndex(file: String): Int = {
    val i = fileNames.indexOf(file)
    require(i >= 0, s"offset file $file is not in chain $dir")
    i
  }

  /** Change events in every transaction that ends at or before `byte` of `file`. */
  def eventsAt(file: String, byte: Long): Long = {
    val f = fileIndex(file)
    // last transaction with (fileOf, end) <= (f, byte)
    var lo = 0
    var hi = txns - 1
    var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (fileOf(mid) < f || (fileOf(mid) == f && ends(mid) <= byte)) {
        best = mid; lo = mid + 1
      } else hi = mid - 1
    }
    if (best < 0) 0L else cum(best)
  }

  /** Index of the transaction whose end is the first at or after `(file, byte)`. */
  def txnsAt(file: String, byte: Long): Int = {
    val f = fileIndex(file)
    var lo = 0
    var hi = txns
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (fileOf(mid) < f || (fileOf(mid) == f && ends(mid) <= byte)) lo = mid + 1
      else hi = mid
    }
    lo
  }

  /** Wire bytes of the chain before `(file, byte)`. */
  def wireAt(file: String, byte: Long): Long = {
    val f = fileIndex(file)
    closedSizes.take(f).sum + byte
  }
}

/** ReplacingMergeTree semantics over (table, key): the last image wins,
  * a delete removes the key.
  */
final class Model {
  private val live = mutable.HashMap.empty[(String, Long), (TableDef, Array[AnyRef])]
  def put(td: TableDef, key: Long, img: Array[AnyRef]): Unit =
    live((td.name, key)) = (td, img)
  def delete(table: String, key: Long): Unit = live.remove((table, key))
  /** The live rows with their payloads rendered. */
  def snapshot(): Map[(String, Long), String] =
    live.view.mapValues { case (td, img) => Json.row(td, img) }.toMap
}

/** Keys currently alive in one table, with O(1) random pick and removal. */
final class KeyPool {
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val at = mutable.HashMap.empty[Long, Int]
  def add(k: Long): Unit = { at(k) = keys.size; keys += k }
  def pick(rng: scala.util.Random): Long = keys(rng.nextInt(keys.size))
  def remove(k: Long): Unit = {
    val i = at.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; at(last) = i }
  }}
