package graft.routing

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}

/** Durable routing state (reference RouteRecord persistence,
  * constructs.py:3293-3433 + drivers/routing/aws.py — per-record DynamoDB
  * writes there, a write-ahead log here). The log holds STATE plus a
  * tail of history: every fold writes a snapshot of one record per pending
  * node and one per unsettled fired context ([[WalRecord]]), and between
  * folds the table appends each accepted event, each completed path, and
  * the sweep's TTL expiries and firings. Recovery restores the newest
  * complete snapshot and replays only the log after it; a log without one
  * (events only, as every log was before snapshots) replays whole. A
  * snapshot replaces the segments before it only once written whole, so a
  * crash mid-fold loses nothing.
  *
  * Layout: a directory of WAL segments — each driver process appends to its
  * OWN segment (created at first write, so no filesystem append support is
  * needed; Hadoop local FS does not append), one flushed line per record.
  * O(1) per event with a single open stream — a rewritten state file would
  * make the nth event cost O(n), and per-record files cap at the
  * filesystem's create rate (~300/s measured locally). Lines are
  * `hflush`ed: durable on syncable filesystems (HDFS), OS-buffered
  * locally. Replay order = (segment name, line order); segment names are
  * timestamped so restarts sort after their predecessors.
  */
/** The write-ahead-log surface [[RoutingTable]] persists through — the
  * single-driver [[RoutingCheckpoint]] and the multi-driver
  * [[EpochWal]] (per-shard, fencing-epoch-named segments) both fold the
  * same record stream. */
trait RoutingWal {
  def appendEvent(p: String, blocked: Boolean): Unit
  def appendCompleted(p: String): Unit
  def compact(events: Seq[(String, Boolean)], completed: Seq[String]): Unit
  def load(): Option[(List[(String, Boolean)], List[String])]
  /** Block until every appended record is durably handed to the store —
    * a no-op for synchronous backends; the group-committing
    * [[KvEpochWal]] drains its batch buffer here. */
  def flush(): Unit = ()
  /** Close the open stream — the WAL stays usable (compaction closes the
    * open segment, then keeps writing through the same instance). */
  def close(): Unit
  /** End-of-life: close the stream AND release owned resources (the
    * PRIVATE uncached FileSystem, which the JVM cache does not own — on
    * HDFS/s3a each leaked instance holds a client with sockets and
    * threads). After dispose the WAL must not be used again. */
  def dispose(): Unit = close()
}

/** Shared WAL line codec + filesystem plumbing. */
private[routing] object WalCodec {
  // \r escapes too: BufferedReader-style line handling (and CRLF-
  // contaminated payload values) would otherwise split one record into
  // two — the first parsing as a truncated path, the second dropped
  def esc(s: String): String =
    s.replace("%", "%25").replace("\t", "%09")
      .replace("\n", "%0A").replace("\r", "%0D")
  def unesc(s: String): String =
    s.replace("%0A", "\n").replace("%0D", "\r")
      .replace("%09", "\t").replace("%25", "%")

  /** A PRIVATE (uncached) FileSystem instance with write checksums off:
    * setWriteChecksum on the JVM-shared cached instance would silently
    * disable CRC writing for every other component in the process, and
    * the checksummed local FS buffers flushes until a full 512B chunk —
    * a restart would lose the tail of the log; raw streams flush
    * through. */
  def uncachedFs(dir: Path, conf: Configuration): org.apache.hadoop.fs.FileSystem = {
    val privateConf = new org.apache.hadoop.conf.Configuration(conf)
    val scheme = Option(dir.toUri.getScheme).getOrElse(
      org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme)
    privateConf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
    val f = dir.getFileSystem(privateConf)
    f.setWriteChecksum(false)
    f
  }

  /** Parse one WAL line into the (kind, payload) fold `load()` applies.
    * Unknown/torn records are ignored (forward compatibility). */
  def foldLine(line: String,
               events: scala.collection.mutable.ListBuffer[(String, Boolean)],
               completed: scala.collection.mutable.ListBuffer[String]): Unit =
    line.split('\t') match {
      case Array("e", p) => events += ((unesc(p), false))
      case Array("eb", p) => events += ((unesc(p), true))
      case Array("c", p) => completed += unesc(p)
      case _ => ()
    }

  /** Fold every line of one log/inbox file — the ONE read loop shared by
    * checkpoint load, shard-WAL replay, and inbox draining.
    *
    * Only newline-TERMINATED lines count as committed records: every
    * appender writes `record + "\n"` in one call, so an unterminated
    * tail is a torn mid-write crash remnant — and a torn PREFIX of a
    * valid record still parses (a truncated path would replay as a
    * phantom event), which is why readLine's accept-the-last-line
    * behavior was unsafe here. Segments are compaction-bounded, so the
    * full read is small. */
  def foldFile(fs: org.apache.hadoop.fs.FileSystem, p: Path,
               events: scala.collection.mutable.ListBuffer[(String, Boolean)],
               completed: scala.collection.mutable.ListBuffer[String]): Unit = {
    val in = fs.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](64 * 1024)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val committed = s.lastIndexOf('\n')
    if (committed >= 0)
      s.substring(0, committed).split('\n')
        .foreach(foldLine(_, events, completed))
  }

  /** The compaction law, in ONE place: replay needs only the LAST
    * occurrence per event path (duplicates are node-level deduped; the
    * last blocked flag wins), original order otherwise preserved. */
  def lastPerPath(events: Seq[(String, Boolean)]): Seq[(String, Boolean)] = {
    val seen = new java.util.HashSet[String]()
    var kept = List.empty[(String, Boolean)]
    events.reverseIterator.foreach(e => if (seen.add(e._1)) kept ::= e)
    kept
  }

  /** Write `dir/name` whole or not at all: the body goes to `tmp-<name>`,
    * a name no replay reads, which is renamed once closed. A crash
    * mid-write leaves only a `tmp-` file, deleted by a later compaction,
    * and the segments the snapshot would have replaced stay readable. */
  def publish(fs: org.apache.hadoop.fs.FileSystem, dir: Path, name: String)
             (body: java.io.OutputStream => Unit): Unit = {
    val tmp = new Path(dir, s"tmp-$name")
    val out = fs.create(tmp, true)
    try body(out) finally out.close()
    if (!fs.rename(tmp, new Path(dir, name))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not rename $tmp to $name")
    }
  }

  /** The snapshot BODY, in one place (shared by [[RoutingCheckpoint]]
    * and the sharded EpochWal — a line-format or durability fix must
    * not have to land twice): last event per path + distinct completed
    * set, in WAL line format. */
  def writeState(out: java.io.OutputStream, events: Seq[(String, Boolean)],
                 completed: Seq[String]): Unit = {
    lastPerPath(events).foreach { case (p, b) =>
      out.write(s"${if (b) "eb" else "e"}\t${esc(p)}\n".getBytes("UTF-8")) }
    completed.distinct.foreach(p =>
      out.write(s"c\t${esc(p)}\n".getBytes("UTF-8")))
  }
}

/** The routing table's own records, carried through the [[RoutingWal]]
  * surface as event entries whose payload starts with NUL — no event path
  * does (only paths under a route's source root are logged) — so the line
  * format and every WAL backend stay as they are. Fields are NUL-separated,
  * with `%` and NUL escaped inside a field.
  *
  * A fold writes one snapshot: a [[WalRecord.Node]] per pending node and a
  * [[WalRecord.Fired]] per unsettled fired context, or a single
  * [[WalRecord.Empty]] when there is neither. Each record carries the
  * snapshot id, its serial and the snapshot's size, so no two payloads are
  * equal (the last-per-path fold of `compact` keeps every one) and the
  * last record tells whether the snapshot was written whole; one cut short
  * by a crash is not restored. Between folds the table appends one
  * [[WalRecord.Swept]] per sweep that expired or fired a node, which no
  * logged event would replay. */
private[routing] sealed trait WalRecord
private[routing] object WalRecord {
  type Receipt = (String, Boolean)

  /** Record `serial` (from 0) of the `size` records of the snapshot
    * `snap`, written in serial order. */
  sealed trait Snap extends WalRecord {
    def snap: String; def serial: Int; def size: Int
  }
  /** A pending node: its route, creation time and the (tip path, blocked)
    * offers that changed its state, in arrival order. */
  final case class Node(snap: String, serial: Int, size: Int, routeId: String,
                        createdAtMillis: Long, receipts: List[Receipt]) extends Snap
  /** A fired context no `markComplete` has settled yet: the receipts of
    * the node that fired it, and whether a recovery already dropped it as
    * done. */
  final case class Fired(snap: String, serial: Int, size: Int, routeId: String,
                         receipts: List[Receipt], dropped: Boolean) extends Snap
  /** A snapshot with no node and no context: its only record. */
  final case class Empty(snap: String) extends Snap {
    def serial: Int = 0; def size: Int = 1
  }
  /** A sweep at `nowMillis` of one route (`only`) or of all: it expired
    * nodes by TTL at that time, then fired the pending nodes listed as
    * (route, first receipt path) — a route never holds two pending nodes
    * created by one path, since the first node consumes the second offer. */
  final case class Swept(nowMillis: Long, only: Option[String],
                         fired: List[(String, String)]) extends WalRecord

  private val Sep = '\u0000'
  def isRecord(payload: String): Boolean =
    payload.nonEmpty && payload.charAt(0) == Sep

  private def escF(s: String): String =
    s.replace("%", "%25").replace("\u0000", "%00")
  private def unescF(s: String): String =
    s.replace("%00", "\u0000").replace("%25", "%")
  private def enc(fields: Seq[String]): String =
    fields.iterator.map(escF).mkString(Sep.toString, Sep.toString, "")
  private def encReceipts(rs: List[Receipt]): Seq[String] =
    rs.map { case (p, b) => (if (b) "b" else "e") + p }
  private def decReceipts(fs: Seq[String]): List[Receipt] =
    fs.iterator.map(f => (f.substring(1), f.charAt(0) == 'b')).toList

  def node(snap: String, serial: Int, size: Int, routeId: String,
           createdAtMillis: Long, receipts: List[Receipt]): String =
    enc(Seq("n", snap, serial.toString, size.toString, routeId,
      createdAtMillis.toString) ++ encReceipts(receipts))
  def fired(snap: String, serial: Int, size: Int, routeId: String,
            receipts: List[Receipt], dropped: Boolean): String =
    enc(Seq(if (dropped) "d" else "x", snap, serial.toString, size.toString,
      routeId) ++ encReceipts(receipts))
  def empty(snap: String): String = enc(Seq("s", snap))
  def swept(nowMillis: Long, only: Option[String],
            fired: Seq[(String, String)]): String =
    enc(Seq("w", nowMillis.toString, only.fold("")("r" + _)) ++
      fired.flatMap { case (r, p) => Seq(r, p) })

  /** The record a reserved payload holds; None for an event path or an
    * unreadable record (skipped, like an unknown line kind). */
  def parse(payload: String): Option[WalRecord] =
    if (!isRecord(payload)) None
    else {
      val f = payload.substring(1).split(Sep.toString, -1).map(unescF).toSeq
      try f match {
        case Seq("n", snap, i, n, route, at, rs @ _*) if rs.nonEmpty =>
          Some(Node(snap, i.toInt, n.toInt, route, at.toLong, decReceipts(rs)))
        case Seq(k @ ("x" | "d"), snap, i, n, route, rs @ _*) if rs.nonEmpty =>
          Some(Fired(snap, i.toInt, n.toInt, route, decReceipts(rs), k == "d"))
        case Seq("s", snap) => Some(Empty(snap))
        case Seq("w", now, only, fired @ _*) if fired.length % 2 == 0 =>
          Some(Swept(now.toLong, if (only.isEmpty) None else Some(only.substring(1)),
            fired.grouped(2).map(rp => (rp(0), rp(1))).toList))
        case _ => None
      } catch { case _: NumberFormatException | _: StringIndexOutOfBoundsException => None }
    }
}

final class RoutingCheckpoint(path: String, conf: Configuration)
    extends RoutingWal {

  private val dir = new Path(path + ".d")
  private lazy val fs = WalCodec.uncachedFs(dir, conf)

  private var wal: FSDataOutputStream = _

  /** Strictly-increasing floor for new segment timestamps: a new live
    * segment must sort AFTER the latest snapshot/segment even when the
    * clock lands on the same millisecond (or regressed across a
    * restart) — replay order is the name sort. 0 = not yet initialised
    * (first creation lists the dir once). */
  private var minNextTs: Long = 0L

  /** 13-digit millisecond field of a segment/snapshot name (position 1),
    * 0 for legacy/unparseable names — used only for max() floors, where
    * "sorts first anyway" is the right degenerate value. */
  private def tsOf(n: String): Long =
    n.split('-').lift(1).filter(f => f.length == 13 && f.forall(_.isDigit))
      .map(_.toLong).getOrElse(0L)

  private def esc(s: String): String = WalCodec.esc(s)

  /** kinds: "e" event, "eb" blocked event, "c" completed path */
  private def record(kind: String, payload: String): Unit = synchronized {
    if (wal == null) {
      if (!fs.exists(dir)) fs.mkdirs(dir)
      if (minNextTs == 0L)
        minNextTs = fs.listStatus(dir).map(s => tsOf(s.getPath.getName))
          .foldLeft(0L)(math.max) + 1
      val ts = math.max(System.currentTimeMillis(), minNextTs)
      minNextTs = ts + 1
      val name = f"wal-$ts%013d-${
        java.util.UUID.randomUUID().toString.take(8)}.log"
      wal = fs.create(new Path(dir, name), true)
    }
    wal.write(s"$kind\t${esc(payload)}\n".getBytes("UTF-8"))
    wal.hflush()
  }

  def appendEvent(p: String, blocked: Boolean): Unit =
    record(if (blocked) "eb" else "e", p)

  def appendCompleted(p: String): Unit = record("c", p)

  def close(): Unit = synchronized {
    if (wal != null) { wal.close(); wal = null }
  }

  override def dispose(): Unit = synchronized {
    close()
    // the uncached FileSystem is OWNED by this checkpoint (the JVM cache
    // deliberately does not hold it) — on HDFS/s3a an undisposed
    // instance leaks a client with sockets/threads per app lifecycle
    try fs.close() catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Replace the log with one snapshot segment holding `events` (last
    * occurrence per payload) and the distinct `completed` set, and drop the
    * older segments and any `tmp-` remnant of an earlier crashed
    * compaction. The snapshot appears under its name only once written
    * whole ([[WalCodec.publish]]). The table's folds pass their
    * [[WalRecord]] snapshot as `events`. */
  def compact(events: Seq[(String, Boolean)], completed: Seq[String]): Unit =
    synchronized {
      if (!fs.exists(dir)) return
      val listed = fs.listStatus(dir).map(_.getPath)
      val old = listed.filter(_.getName.startsWith("wal-"))
      close() // the snapshot becomes the new open segment's predecessor
      // The snapshot must sort AFTER every segment it subsumes (replay
      // restores the newest complete snapshot and skips everything before
      // it, so a survivor of a partial deletion is ignored) and BEFORE
      // every future live segment (record()'s minNextTs floor guarantees
      // new segments get ts > tsMax even on a same-millisecond clock).
      // "zzzzzzzz" sorts after any same-ts hex-uuid segment; the trailing
      // wall-clock + uuid keep repeated same-tsMax snapshots ordered and
      // unique.
      val tsMax = old.map(p => tsOf(p.getName)).foldLeft(0L)(math.max)
      val name = f"wal-$tsMax%013d-zzzzzzzz-${System.currentTimeMillis()}%013d-${
        java.util.UUID.randomUUID().toString.take(8)}.log"
      WalCodec.publish(fs, dir, name)(WalCodec.writeState(_, events, completed))
      minNextTs = math.max(minNextTs, tsMax + 1)
      val stale = old ++ listed.filter(_.getName.startsWith("tmp-"))
      val survived = stale.filter(f => !fs.delete(f, false) && fs.exists(f))
      if (survived.nonEmpty) {
        // KEEP the snapshot: once any old segment was deleted it holds
        // the only durable copy of that segment's events (withdrawing it
        // here would lose them — the pre-r13 defect). Survivors are
        // harmless — they sort before the snapshot, which replay restores
        // whole, and a `tmp-` file is never read — and are re-deleted on
        // the next compaction.
        org.slf4j.LoggerFactory.getLogger(classOf[RoutingCheckpoint]).warn(
          s"checkpoint $dir: could not delete segment(s) " +
            s"${survived.map(_.getName).mkString(", ")}; snapshot kept " +
            "(subsumes them on replay), deletion retried next compaction")
      }
    }

  /** Replay-ordered state: (events with blocked flag, completed paths).
    * None when no checkpoint exists yet. */
  def load(): Option[(List[(String, Boolean)], List[String])] = {
    if (!fs.exists(dir)) return None
    val segments = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("wal-")).sortBy(_.getName)
    val events = scala.collection.mutable.ListBuffer.empty[(String, Boolean)]
    val completed = scala.collection.mutable.ListBuffer.empty[String]
    segments.foreach(f => WalCodec.foldFile(fs, f, events, completed))
    Some((events.toList, completed.toList))
  }
}
