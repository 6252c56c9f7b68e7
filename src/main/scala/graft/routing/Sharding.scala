package graft.routing

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}

/** Multi-driver RoutingTable sharding (SURVEY §7.5; reference analog:
  * per-RouteRecord DynamoDB conditional-write locking,
  * constructs.py:3293-3433 + drivers/routing/aws.py).
  *
  * - **Shard key = route id.** Route state is a deterministic fold of its
  *   event stream (the invariant WAL-replay recovery already relies on),
  *   so a route is owned by exactly one driver at a time with no
  *   cross-route coordination. Every driver holds the full (tiny,
  *   dev-time) route DEFINITIONS; only runtime state is sharded.
  * - **Ownership = leases with fencing epochs** ([[ShardLease]]): the
  *   per-record DynamoDB conditional write becomes an atomic
  *   create-if-absent of `epoch-<k>` files in the shared store; the
  *   highest epoch file is the lease, renewed through a heartbeat file.
  *   Epochs only grow — every ownership change increments.
  * - **Per-shard WAL segments** ([[EpochWal]]): segment names embed the
  *   owner's epoch. On takeover the new owner replays and COMPACTS into
  *   a snapshot named with its epoch — from then on, segments from
  *   older epochs can only be zombie leftovers (their history is inside
  *   the snapshot) and are rejected at replay and deleted at compaction,
  *   which also unlinks a zombie's still-open stream on POSIX stores.
  *   Per-event cost stays O(1) append + hflush; the shared store carries
  *   only lease renewals (per shard, seconds cadence) — nothing
  *   per-event, unlike the reference's per-event DynamoDB writes.
  * - **Feed-back = at-least-once inbox**: a completing driver appends the
  *   completion to the consuming shard's `inbox/` (tmp-write + atomic
  *   rename); the owner folds it on its next poll and deletes the
  *   message AFTER folding — re-folding after a crash is safe because
  *   event folding is idempotent per tip path and completion probes
  *   re-verify against the filesystem, which is shared truth.
  * - **Per-store commit requirements** (r13): the FILESYSTEM backends
  *   assume atomic rename (inbox publish) and atomic-enough
  *   create-if-absent (leases; POSIX O_EXCL / HDFS namenode create) —
  *   true on local disk and HDFS, best-effort on NFS and object-store
  *   connectors. Object stores (S3/GCS/Azure) should instead pass
  *   `kvStore = Some(conditionalKv)` to [[ShardedDriver]]: leases ride
  *   conditional PUTs ([[ConditionalLeaseStore]]), the WAL becomes
  *   per-record values ([[KvEpochWal]], no append/rename needed), and
  *   inbox messages are single atomic value puts — the only store
  *   contract required is conditional create + list-after-put
  *   consistency, both GA on all three majors.
  * - **Failure model**: driver loss → lease expiry → new owner replays
  *   the shard's WAL (pending nodes rebuilt, mid-flight executions
  *   re-surfaced by the existing recover() contract); split brain →
  *   fenced at the snapshot-epoch check; inbox duplication → idempotent
  *   fold. Cross-shard feed-back is asynchronous, so topological
  *   completion order is no longer globally serialized — matching the
  *   reference, whose Lambda-driven feed-back is async too.
  */
object Sharding {
  /** Consistent route→shard mapping — identical on every driver. */
  def shardOf(routeId: String, numShards: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(routeId), numShards)

  /** Fixed-width (8 hex chars) owner token embedded in WAL segment names
    * — ownerIds may contain '-' (the name separator), so names carry the
    * hash, not the id. Used to fence same-epoch dual writers: see
    * [[EpochWal.load]]. */
  def ownerToken(ownerId: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(ownerId)}%08x"
}

/** Storage primitive behind [[ShardLease]] — a tiny flat namespace of
  * `epoch-*`/`hb-*` entries with one crucial operation: `putIfAbsent`.
  * `atomicCreate = true` promises that putIfAbsent is STRICTLY atomic
  * across processes/hosts (exactly one of N concurrent creators
  * succeeds); the lease then trusts its result outright. When false
  * (exists-then-create stores), [[ShardLease.claim]] falls back to
  * read-back verification + renewal-time convergence. */
trait LeaseStore {
  /** Atomic create-if-absent. True = this caller created the entry. */
  def putIfAbsent(name: String, content: String): Boolean
  /** Unconditional overwrite (heartbeats). */
  def put(name: String, content: String): Unit
  def get(name: String): Option[String]
  /** All entry names present. */
  def list(): Seq[String]
  /** Whether [[putIfAbsent]] is strictly atomic on this store. */
  def atomicCreate: Boolean
  /** Best-effort removal of a stale entry (namespace hygiene) — a
    * backend without deletes may leave it a no-op; correctness never
    * depends on pruning. */
  def delete(name: String): Unit = ()
}

/** The conditional-write KV primitive of an object store — the shape of
  * an S3 `PutObject` with `If-None-Match: *` (GA on S3 since 2024; same
  * contract on GCS `x-goog-if-generation-match: 0` and Azure
  * `If-None-Match: *`): the PUT succeeds iff no object exists at the
  * key, decided atomically by the store. This is the same primitive the
  * reference gets from DynamoDB conditional writes
  * (constructs.py:3389-3394, drivers/routing/aws.py) — an adapter over
  * any of those clients makes multi-HOST sharding safe on object
  * storage, where Hadoop `create(overwrite=false)` is exists-then-create
  * and only best-effort. */
trait ConditionalKv {
  /** Atomic create-if-absent at `key`. True = created by this caller. */
  def putIfNoneMatch(key: String, value: String): Boolean
  def put(key: String, value: String): Unit
  def get(key: String): Option[String]
  /** Keys starting with `prefix`. */
  def list(prefix: String): Seq[String]
  /** Remove `key` (idempotent; absent key is a no-op). Inbox drains and
    * WAL compaction depend on it; a failed delete must THROW, not
    * silently succeed — callers treat deletion as best-effort and
    * survivors as subsumed, but need the exception to log it. */
  def delete(key: String): Unit

  /** Remove `key` only while it still holds `expect`; true = removed.
    * The default is the non-atomic get-then-delete (the narrow window
    * a caller had anyway); stores with conditional-delete semantics
    * (S3 `If-Match`, a CAS row) should override atomically — the
    * compaction-swap cleanup uses this so finishing compactor A can
    * never delete successor B's freshly-claimed manifest. */
  def deleteIfValue(key: String, expect: String): Boolean =
    if (get(key).contains(expect)) { delete(key); true } else false
}

/** Strictly-atomic in-memory [[ConditionalKv]] (ConcurrentHashMap
  * putIfAbsent) — the in-sandbox stand-in for an object-store client in
  * tests; also a correct single-JVM backend. */
final class InMemoryConditionalKv extends ConditionalKv {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
  def putIfNoneMatch(key: String, value: String): Boolean =
    m.putIfAbsent(key, value) == null
  def put(key: String, value: String): Unit = { m.put(key, value); () }
  def get(key: String): Option[String] = Option(m.get(key))
  def list(prefix: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    m.keySet.asScala.filter(_.startsWith(prefix)).toSeq
  }
  def delete(key: String): Unit = { m.remove(key); () }
  override def deleteIfValue(key: String, expect: String): Boolean =
    m.remove(key, expect) // ConcurrentHashMap's atomic two-arg remove
}

/** [[ConditionalKv]] decorator that sleeps `latencyMs` before every
  * store round-trip — the object-store stand-in for endurance soaks
  * (`graft.ShardSoak`): an S3-class PUT/GET/LIST is a
  * 20-50 ms HTTP round-trip, and designs that are fine on the in-memory
  * backend (one PUT per WAL record) collapse under it. */
final class LatencyInjectedKv(underlying: ConditionalKv, latencyMs: Long)
    extends ConditionalKv {
  private def rt(): Unit = if (latencyMs > 0) Thread.sleep(latencyMs)
  def putIfNoneMatch(key: String, value: String): Boolean =
    { rt(); underlying.putIfNoneMatch(key, value) }
  def put(key: String, value: String): Unit = { rt(); underlying.put(key, value) }
  def get(key: String): Option[String] = { rt(); underlying.get(key) }
  def list(prefix: String): Seq[String] = { rt(); underlying.list(prefix) }
  def delete(key: String): Unit = { rt(); underlying.delete(key) }
  override def deleteIfValue(key: String, expect: String): Boolean =
    { rt(); underlying.deleteIfValue(key, expect) }
}

/** [[LeaseStore]] over a [[ConditionalKv]] — the object-store-safe lease
  * backend: every claim is a conditional PUT decided by the store, so
  * the acknowledged double-hold window of the filesystem backend never
  * opens. Keys live under `prefix` (e.g. `bucket-key/leases/shard-3/`). */
final class ConditionalLeaseStore(kv: ConditionalKv, prefix: String)
    extends LeaseStore {
  private def key(name: String) = s"$prefix/$name"
  def putIfAbsent(name: String, content: String): Boolean =
    kv.putIfNoneMatch(key(name), content)
  def put(name: String, content: String): Unit = kv.put(key(name), content)
  def get(name: String): Option[String] = kv.get(key(name))
  def list(): Seq[String] =
    kv.list(s"$prefix/").map(_.stripPrefix(s"$prefix/"))
  def atomicCreate: Boolean = true
  override def delete(name: String): Unit = kv.delete(key(name))
}

/** [[LeaseStore]] over a Hadoop filesystem directory — the original
  * backend. Strictly atomic on `file:` (POSIX O_CREAT|O_EXCL) and HDFS
  * (`create(overwrite=false)` is a namenode-atomic create); best-effort
  * on NFS-backed "local" paths and object-store connectors without
  * conditional writes, where [[ShardLease.claim]]'s read-back +
  * renewal-time convergence bound the double-hold window instead. */
final class HadoopLeaseStore(dir: Path, conf: Configuration)
    extends LeaseStore {
  private val fs = WalCodec.uncachedFs(dir, conf)

  // Only HDFS gets the no-read-back fast path: its create(overwrite=
  // false) is namenode-atomic by contract. `file:` uses O_EXCL below —
  // atomic on a real local disk — but an NFS-mounted "local" path may
  // not honor O_EXCL, so file: claims keep the claim-time read-back
  // verify (a cheap local read) that catches one racer immediately.
  def atomicCreate: Boolean = fs.getScheme == "hdfs"

  private def write(p: Path, content: String, overwrite: Boolean): Boolean =
    try {
      val out = fs.create(p, overwrite)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  def putIfAbsent(name: String, content: String): Boolean = {
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val p = new Path(dir, name)
    if (fs.getScheme == "file")
      // RawLocalFileSystem's create(overwrite=false) is a non-atomic
      // exists-then-create; go through POSIX O_CREAT|O_EXCL (nio
      // CREATE_NEW), which IS atomic across processes on a local disk.
      // NFS-mounted "local" paths may still not honor O_EXCL — the
      // read-back in [[ShardLease.claim]] covers that.
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p.toUri.getPath),
          content.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.io.IOException => false }
    else write(p, content, overwrite = false)
  }

  def put(name: String, content: String): Unit = {
    if (!fs.exists(dir)) fs.mkdirs(dir)
    // a silently dropped heartbeat ages the on-store lease while the
    // owner believes it is fresh (peer steals at timeout, both execute
    // until the next fence poll) and a dropped release tombstone costs
    // the successor a full timeout — at least leave evidence
    if (!write(new Path(dir, name), content, overwrite = true))
      org.slf4j.LoggerFactory.getLogger(classOf[HadoopLeaseStore]).warn(
        s"lease store write FAILED for $name under $dir — heartbeat/" +
          "tombstone not durable this round")
  }

  def get(name: String): Option[String] =
    try {
      val in = fs.open(new Path(dir, name))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  def list(): Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName).toSeq

  override def delete(name: String): Unit = {
    try { fs.delete(new Path(dir, name), false); () }
    catch { case _: java.io.IOException => () } // hygiene only
  }
}

/** Lease + fencing-epoch ownership of ONE shard over a shared filesystem.
  *
  * Layout under `<root>/leases/shard-<n>/`:
  * - `epoch-<k>` — created with overwrite=false; content = owner id. The
  *   HIGHEST k is the current lease; creation races lose with
  *   FileAlreadyExists and re-read.
  * - `hb-<k>` — heartbeat, rewritten by the owner with the clock value;
  *   a lease whose heartbeat is older than `leaseTimeoutMillis` is
  *   expired and the next claimant may create `epoch-<k+1>`.
  *
  * **Claim atomicity** is delegated to the [[LeaseStore]] backend. With
  * `atomicCreate = true` — [[HadoopLeaseStore]] on `file:` (POSIX
  * O_EXCL) or HDFS, and [[ConditionalLeaseStore]] over any object
  * store's conditional PUT (S3 `If-None-Match`, the analog of the
  * reference's DynamoDB conditional write) — the store decides the race
  * and exactly one claimant wins `epoch-<k+1>`. On best-effort stores
  * (NFS-backed local, object-store connectors without conditional
  * writes) the claim read-back verifies: after writing, it re-reads the
  * epoch file and only takes ownership when the content equals this
  * claimant's `ownerId`; [[renew]] re-verifies every heartbeat, bounding
  * any residual double-hold to one renewal period. Multi-HOST
  * deployments on object storage should use [[ConditionalLeaseStore]].
  *
  * **Clock model.** Expiry compares the CLAIMANT's `clock()` against a
  * heartbeat written by the OWNER's clock, so cross-host clock skew
  * directly stretches or shrinks the effective lease — size
  * `leaseTimeoutMillis` to cover the deployment's worst-case skew plus
  * heartbeat cadence (skew > leaseTimeoutMillis could steal a live
  * lease). A missing heartbeat file (owner crashed between the epoch and
  * hb writes) folds to "expired immediately": safe, because the fencing
  * epoch — not the lease — is what protects the log.
  *
  * **Same-owner reclaim.** A driver that restarts with the same
  * `ownerId` finds its previous (possibly still-live) lease and takes
  * over at epoch k+1 immediately instead of waiting out the timeout —
  * its own old incarnation can only be a zombie, and the new epoch
  * fences it.
  *
  * `clock` is injectable so expiry/failover is deterministically testable.
  */
final class ShardLease(val shard: Int, val ownerId: String,
                       store: LeaseStore,
                       leaseTimeoutMillis: Long,
                       clock: () => Long) {

  /** Filesystem-backed lease (the original form): entries live under
    * `<root>/leases/shard-<n>/` on `conf`'s filesystem. */
  def this(root: String, shard: Int, ownerId: String, conf: Configuration,
           leaseTimeoutMillis: Long = 10000L,
           clock: () => Long = () => System.currentTimeMillis()) =
    this(shard, ownerId,
      new HadoopLeaseStore(new Path(s"$root/leases/shard-$shard"), conf),
      leaseTimeoutMillis, clock)

  @volatile private var held: Long = -1L

  // first time this CLAIMANT saw epoch k's heartbeat unreadable — a
  // missing/garbled hb is only "owner dead" after a full lease timeout
  // of continuous unreadability (see tryAcquire)
  private val hbMissingSince = scala.collection.mutable.Map.empty[Long, Long]

  private def epochName(k: Long) = f"epoch-$k%09d"
  private def hbName(k: Long) = f"hb-$k%09d"

  /** (epoch, owner) of the current lease — the highest epoch file.
    * Non-numeric `epoch-*` entries (operator artifacts, backups) degrade
    * to a warning instead of bricking every claim attempt for the shard
    * — the same hardening EpochWal got for stray segment names. */
  def current(): Option[(Long, String)] = {
    val (junk, ks) = store.list().filter(_.startsWith("epoch-"))
      .partitionMap(n => n.stripPrefix("epoch-").toLongOption.toRight(n))
    if (junk.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(classOf[ShardLease]).warn(
        s"shard $shard lease store: ignoring non-numeric epoch entries: " +
          junk.sorted.mkString(", "))
    if (ks.isEmpty) None
    else {
      val k = ks.max
      Some((k, store.get(epochName(k)).getOrElse("")))
    }
  }

  /** The epoch this instance holds, or -1. */
  def heldEpoch: Long = held

  /** Is the held epoch still the shard's highest (not fenced out)?
    * An UNREADABLE epoch-file content (transient store failure — the
    * files are immutable, so "" can never mean "owned by nobody") at
    * the held epoch counts as still-current: folding a read hiccup to
    * "fenced" would drop a live shard (WAL close + full replay churn);
    * a real double-hold still converges at the next readable poll, and
    * [[renew]] keeps converging it every heartbeat. */
  def isCurrent: Boolean =
    held > 0 && current().exists { case (k, o) =>
      k == held && (o == ownerId || o.isEmpty) }

  /** Claim the shard: succeeds when no lease exists, when this owner
    * already holds the current epoch, when this owner finds its OWN
    * previous lease (restart — immediate takeover at k+1, no timeout
    * wait: the old incarnation is this driver's zombie and the new
    * epoch fences it), or when the current lease's heartbeat has
    * expired. Returns the (new) held epoch. */
  def tryAcquire(): Option[Long] = {
    current() match {
      case None =>
        claim(1L)
      case Some((k, o)) if o == ownerId && k == held =>
        Some(k) // already held
      case Some((k, o)) if o == ownerId =>
        claim(k + 1) // same-owner fast reclaim after restart
      case Some((k, _)) =>
        val hb = store.get(hbName(k)).map(_.trim)
        val expired =
          if (hb.contains("released")) true
          else hb.flatMap(_.toLongOption) match {
            case Some(t) =>
              hbMissingSince.remove(k)
              clock() - t > leaseTimeoutMillis
            case None =>
              // hb missing or garbled: either the owner crashed between
              // the epoch and hb writes, or this read raced a NON-ATOMIC
              // hb overwrite (RawLocalFileSystem renew is delete+create —
              // a reader in that window sees no file / empty content).
              // Folding that instantly to "expired" steals LIVE leases
              // (observed: two-process soak, dual execution + overwrite
              // crash), so the owner is dead only after a full lease
              // timeout of CONTINUOUS unreadability — a live owner's next
              // renewal (well inside the timeout) clears the strike.
              val first = hbMissingSince.getOrElseUpdate(k, clock())
              clock() - first > leaseTimeoutMillis
          }
        if (!expired) None // live owner
        else claim(k + 1)
    }
  }

  private def claim(k: Long): Option[Long] =
    if (store.putIfAbsent(epochName(k), ownerId)) {
      // EPOCH-REUSE GUARD: the hygiene pruning below deletes epoch keys
      // more than 64 behind, so a claimant acting on a STALE current()
      // read (descheduled under load, eventually-consistent list) can
      // re-CREATE a pruned epoch key and "win" an epoch number some
      // other owner already held — two holders of one fencing token
      // across time (and EpochWal segment names key off the epoch, so a
      // resurrected epoch could overwrite a historical WAL segment).
      // After winning the create, re-read the highest epoch: if anyone
      // is beyond k, our k is a resurrected relic — abdicate and delete
      // it. Inside the un-pruned top-64 window the conditional create
      // itself is the authority, and no concurrent claimant can be
      // beyond k (claiming k+1 requires first OBSERVING k with an
      // expired heartbeat), so a legitimate win never abdicates here.
      val highest = store.list().filter(_.startsWith("epoch-"))
        .flatMap(_.stripPrefix("epoch-").toLongOption)
        .foldLeft(0L)(math.max)
      if (highest > k) {
        store.delete(epochName(k))
        None
      } else claimWon(k)
    } else None // lost the race; caller re-reads on its next cycle

  private def claimWon(k: Long): Option[Long] = {
      store.put(hbName(k), clock().toString)
      hbMissingSince.filterInPlace((e, _) => e >= k) // strikes for dead epochs
      // namespace hygiene: entries far below the new epoch are
      // unreadable by any replay (segments that old sweep at each
      // takeover compaction; 64 epochs of slack covers pathological
      // recovery) — unpruned, every claim-path list() grows with the
      // deployment's total failover count. Best-effort per backend.
      if (k > 64)
        store.list()
          .filter(n => n.startsWith("epoch-") || n.startsWith("hb-"))
          .foreach { n =>
            n.dropWhile(!_.isDigit).takeWhile(_.isDigit).toLongOption
              .filter(_ < k - 64).foreach(_ => store.delete(n))
          }
      if (store.atomicCreate) {
        // The store decided the race atomically (POSIX O_EXCL, HDFS
        // namenode create, an object store's If-None-Match conditional
        // PUT) — this caller IS the epoch-k owner, no read-back needed.
        held = k
        Some(k)
      } else if (store.get(epochName(k)).map(_.trim).contains(ownerId)) {
        // Read-back verify: on stores whose create-if-absent is not truly
        // atomic (NFS O_EXCL, object-store connectors without conditional
        // writes) two racers can both reach this point. The re-read is
        // BEST-EFFORT, not a total order: it catches the racer whose read
        // lands after the other's write, but an unlucky interleaving
        // (this claimant's read-back completing before the other's
        // overwrite) can still leave both holding k briefly. [[renew]]
        // re-verifies ownership on every heartbeat, so any such
        // double-hold converges to a single owner within one renewal
        // period.
        held = k
        Some(k)
      } else None // lost a non-atomic create race — k belongs to the other
  }

  /** Heartbeat renewal — the ONLY recurring shared-store write. Before
    * renewing, re-verifies the epoch file still carries this owner's id
    * and abdicates if not: on a store without atomic create-if-absent,
    * a double-hold that slipped past the claim read-back is surrendered
    * here, bounding split-brain to at most one renewal period. */
  def renew(): Unit = {
    val k = held
    if (k > 0) {
      store.get(epochName(k)).map(_.trim) match {
        case Some(o) if o == ownerId =>
          // fenced check folded into the heartbeat: a successor claiming
          // k+1 leaves OUR epoch-k file intact (epoch files are
          // immutable), so verifying only our own file would heartbeat a
          // dead epoch forever and [[heldEpoch]] would keep reading
          // "held" — but liveOwnedShards treats heldEpoch as the
          // believed-ownership flag, so fencing must clear it here, at
          // heartbeat cadence, not only at the fencedShards() poll
          if (current().exists(_._1 > k)) held = -1L
          else {
            store.put(hbName(k), clock().toString)
            // a release() racing this renewal clears `held` BEFORE
            // writing its tombstone; if our timestamp landed after the
            // tombstone, restore it — otherwise the abandoned lease
            // looks live and the successor waits out the full timeout
            if (held <= 0) store.put(hbName(k), "released")
            ()
          }
        case Some(_) =>
          held = -1L // epoch file carries another owner — abdicate
        case None =>
          // An unreadable read is normally a TRANSIENT failure (epoch
          // files are immutable), and abdicating on it dropped a live
          // shard on a single swallowed IOException. But claim()'s
          // namespace pruning DOES delete epoch files 64+ failovers
          // behind — an owner partitioned that long would heartbeat a
          // dead epoch forever if "missing" were always transient. So
          // cross-check the current lease: a higher epoch existing means
          // this owner was really fenced (its file pruned) — abdicate;
          // otherwise keep heartbeating and re-verify next cycle.
          current() match {
            case Some((cur, _)) if cur > k => held = -1L
            case _ =>
              store.put(hbName(k), clock().toString)
              if (held <= 0) store.put(hbName(k), "released")
              ()
          }
      }
    }
  }

  /** Drop ownership: tombstone the heartbeat so a successor claims
    * immediately instead of waiting out the timeout. `held` clears
    * FIRST so a concurrently-running renew() cannot overwrite the
    * tombstone with a live timestamp (and renew re-checks `held` after
    * its write for the opposite interleaving). */
  def release(): Unit = if (held > 0) {
    val k = held
    held = -1L
    store.put(hbName(k), "released")
  }

  /** The SETTLED owner of epoch `k` (the epoch file's content). On a
    * store without atomic create-if-absent, same-epoch double-holders
    * converge to this owner at renewal time ([[renew]] abdicates the
    * other), so it is the authority for which writer's same-epoch WAL
    * segments are live — see [[EpochWal.load]]. */
  def ownerOf(k: Long): Option[String] = store.get(epochName(k)).map(_.trim)
}

/** Per-shard WAL with fencing-epoch segment names
  * (`<shardDir>/wal-<epoch>-<ownerToken>-<ts>-<uuid>.log`) and
  * epoch-named compaction snapshots (`snap-<epoch>-<ts>.log`). Same line
  * format and O(1) append + hflush mechanics as [[RoutingCheckpoint]].
  *
  * Fencing rule: let E = the highest snapshot epoch present. History
  * from epochs < E lives INSIDE that snapshot (the epoch-E owner
  * replayed it before compacting), so wal segments with epoch < E can
  * only be zombie leftovers — [[load]] ignores them (loudly) and
  * [[compact]] deletes them, unlinking a zombie's still-open stream.
  * A compaction attempt by a FENCED owner (a snapshot with a higher
  * epoch exists) aborts without touching the log.
  *
  * SAME-epoch fencing: on stores without atomic create-if-absent, two
  * claim racers can briefly both hold epoch k (ShardLease's acknowledged
  * double-hold window) and both append wal-k-* segments. Segment names
  * therefore embed [[Sharding.ownerToken]], and [[load]] filters each
  * epoch's segments to the SETTLED owner of that epoch
  * (`winnerTokenOf`, backed by [[ShardLease.ownerOf]]) — the same owner
  * the renewal-time convergence keeps. The loser's in-window appends are
  * dropped loudly; their effects re-surface through the at-least-once
  * contract (filesystem completion probes + inbox redelivery). */
final class EpochWal(shardDir: String, conf: Configuration, val epoch: Long,
                     ownerToken: Option[String] = None,
                     winnerTokenOf: Long => Option[String] = _ => None)
    extends RoutingWal {

  private val dir = new Path(shardDir)
  private lazy val fs = WalCodec.uncachedFs(dir, conf)
  private var wal: FSDataOutputStream = _

  private def log = org.slf4j.LoggerFactory.getLogger(classOf[EpochWal])

  /** Epoch embedded in a `wal-<epoch>-…` / `snap-<epoch>-…` name, or
    * None for a stray file that doesn't match the shape — a single
    * malformed name must degrade to a warning, not make the shard
    * unrecoverable with a NumberFormatException mid-replay. */
  private def epochOf(name: String): Option[Long] =
    name.split('-').lift(1).flatMap(_.toLongOption)

  /** (name, epoch) for every parseable name; warns about the rest. */
  private def parsed(names: Array[String]): Array[(String, Long)] = {
    val (ok, bad) = names.map(n => n -> epochOf(n)).partition(_._2.isDefined)
    if (bad.nonEmpty)
      log.warn(s"shard WAL $dir: ignoring ${bad.length} file(s) with " +
        s"unparseable epoch: ${bad.map(_._1).sorted.mkString(", ")}")
    ok.map { case (n, e) => (n, e.get) }
  }

  /** Owner token embedded at position 2 of a new-format segment name, or
    * None for legacy names (whose position 2 is the 13-digit timestamp —
    * token is always exactly 8 hex chars, so width disambiguates). */
  private def tokenOf(name: String): Option[String] =
    name.split('-').lift(2).filter(s =>
      s.length == 8 && s.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))

  /** Strictly-increasing floor for new segment/snapshot timestamps: a
    * post-compaction segment must carry ts > the snapshot's ts even on a
    * same-millisecond clock — [[load]] uses (epoch, ts) to tell
    * snapshot-subsumed segments from post-snapshot ones. 0 = not yet
    * initialised (first use lists the dir once). */
  private var minNextTs: Long = 0L

  private def nextTs(): Long = {
    if (minNextTs == 0L)
      minNextTs = (listNames("wal-") ++ listNames("snap-"))
        .map(tsOf).filter(_ != Long.MaxValue).foldLeft(0L)(math.max) + 1
    val ts = math.max(System.currentTimeMillis(), minNextTs)
    minNextTs = ts + 1
    ts
  }

  private def record(kind: String, payload: String): Unit = synchronized {
    if (wal == null) {
      if (!fs.exists(dir)) fs.mkdirs(dir)
      val tok = ownerToken.map(t => s"$t-").getOrElse("")
      val name = f"wal-$epoch%09d-$tok${nextTs()}%013d-${
        java.util.UUID.randomUUID().toString.take(8)}.log"
      wal = fs.create(new Path(dir, name), true)
    }
    wal.write(s"$kind\t${WalCodec.esc(payload)}\n".getBytes("UTF-8"))
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
    try fs.close() catch { case scala.util.control.NonFatal(_) => () }
  }

  private def listNames(prefix: String): Array[String] =
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith(prefix))

  /** The 13-digit millisecond component of a segment name, whichever of
    * the two formats (`wal-<epoch>-<token>-<ts>-<uuid>` /
    * legacy `wal-<epoch>-<ts>-<uuid>`) produced it. */
  private def tsOf(n: String): Long =
    n.stripSuffix(".log").split('-').drop(2)
      .find(f => f.length == 13 && f.forall(_.isDigit))
      .map(_.toLong).getOrElse(Long.MaxValue)

  /** Replay-ordered state under the fencing rule. */
  def load(): Option[(List[(String, Boolean)], List[String])] = {
    if (!fs.exists(dir)) return None
    val snaps = parsed(listNames("snap-"))
    val snapEpoch = if (snaps.isEmpty) -1L else snaps.map(_._2).max
    val snapName = snaps.filter(_._2 == snapEpoch).map(_._1).sorted.lastOption
    val snapTs = snapName.map(tsOf).getOrElse(-1L)
    val (livePre, zombieP) = parsed(listNames("wal-")).partition(_._2 >= snapEpoch)
    // same-epoch segments with ts <= the snapshot's ts predate it and are
    // folded INTO it (compact's nextTs floor guarantees post-snapshot
    // segments get a strictly larger ts) — drop them, so a survivor of a
    // partial compaction deletion cannot resurrect stale last-wins state
    val (liveP0, subsumed) = livePre.partition { case (n, e) =>
      e != snapEpoch || tsOf(n) > snapTs }
    if (subsumed.nonEmpty)
      log.info(s"shard WAL $dir: skipping ${subsumed.length} segment(s) " +
        s"already folded into snapshot ${snapName.getOrElse("")}: " +
        subsumed.map(_._1).sorted.mkString(", "))
    // same-epoch fencing: of segments attributed to an owner (new-format
    // names), keep only those of each epoch's SETTLED owner — a claim
    // race's loser may have appended under the same epoch before
    // abdicating at renewal. Legacy names and unresolvable epochs pass.
    // memoized per epoch: winnerTokenOf is a lease-store read (fs open /
    // remote GET on a conditional KV) and segments cluster in 1-2 epochs
    val winnerOf = scala.collection.mutable.Map.empty[Long, Option[String]]
    val (liveP, losers) = liveP0.partition { case (n, e) =>
      (tokenOf(n), winnerOf.getOrElseUpdate(e, winnerTokenOf(e))) match {
        case (Some(t), Some(w)) => t == w
        case _ => true
      }
    }
    val zombie = zombieP.map(_._1)
    if (losers.nonEmpty)
      log.warn(s"shard WAL $dir: ignoring ${losers.length} segment(s) from " +
        "same-epoch claim-race losers (owner token differs from the " +
        s"settled epoch owner): ${losers.map(_._1).sorted.mkString(", ")}")
    if (zombie.nonEmpty)
      log.warn(s"shard WAL $dir: ignoring ${zombie.length} segment(s) from " +
        s"epochs older than snapshot epoch $snapEpoch (zombie writers): " +
        zombie.sorted.mkString(", "))
    val events = scala.collection.mutable.ListBuffer.empty[(String, Boolean)]
    val completed = scala.collection.mutable.ListBuffer.empty[String]
    // NUMERIC (epoch, ts) order: a plain name sort compares the token
    // field against a legacy name's timestamp field at the same epoch,
    // so mixed-format (or unresolvable-owner) segments could replay out
    // of chronological order and last-wins state would come from the
    // older event
    val ordered = snapName.toSeq ++
      liveP.sortBy { case (n, e) => (e, tsOf(n), n) }.map(_._1)
    if (ordered.isEmpty) return None
    ordered.foreach(name =>
      WalCodec.foldFile(fs, new Path(dir, name), events, completed))
    Some((events.toList, completed.toList))
  }

  /** Snapshot the folded state at THIS owner's epoch and delete every
    * segment/snapshot from epochs <= it — the takeover fencing barrier.
    * Aborts (loudly) when a higher-epoch snapshot exists: this owner has
    * been fenced out and must not touch the successor's log. */
  def compact(events: Seq[(String, Boolean)], completed: Seq[String]): Unit =
    synchronized {
      if (!fs.exists(dir)) return
      val newerSnap = parsed(listNames("snap-")).exists(_._2 > epoch)
      if (newerSnap) {
        log.warn(s"shard WAL $dir: compaction at epoch $epoch aborted — a " +
          "higher-epoch snapshot exists (this owner is fenced out)")
        return
      }
      // a `tmp-` remnant of a crashed compaction at an epoch <= this one
      // is deleted with the segments; load() never reads one
      val old = parsed(listNames("wal-") ++ listNames("snap-"))
        .filter(_._2 <= epoch).map(_._1) ++
        listNames("tmp-").filter(n => epochOf(n.stripPrefix("tmp-")).exists(_ <= epoch))
      close() // own open segment is among the deletions below
      // nextTs(): the snapshot's ts must strictly exceed every segment it
      // subsumes AND lower-bound every post-snapshot segment — load()'s
      // (epoch, ts) subsumption rule depends on it. Published whole: load()
      // trusts the newest snapshot and skips the segments it subsumes, so a
      // torn one under its name would lose them.
      val name = f"snap-$epoch%09d-${nextTs()}%013d.log"
      WalCodec.publish(fs, dir, name)(WalCodec.writeState(_, events, completed))
      val survived = old.filter { n =>
        val p = new Path(dir, n)
        // a THROWING delete (transient store RPC failure) must count as
        // survived, not escape: compact runs inside tryAcquireShard
        // (post-claim — an abort would orphan a heartbeating lease) and
        // inside maybeCompact on the live ingest path
        try !fs.delete(p, false) && fs.exists(p)
        catch { case scala.util.control.NonFatal(_) => true }
      }
      if (survived.nonEmpty) {
        // KEEP the snapshot: once any deletion succeeded it holds the
        // only durable copy of the deleted segments' events (withdrawing
        // it would lose them — the pre-r13 defect). Survivors are
        // harmless: lower epochs are zombie-filtered and same-epoch
        // ts <= snapshot segments are subsumption-filtered at load();
        // deletion is retried on the next compaction.
        log.warn(s"shard WAL $dir: compaction at epoch $epoch could not " +
          s"delete segment(s) ${survived.mkString(", ")}; snapshot kept " +
          "(load() filters them), deletion retried next compaction")
      }
    }
}

/** Per-shard WAL over a [[ConditionalKv]] — the object-store-safe
  * [[RoutingWal]] for stores WITHOUT atomic rename or append (S3-class).
  * Same fencing model as [[EpochWal]], with the filesystem mechanics
  * replaced by value-level puts:
  *
  *  - one record per key `…/wal/<epoch>-<ownerToken>-<seq>` (a single
  *    PUT is atomic — no torn lines, no rename; per-event PUT cadence
  *    matches the reference's per-event DynamoDB writes,
  *    constructs.py:3293-3433);
  *  - snapshots at `…/snap/<epoch>-<seq>`, where `seq` comes from the
  *    SAME per-owner counter as the records — replay drops same-epoch
  *    records with seq <= the snapshot's (subsumed), so a partially
  *    failed post-compaction delete can never resurrect stale state and
  *    the snapshot is never withdrawn (the r13 durability rule);
  *  - zombie epochs (< max snapshot epoch) and same-epoch claim-race
  *    losers (ownerToken != the settled owner) are dropped at replay,
  *    exactly as in [[EpochWal]].
  *
  * Requires list-after-put consistency (S3/GCS/Azure all provide it).
  *
  * GROUP COMMIT (`groupCommit` > 1): at object-store latency (~20-50 ms
  * per PUT) one-PUT-per-record caps event throughput at ~20-50/s. With
  * group commit, records enqueue to a bounded buffer and a single
  * flusher thread drains up to `groupCommit` records per PUT — ONE
  * multi-line value keyed by its first record's seq (the key format and
  * replay path are unchanged: [[load]] already folds every key's value
  * line-by-line, and a single PUT is atomic, so a torn batch cannot
  * exist). Ordering holds because seq assignment and enqueue are atomic
  * together and the lone flusher PUTs batches in queue order.
  * Durability window: records acked-but-unflushed for up to one flush
  * interval are lost on a crash — the same class as [[EpochWal]]'s
  * OS-buffered hflush on local filesystems, and covered by the same
  * at-least-once net (inbox redelivery + completion probes).
  * [[compact]] and [[close]] drain the buffer first, so a snapshot's
  * seq always exceeds every flushed record's and the subsumption filter
  * stays exact. */
final class KvEpochWal(kv: ConditionalKv, prefix: String, val epoch: Long,
                       ownerToken: Option[String] = None,
                       winnerTokenOf: Long => Option[String] = _ => None,
                       groupCommit: Int = 1,
                       flushIntervalMs: Long = 5L)
    extends RoutingWal {

  private def log = org.slf4j.LoggerFactory.getLogger(classOf[KvEpochWal])
  private val token = ownerToken.getOrElse("00000000")
  private val seq = new java.util.concurrent.atomic.AtomicLong(-1L)

  private def walPrefix = s"$prefix/wal/"
  private def snapPrefix = s"$prefix/snap/"

  /** (epoch, token, seq) of a wal key; (epoch, "", seq) of a snap key;
    * None for stray keys (degrade to a warning, never brick replay). */
  private def parseWal(k: String): Option[(Long, String, Long)] =
    k.stripPrefix(walPrefix).split('-') match {
      case Array(e, t, s) =>
        for (ep <- e.toLongOption; sq <- s.toLongOption) yield (ep, t, sq)
      case _ => None
    }
  private def parseSnap(k: String): Option[(Long, Long)] =
    k.stripPrefix(snapPrefix).split('-') match {
      case Array(e, s) =>
        for (ep <- e.toLongOption; sq <- s.toLongOption) yield (ep, sq)
      case _ => None
    }

  private def nextSeq(): Long = {
    if (seq.get() < 0L) seq.synchronized {
      if (seq.get() < 0L) {
        val maxExisting =
          (kv.list(walPrefix).flatMap(parseWal(_).map(_._3)) ++
            kv.list(snapPrefix).flatMap(parseSnap(_).map(_._2)))
            .foldLeft(0L)(math.max)
        seq.set(maxExisting)
      }
    }
    seq.incrementAndGet()
  }

  private def keyOf(s: Long): String = f"${walPrefix}$epoch%09d-$token-$s%09d"

  // ---- group-commit machinery (inert when groupCommit <= 1) ----
  private val pendingQ =
    new java.util.concurrent.LinkedBlockingQueue[(Long, String)]()
  private val lastEnqueued = new java.util.concurrent.atomic.AtomicLong(-1L)
  private val lastFlushed = new java.util.concurrent.atomic.AtomicLong(-1L)
  @volatile private var disposed = false
  private val enqLock = new Object
  private val flushedMonitor = new Object
  // A flusher that dies (e.g. an InterruptedException escaping poll/
  // sleep — NOT matched by NonFatal) must fail the WAL LOUDLY: without
  // this, lastFlushed never advances again and flush()/close()/compact()
  // spin forever in their wait loop while records silently pile up.
  @volatile private var flusherDown: Throwable = _
  private lazy val flusher: Thread = {
    val t = new Thread(() => {
      try flushLoop()
      catch { case e: Throwable =>
        flusherDown = e
        log.error(s"kv WAL $prefix: flusher thread died — WAL is failed; " +
          s"${pendingQ.size} record(s) will never flush", e)
        flushedMonitor.synchronized { flushedMonitor.notifyAll() }
      }
    }, s"graft-kvwal-flusher-$prefix")
    t.setDaemon(true); t.start(); t
  }
  private def failIfFlusherDown(): Unit =
    if (flusherDown != null) throw new IllegalStateException(
      s"kv WAL $prefix: flusher thread died; the WAL is failed " +
        "(re-activate to recover — replay covers flushed records)",
      flusherDown)

  private def flushLoop(): Unit = {
    val batch = new java.util.ArrayList[(Long, String)](groupCommit)
    while (!disposed || !pendingQ.isEmpty) {
      batch.clear()
      val head = pendingQ.poll(flushIntervalMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      if (head != null) {
        batch.add(head)
        pendingQ.drainTo(batch, groupCommit - 1)
        val firstSeq = batch.get(0)._1
        val lastSeq = batch.get(batch.size - 1)._1
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i < batch.size) {
          if (i > 0) sb.append('\n')
          sb.append(batch.get(i)._2); i += 1
        }
        // PUT in queue order; a failed PUT is retried in place (records
        // are never dropped and later batches never overtake this one)
        var done = false
        var attempt = 0
        while (!done) {
          try { kv.put(keyOf(firstSeq), sb.toString); done = true }
          catch { case scala.util.control.NonFatal(e) =>
            attempt += 1
            if (attempt % 10 == 1)
              log.warn(s"kv WAL $prefix: batch PUT seq $firstSeq failed " +
                s"(attempt $attempt): ${e.getMessage}; retrying")
            Thread.sleep(math.min(1000L, 10L << math.min(attempt, 6)))
          }
        }
        lastFlushed.set(lastSeq)
        flushedMonitor.synchronized { flushedMonitor.notifyAll() }
      }
    }
  }

  /** Block until every record enqueued so far has been PUT. Throws
    * (instead of waiting forever) when the flusher thread has died. */
  override def flush(): Unit = if (groupCommit > 1) {
    val target = lastEnqueued.get()
    flushedMonitor.synchronized {
      while (lastFlushed.get() < target) {
        failIfFlusherDown()
        flushedMonitor.wait(50L)
      }
    }
  }

  private def record(kind: String, payload: String): Unit = {
    val line = s"$kind\t${WalCodec.esc(payload)}"
    if (groupCommit <= 1) kv.put(keyOf(nextSeq()), line)
    else {
      flusher // ensure started
      failIfFlusherDown() // a dead flusher would strand this record
      enqLock.synchronized {
        val s = nextSeq()
        pendingQ.put((s, line))
        lastEnqueued.set(s)
      }
    }
  }

  def appendEvent(p: String, blocked: Boolean): Unit =
    record(if (blocked) "eb" else "e", p)
  def appendCompleted(p: String): Unit = record("c", p)
  def close(): Unit = flush()
  override def dispose(): Unit = { flush(); disposed = true }

  def load(): Option[(List[(String, Boolean)], List[String])] = {
    val snaps = kv.list(snapPrefix).flatMap(k => parseSnap(k).map(k -> _))
    val (snapEpoch, snapSeq, snapKey) =
      if (snaps.isEmpty) (-1L, -1L, None)
      else {
        val (k, (e, s)) = snaps.maxBy { case (_, (e, s)) => (e, s) }
        (e, s, Some(k))
      }
    val rawKeys = kv.list(walPrefix)
    val entries = rawKeys.flatMap(k => parseWal(k).map(k -> _))
    val junk = rawKeys.filter(parseWal(_).isEmpty)
    if (junk.nonEmpty)
      log.warn(s"kv WAL $prefix: ignoring ${junk.length} unparseable " +
        s"key(s): ${junk.sorted.mkString(", ")}")
    val winnerOf = scala.collection.mutable.Map.empty[Long, Option[String]]
    val live = entries.filter { case (_, (e, t, s)) =>
      e >= snapEpoch && !(e == snapEpoch && s <= snapSeq) &&
        (winnerOf.getOrElseUpdate(e, winnerTokenOf(e)) match {
          case Some(w) => t == w || t == "00000000"
          case None => true
        })
    }
    val events = scala.collection.mutable.ListBuffer.empty[(String, Boolean)]
    val completed = scala.collection.mutable.ListBuffer.empty[String]
    snapKey.flatMap(kv.get).foreach(
      _.split('\n').foreach(WalCodec.foldLine(_, events, completed)))
    live.sortBy { case (_, (e, _, s)) => (e, s) }
      .foreach { case (k, _) => kv.get(k).foreach(
        _.split('\n').foreach(WalCodec.foldLine(_, events, completed))) }
    if (snapKey.isEmpty && live.isEmpty) None
    else Some((events.toList, completed.toList))
  }

  def compact(events: Seq[(String, Boolean)], completed: Seq[String]): Unit = {
    // drain the group-commit buffer first: the snapshot's seq must
    // exceed every flushed record's so replay subsumption stays exact
    flush()
    val newer = kv.list(snapPrefix).flatMap(parseSnap).exists(_._1 > epoch)
    if (newer) {
      log.warn(s"kv WAL $prefix: compaction at epoch $epoch aborted — a " +
        "higher-epoch snapshot exists (this owner is fenced out)")
      return
    }
    val snapSeq = nextSeq()
    val body = {
      val buf = new java.io.ByteArrayOutputStream()
      WalCodec.writeState(buf, events, completed)
      buf.toString("UTF-8")
    }
    kv.put(f"$snapPrefix$epoch%09d-$snapSeq%09d", body)
    val oldWal = kv.list(walPrefix).filter(parseWal(_).exists {
      case (e, _, s) => e < epoch || (e == epoch && s < snapSeq) })
    val oldSnap = kv.list(snapPrefix).filter(parseSnap(_).exists {
      case (e, s) => e < epoch || (e == epoch && s < snapSeq) })
    (oldWal ++ oldSnap).foreach { k =>
      try kv.delete(k)
      catch { case scala.util.control.NonFatal(ex) =>
        // subsumed at replay (epoch/seq filters); retried next compaction
        log.warn(s"kv WAL $prefix: could not delete $k (${ex.getMessage}); " +
          "snapshot kept, entry is replay-subsumed, deletion retried")
      }
    }
  }
}

/** One driver instance in a multi-driver deployment: owns the shards
  * whose leases it holds, folds their WALs and inboxes, and routes
  * cross-shard feed-back through the consuming shard's inbox.
  *
  * Route definitions are registered as FACTORIES ([[add]]) on every
  * driver — [[Route]] carries runtime state, so each owned shard gets
  * fresh instances; one canonical instance per route serves stateless
  * decode/accept checks for inbox routing. */
final class ShardedDriver(root: String, val driverId: String,
                          val numShards: Int, probe: PathProbe,
                          conf: Configuration,
                          leaseTimeoutMillis: Long = 10000L,
                          clock: () => Long = () => System.currentTimeMillis(),
                          leaseStoreFor: Option[Int => LeaseStore] = None,
                          /** All shared state (leases AND WAL AND inbox)
                            * through one [[ConditionalKv]] — the
                            * object-store deployment, where Hadoop rename/
                            * create-if-absent are not atomic. */
                          kvStore: Option[ConditionalKv] = None,
                          /** Records per WAL PUT on the KV backend (see
                            * [[KvEpochWal]] group commit); 1 = one
                            * synchronous PUT per record. */
                          kvGroupCommit: Int = 1,
                          /** Takeover-replay re-offer predicate for
                            * complete-output contexts (see
                            * [[RoutingTable.recover]]) — the app layer
                            * passes its freshness stamping. */
                          staleOutput: ExecutionContext => Boolean =
                            _ => false) {

  private case class RouteDef(id: String, mk: () => Route, canonical: Route)
  private case class Owned(shard: Int, lease: ShardLease, wal: RoutingWal,
                           table: RoutingTable)

  private var defs: List[RouteDef] = Nil
  private var owned: Map[Int, Owned] = Map.empty
  private val leases = scala.collection.mutable.Map.empty[Int, ShardLease]
  // Leases renewable WITHOUT the driver monitor and from the instant of
  // claim: tryAcquireShard holds the monitor through a potentially long
  // WAL replay, so (a) the heartbeat thread reads THIS registry instead
  // of snapshotting `owned` under the monitor (which would block renewals
  // behind the replay — the exact starvation the decoupled heartbeat
  // exists to prevent), and (b) the just-claimed lease registers BEFORE
  // the replay starts, so a replay longer than the lease timeout keeps
  // heartbeating instead of being stolen mid-takeover.
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[Int, ShardLease]()
  // Shard-dispatch index (the RoutingTable.decodersByRoot convention
  // lifted to shards): source root -> (compiled decoder, shard) for every
  // non-reference route input. acceptingShards probes only the event
  // path's ancestor prefixes — O(path depth) — instead of scanning
  // every def's signals per event under the driver monitor.
  private var decodersByRootShard =
    Map.empty[String, List[(graft.signal.EventDecoder, Int)]]

  def shardOf(routeId: String): Int = Sharding.shardOf(routeId, numShards)

  /** Register a route definition (every driver registers ALL routes). */
  def add(mk: () => Route): Unit = synchronized {
    val c = mk()
    require(!defs.exists(_.id == c.id), s"route '${c.id}' already added")
    defs :+= RouteDef(c.id, mk, c)
    val sh = shardOf(c.id)
    c.linkNode.signals.filterNot(_.isReference).foreach { s =>
      val root = s.source.rootPath.stripSuffix("/")
      decodersByRootShard = decodersByRootShard.updated(root,
        decodersByRootShard.getOrElse(root, Nil) :+ (new graft.signal.EventDecoder(s) -> sh))
    }
  }

  def ownedShards: Set[Int] = owned.keySet

  private def shardDir(shard: Int) = s"$root/shards/shard-$shard"

  private def leaseFor(shard: Int): ShardLease =
    leases.getOrElseUpdate(shard, (leaseStoreFor, kvStore) match {
      case (Some(mk), _) =>
        new ShardLease(shard, driverId, mk(shard), leaseTimeoutMillis, clock)
      case (None, Some(kv)) =>
        new ShardLease(shard, driverId,
          new ConditionalLeaseStore(kv, s"$root/leases/shard-$shard"),
          leaseTimeoutMillis, clock)
      case (None, None) =>
        new ShardLease(root, shard, driverId, conf, leaseTimeoutMillis, clock)
    })

  private def walFor(shard: Int, epoch: Long, lease: ShardLease): RoutingWal =
    kvStore match {
      case Some(kv) =>
        new KvEpochWal(kv, s"${shardDir(shard)}/wal", epoch,
          ownerToken = Some(Sharding.ownerToken(driverId)),
          winnerTokenOf = k => lease.ownerOf(k).map(Sharding.ownerToken),
          groupCommit = kvGroupCommit)
      case None =>
        new EpochWal(s"${shardDir(shard)}/wal", conf, epoch,
          ownerToken = Some(Sharding.ownerToken(driverId)),
          winnerTokenOf = k => lease.ownerOf(k).map(Sharding.ownerToken))
    }

  /** Try to take ownership of `shard`: acquire (or take over) the lease,
    * recover the shard WAL into fresh route instances
    * ([[RoutingTable.recover]]), compact at the new epoch (the
    * fencing barrier), then drain the inbox backlog. Returns the
    * recovered mid-flight contexts plus any contexts the inbox backlog
    * readied; None when the lease is held by a live owner or lost to a
    * race. */
  def tryAcquireShard(shard: Int): Option[List[ExecutionContext]] = synchronized {
    if (owned.contains(shard)) return Some(Nil)
    val shardDefs = defs.filter(d => shardOf(d.id) == shard)
    val lease = leaseFor(shard)
    lease.tryAcquire().map { epoch =>
      // register for renewal IMMEDIATELY: the replay below can run
      // longer than the lease timeout, and the single heartbeat claim()
      // wrote would otherwise expire mid-takeover — a peer would claim
      // epoch+1 and replay concurrently (dual execution)
      heldLeases.put(shard, lease)
      try {
        val wal = walFor(shard, epoch, lease)
        val table = new RoutingTable(probe, Some(wal))
        shardDefs.foreach(d => table.add(d.mk()))
        val recovered = // replay + compact(epoch) inside
          table.recover(staleOutput)
        owned += shard -> Owned(shard, lease, wal, table)
        recovered ++ drainInbox(shard)
      } catch {
        case t: Throwable =>
          // claimed but unusable (replay/compaction failed): stop
          // renewing and tombstone so a successor claims immediately
          // instead of waiting out a timeout on a heartbeating ghost
          heldLeases.remove(shard)
          try lease.release() catch { case _: Throwable => () }
          throw t
      }
    }
  }

  /** Heartbeat every held lease — call on the driver's poll cadence.
    * Renewal touches NO driver monitor at all (the registry is a
    * concurrent map maintained by claim/drop/release): the decoupled
    * heartbeat exists so long work — a takeover WAL replay in
    * tryAcquireShard, inbox I/O — cannot starve renewals past the
    * lease timeout, and tryAcquireShard holds the monitor for the
    * whole replay, so even a monitor-held SNAPSHOT here would block.
    * ShardLease is safe to renew concurrently (volatile held; renew
    * re-verifies the settled owner), and renewing a just-dropped lease
    * only converges it. */
  def renewLeases(): Unit =
    heldLeases.values.forEach(_.renew())

  /** Shards whose lease this driver LOST (fenced by a successor) — the
    * driver should drop them and stop executing their work. */
  def fencedShards(): Set[Int] = synchronized {
    owned.values.filterNot(_.lease.isCurrent).map(_.shard).toSet
  }

  /** Drop a shard (fenced or draining): close its WAL stream, forget its
    * runtime state, stop renewing its lease. The shared store keeps the
    * WAL for the successor. */
  def dropShard(shard: Int): Unit = synchronized {
    heldLeases.remove(shard)
    owned.get(shard).foreach { o => o.wal.dispose(); owned -= shard }
  }

  /** Owned shards whose lease this driver still BELIEVES held (volatile
    * heldEpoch, maintained by the heartbeat thread's renew/abdicate):
    * a shard fenced by a successor must be treated as UNOWNED the
    * moment the renewal discovers it — folding its events into the
    * zombie table would ACK them into an old-epoch WAL the successor's
    * snapshot fence discards (acked-but-void). The residual blind
    * window is one heartbeat period, inherent to lease-based
    * ownership; the epoch fence guarantees the zombie's WRITES never
    * surface either way. */
  private def liveOwnedShards: Set[Int] =
    owned.collect { case (s, o) if o.lease.heldEpoch > 0 => s }.toSet

  /** Ingest a raw path event: fold into every OWNED shard whose routes
    * accept it; forward to the inbox of every UNOWNED shard with an
    * accepting route (at-least-once). Returns ready contexts from the
    * owned folds. */
  def receivePath(path: String, isBlocked: Boolean = false): List[ExecutionContext] =
    synchronized {
      val accepting = acceptingShards(path)
      val live = liveOwnedShards
      val local = accepting.intersect(live).toList
        .flatMap(s => owned(s).table.receivePath(path, isBlocked))
      accepting.diff(live).foreach(s =>
        sendToInbox(s, List(s"${if (isBlocked) "eb" else "e"}\t${WalCodec.esc(path)}")))
      local
    }

  /** Completion feed-back for an output path `p`: mark complete + offer
    * as an event on owned shards; append ("c" + "e") to the inbox of
    * every other shard whose routes consume it. */
  def complete(path: String): List[ExecutionContext] = synchronized {
    val accepting = acceptingShards(path)
    val live = liveOwnedShards
    val local = accepting.intersect(live).toList.flatMap { s =>
      owned(s).table.markComplete(Seq(path))
      owned(s).table.receivePath(path)
    }
    // the producing shard settles the context that wrote `path`
    live.diff(accepting).foreach { s =>
      val t = owned(s).table
      if (t.awaitsCompletion(path)) t.markComplete(Seq(path))
    }
    accepting.diff(live).foreach(s =>
      sendToInbox(s, List(s"c\t${WalCodec.esc(path)}",
        s"e\t${WalCodec.esc(path)}")))
    local
  }

  /** Forward a path event to the inbox of every UNOWNED accepting shard
    * WITHOUT folding locally — for events this driver already folded in
    * richer (signal) form, where a receivePath would double-deliver to
    * the owned tables. */
  def forwardPath(path: String): Unit = synchronized {
    acceptingShards(path).diff(liveOwnedShards).foreach(s =>
      sendToInbox(s, List(s"e\t${WalCodec.esc(path)}")))
  }

  /** Fold pending inbox messages of every (live-)owned shard — a fenced
    * shard's inbox belongs to its successor. */
  def pollInboxes(): List[ExecutionContext] = synchronized {
    liveOwnedShards.toList.flatMap(drainInbox)
  }

  /** Pending nodes of a shard's route (test/ops introspection). */
  def tableOf(shard: Int): Option[RoutingTable] = owned.get(shard).map(_.table)

  /** Tables of shards whose lease is still BELIEVED held — the runtime
    * view callers must fold events into (a fenced shard's table is a
    * zombie whose WAL the successor discards; see [[liveOwnedShards]]).
    * `tableOf`/`ownedShards` remain the raw introspection views. */
  def liveTables: List[RoutingTable] = synchronized {
    liveOwnedShards.toList.sorted.flatMap(s => owned.get(s).map(_.table))
  }

  def close(): Unit = synchronized {
    owned.values.foreach(_.wal.dispose())
  }

  /** Release every lease (clean shutdown — successors claim immediately). */
  def releaseAll(): Unit = synchronized {
    heldLeases.clear() // stop renewals before tombstoning
    owned.values.foreach(_.lease.release())
    owned.values.foreach(_.wal.dispose())
    owned = Map.empty
  }

  // ---- internals --------------------------------------------------------

  /** Shards containing at least one route that accepts `path` — decoded
    * against the canonical (stateless) definition instances, through the
    * ancestor-prefix index: only signals rooted at one of the event
    * path's prefixes are probed (O(path depth) lookups — the per-event
    * linear scan over every def's signals re-created, under the driver
    * monitor, the dispatch cost the RoutingTable index eliminated). */
  private def acceptingShards(path: String): Set[Int] = {
    val p = new Path(path)
    // getParent.toString keeps scheme/authority (same fix as
    // RoutingTable.receivePath — toUri.getPath stripped them)
    val normalized =
      if (p.getName.startsWith("part-")) p.getParent.toString else path
    RoutingPaths.ancestorPrefixes(normalized)
      .flatMap(r => decodersByRootShard.getOrElse(r, Nil))
      .collect { case (d, sh) if d.values(normalized).exists(d.admits) => sh }
      .toSet
  }

  private def inboxDir(shard: Int) = new Path(s"${shardDir(shard)}/inbox")

  private lazy val fs = WalCodec.uncachedFs(new Path(root), conf)

  /** Tmp-write + atomic rename so a reader never sees a torn message —
    * or, on a [[ConditionalKv]] backend, ONE value put (atomic by the
    * store's contract, so no rename is needed at all). */
  private def sendToInbox(shard: Int, lines: List[String]): Unit = {
    val name = f"msg-${System.currentTimeMillis()}%013d-${
      java.util.UUID.randomUUID().toString.take(8)}"
    kvStore match {
      case Some(kv) =>
        kv.put(s"${shardDir(shard)}/inbox/$name", lines.mkString("\n"))
        return
      case None => ()
    }
    val dir = inboxDir(shard)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
    finally out.close()
    // Hadoop rename signals failure by RETURNING FALSE — ignoring it
    // silently drops a cross-shard message and breaks the at-least-once
    // feed-back contract. Unique names make dest-exists collisions
    // practically impossible, so a false here is a real store fault:
    // retry once under a fresh name, then fail loudly to the caller.
    // DELIVERY CONTRACT: receivePath/complete returning success means
    // the event is folded into every live-owned accepting shard's WAL
    // AND published to every other accepting shard's inbox. A crash or
    // throw MID-CALL leaves partial effects and NO ack — the SOURCE's
    // retry restores at-least-once (duplicate folds are idempotent);
    // WAL replay rebuilds local state only and never re-forwards.
    if (!fs.rename(tmp, new Path(dir, name))) {
      val name2 = s"$name-r${java.util.UUID.randomUUID().toString.take(4)}"
      if (!fs.rename(tmp, new Path(dir, name2)))
        throw new java.io.IOException(
          s"inbox publish failed twice for shard $shard: rename of $tmp")
    }
  }

  /** Fold + delete each inbox message of an owned shard, oldest first.
    * Delete happens AFTER the fold (at-least-once: a crash in between
    * re-folds on the next owner — idempotent per the replay contract). */
  private def drainInbox(shard: Int): List[ExecutionContext] = {
    val log = org.slf4j.LoggerFactory.getLogger(classOf[ShardedDriver])
    kvStore match {
      case Some(kv) =>
        val table0 = owned(shard).table
        val pre = s"${shardDir(shard)}/inbox/"
        // PER-MESSAGE fault isolation: one failing fold or delete must
        // not abort the drain (the rest of the backlog would starve
        // behind a poison message) or escape into the poll cycle. An
        // undeleted folded message refolds next poll — idempotent.
        return kv.list(pre).sorted.toList.flatMap { k =>
          try {
            val events = scala.collection.mutable.ListBuffer.empty[(String, Boolean)]
            val completed = scala.collection.mutable.ListBuffer.empty[String]
            kv.get(k).foreach(
              _.split('\n').foreach(WalCodec.foldLine(_, events, completed)))
            table0.markComplete(completed.toList)
            val ctxs = events.toList.flatMap { case (p, b) =>
              table0.receivePath(p, b) }
            try kv.delete(k) // AFTER the fold: at-least-once, refold idempotent
            catch { case scala.util.control.NonFatal(e) =>
              log.warn(s"inbox delete failed for $k — will refold: ${e.getMessage}") }
            ctxs
          } catch { case scala.util.control.NonFatal(e) =>
            log.warn(s"inbox message $k failed this drain (kept): ${e.getMessage}")
            Nil
          }
        }
      case None => ()
    }
    val dir = inboxDir(shard)
    if (!fs.exists(dir)) return Nil
    val table = owned(shard).table
    val all = fs.listStatus(dir)
    // sweep tmp litter from senders that died between create and rename
    // (the sender crashed mid-publish, so its caller got NO ack — the
    // source's retry is what redelivers, per the sendToInbox contract).
    // The age floor keeps live in-flight publishes untouched. WALL clock
    // here, not the injectable logical `clock` — mtime is stamped by the
    // storage server's clock, and comparing a logical test clock (or a
    // badly skewed driver clock) against it could sweep a LIVE publish;
    // modest NTP-level skew is absorbed by the 2x-timeout floor.
    all.filter(st => st.getPath.getName.startsWith(".msg-") &&
        st.getPath.getName.endsWith(".tmp") &&
        System.currentTimeMillis() - st.getModificationTime >
          2 * leaseTimeoutMillis)
      .foreach(st => fs.delete(st.getPath, false))
    val msgs = all.map(_.getPath)
      .filter(_.getName.startsWith("msg-")).sortBy(_.getName)
    msgs.toList.flatMap { m =>
      try {
        val events = scala.collection.mutable.ListBuffer.empty[(String, Boolean)]
        val completed = scala.collection.mutable.ListBuffer.empty[String]
        WalCodec.foldFile(fs, m, events, completed)
        table.markComplete(completed.toList)
        val ctxs = events.toList.flatMap { case (p, b) => table.receivePath(p, b) }
        // a false return re-delivers forever with no evidence — log it
        if (!fs.delete(m, false) && fs.exists(m))
          log.warn(s"inbox delete returned false for $m — will refold")
        ctxs
      } catch { case scala.util.control.NonFatal(e) =>
        log.warn(s"inbox message $m failed this drain (kept): ${e.getMessage}")
        Nil
      }
    }
  }
}
