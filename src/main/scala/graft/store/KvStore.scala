package graft.store

import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import graft.ranges.{Bound, BytesUtil, ScanRange}

/** Embedded ordered-KV storage engine standing in for the HBase cluster
  * (SURVEY.md §7.1 step 4). Data semantics mirror HBase's model: a table is a
  * sorted map `rowkey → (family → qualifier → (timestamp → value))`, sharded
  * into contiguous key-range regions; each region tracks a (synthetic)
  * locality host.
  *
  * In local[N] every task shares this JVM, so the singleton registry plays
  * the role of the remote region servers; the connector above it is written
  * as if the store were remote (partitions carry only table name + ranges,
  * readers re-resolve the handle — reference HBaseConnectionCache semantics).
  */
object KvStore {

  private val tables = TrieMap[String, KvTable]()

  /** Opt-in durability (OFF by default — see [[Wal]]): set with
    * `-Dgraft.kv.wal=/dir` or [[enableWal]]. `None` costs one volatile read
    * per mutation. Suspended (forced `None`) while [[replayWal]] re-applies
    * records so replay never re-logs itself. */
  @volatile private var walRef: Option[Wal] = None
  @volatile private var replaying = false
  /** Checkpoint counter pairing each snapshot with its rotated log — see
    * [[Snapshot]]'s crash-safety contract. Advanced by [[checkpointWal]],
    * restored from the snapshot on [[replayWal]]. */
  @volatile private var walGeneration: Long = 0L
  sys.props.get("graft.kv.wal").foreach { d =>
    val gc = sys.props.get("graft.kv.walGroupCommit")
      .map(v => v.toIntOption.getOrElse(
        sys.error(s"graft.kv.walGroupCommit must be an int, got '$v'")))
      .getOrElse(1)
    enableWal(java.nio.file.Paths.get(d), gc)
  }

  private[store] def wal: Option[Wal] = if (replaying) None else walRef

  /** Rotation fence: row mutations (WAL append + table-state apply) hold
    * the READ side, [[checkpointWal]]'s snapshot+rotation holds the WRITE
    * side — so a mutation can never log to a file the checkpoint is about
    * to truncate without also being visible to the snapshot image. This is
    * what makes automatic rotation ([[maybeAutoCheckpoint]]) safe under
    * concurrent writers: before it, checkpointing required the caller to
    * quiesce every writer by hand. Registry DDL (create/drop/rename/clear)
    * shares the KvStore monitor with [[checkpointWal]] instead, which
    * already serializes them. WRITE-lock acquisition only ever happens
    * while holding the monitor, so monitor-then-readLock (DDL appending
    * its own record) can never deadlock against monitor-then-writeLock. */
  private val rotationLock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Run one row mutation atomically w.r.t. a concurrent checkpoint: the
    * WAL record and the table-state change land on the same side of the
    * snapshot+rotation. No-WAL stores skip the lock — the fence only
    * matters when there is a log to rotate. Reentrant (index hooks mutate
    * derived tables inside the main table's mutation).
    *
    * The handle `f` appends to is resolved ONCE, and the resolution point
    * matters twice over:
    *
    *  - it must be read UNDER the read lock, not before: rotation
    *    ([[checkpointWal]]) closes the old log, truncates the file, and
    *    swaps in a fresh handle while holding the WRITE side, so a
    *    pre-lock capture could block on the fence and then append to a
    *    closed stream over an unlinked inode — an acknowledged write
    *    silently lost (this exact failure showed as ~25% row loss in the
    *    concurrent-rotation spec when the capture was moved before the
    *    lock);
    *  - it must be passed to `f`, not re-read inside it: a mutation
    *    racing [[enableWal]] could otherwise decide "no WAL, skip the
    *    fence" and then append to the newly-installed log OUTSIDE the
    *    fence, letting a concurrent auto-checkpoint truncate an
    *    acknowledged write (the round-9 advice TOCTOU).
    *
    * The no-WAL fast path keeps its single volatile read; a mutation that
    * sees None is linearized before any racing [[enableWal]] and simply
    * is not logged. [[disableWal]] still requires quiesced writers (it
    * swaps the handle without the write lock). */
  private[store] def logged[A](f: Option[Wal] => A): A = {
    if (wal.isEmpty) f(None)
    else {
      val l = rotationLock.readLock(); l.lock()
      try f(wal) finally l.unlock()
    }
  }

  /** Auto-checkpoint thresholds (0 disables a gate; both 0 disables the
    * policy): rotate when the live log reaches this many records / bytes,
    * so a CDC-rate writer bounds its own recovery time (snapshot + a
    * threshold-sized tail) with no application code. Overridable via
    * `-Dgraft.kv.walAutoCheckpointRecords` / `...Bytes` or
    * [[setWalAutoCheckpoint]]. */
  val DefaultAutoCheckpointRecords: Long = 1000000L
  val DefaultAutoCheckpointBytes: Long = 256L << 20
  @volatile private var autoCkptRecords: Long =
    sys.props.get("graft.kv.walAutoCheckpointRecords").map(_.toLong)
      .getOrElse(DefaultAutoCheckpointRecords)
  @volatile private var autoCkptBytes: Long =
    sys.props.get("graft.kv.walAutoCheckpointBytes").map(_.toLong)
      .getOrElse(DefaultAutoCheckpointBytes)

  def setWalAutoCheckpoint(records: Long, bytes: Long): Unit = {
    require(records >= 0 && bytes >= 0, "auto-checkpoint thresholds must be >= 0")
    autoCkptRecords = records
    autoCkptBytes = bytes
  }

  /** Rotate if the live log crossed an auto-checkpoint gate. Mutation
    * paths call this AFTER releasing the rotation read lock (taking the
    * write lock while holding the read side would self-deadlock); the
    * double-check under the monitor collapses the thundering herd of
    * writers that crossed the threshold together into one rotation. */
  private[store] def maybeAutoCheckpoint(): Unit = {
    if (replaying) return
    // a nested mutation (index hook firing inside the main table's fenced
    // put/delete) still holds this thread's READ lock — taking the write
    // lock here would be a read→write upgrade, i.e. self-deadlock. Skip;
    // the OUTERMOST mutation re-checks after releasing the fence.
    if (rotationLock.getReadHoldCount > 0) return
    def due(w: Wal): Boolean = {
      val recGate = autoCkptRecords; val byteGate = autoCkptBytes
      (recGate > 0 && w.recordsLogged >= recGate) ||
        (byteGate > 0 && w.bytesLogged >= byteGate)
    }
    if (walRef.exists(due)) synchronized {
      if (walRef.exists(due)) checkpointWal()
    }
  }

  /** `groupCommitRecords > 1` opts into batched WAL flushes (see
    * [[Wal]] group commit); the default 1 keeps per-record durability. */
  def enableWal(dir: java.nio.file.Path, groupCommitRecords: Int = 1): Unit = synchronized {
    require(groupCommitRecords >= 1,
      s"walGroupCommit must be >= 1, got $groupCommitRecords")
    walRef.foreach(_.close())
    val w = new Wal(dir, groupCommitRecords)
    // a NEW/empty log under an existing snapshot must lead with the
    // snapshot's generation marker, or the next replay would read it as
    // generation 0 and discard every record as stale (the crash window
    // after checkpoint truncation, before the marker is durable)
    val snapGen = Snapshot.generationOf(dir)
    if (snapGen > 0 && w.isEmptyLog) { w.logGeneration(snapGen); w.sync() }
    walGeneration = math.max(walGeneration, snapGen)
    walRef = Some(w)
  }

  /** Flush any group-commit-buffered WAL tail — write-task commit and
    * streaming epoch boundaries call this so an acked batch is durable
    * even when per-record flushing is off. */
  def walSync(): Unit = walRef.foreach(_.sync())

  def disableWal(): Unit = synchronized {
    walRef.foreach(_.close())
    walRef = None
  }

  /** SNAPSHOT + LOG ROTATION ([[Snapshot]]): image the whole store into
    * `dir/graft-wal.snapshot`, then truncate the log — restart cost becomes
    * snapshot + tail instead of full history, and the log stops growing
    * with CDC rate. Safe under concurrent row mutators: the rotation WRITE
    * lock excludes every [[logged]] mutation for the image+rotate window,
    * so a racing put/delete lands wholly before the image (in it) or
    * wholly after (in the fresh log) — never in the truncated log's past.
    * Fires automatically at the [[setWalAutoCheckpoint]] thresholds via
    * [[maybeAutoCheckpoint]]; callable directly for an explicit rotation
    * point. Crash-safe per [[Snapshot]]'s tmp + fsync + atomic-rename
    * ordering. */
  /** WAL rotation observability: how often the log rotated and how long
    * the write-locked image+rotate window held writers out — the two
    * numbers a CDC operator tuning [[setWalAutoCheckpoint]] for recovery
    * time actually needs (rotations too rare ⇒ long replay tails;
    * rotation latency too high ⇒ per-wave write stalls). Monotonic since
    * JVM start, like [[rowsServed]]; batch writes additionally surface
    * the per-write delta in the SQL UI as driver metrics
    * ([[graft.datasource.GraftWriteBuilder]]). */
  private val rotationCount = new java.util.concurrent.atomic.LongAdder()
  private val rotationNanosTotal = new java.util.concurrent.atomic.LongAdder()
  def walRotations: Long = rotationCount.sum()
  def walRotationNanos: Long = rotationNanosTotal.sum()

  def checkpointWal(): Unit = synchronized {
    val w = walRef.getOrElse(
      throw new IllegalStateException("checkpointWal requires an enabled WAL"))
    val wl = rotationLock.writeLock(); wl.lock()
    // timer starts AFTER lock acquisition so walRotationNanos measures only
    // the write-locked image+rotate window it documents, not time spent
    // waiting for in-flight writers to drain the read side
    val t0 = System.nanoTime()
    try {
      w.sync()
      walGeneration += 1
      Snapshot.write(w.dir, tables.values.toSeq.sortBy(_.name), walGeneration)
      // the snapshot now carries everything the log recorded — rotate to an
      // empty log stamped with the snapshot's generation (close, delete,
      // reopen, marker first); replay pairs them by that number
      w.close()
      java.nio.file.Files.deleteIfExists(w.dir.resolve(Wal.FileName))
      val fresh = new Wal(w.dir, w.groupCommitRecords)
      fresh.logGeneration(walGeneration)
      fresh.sync() // the marker must be durable before any record follows it
      walRef = Some(fresh)
      rotationCount.increment()
      rotationNanosTotal.add(System.nanoTime() - t0)
    } finally wl.unlock()
  }

  /** Rebuild store state from `dir` (crash/restart recovery): load the
    * latest [[Snapshot]] if one exists, then re-apply the log tail. Clears
    * in-memory tables first so the result is exactly snapshot + logged
    * tail — including per-region `maxStamp` marks and admission
    * histograms, so streaming-source checkpoints stay valid across the
    * restart. */
  def replayWal(dir: java.nio.file.Path): Unit = synchronized {
    tables.clear()
    replaying = true
    var staleLogSkipped = false
    var snapGen = 0L
    try {
      snapGen = Snapshot.load(dir, (name, t) => { tables.put(name, t); () })
      walGeneration = snapGen
      Wal.replay(dir,
      applyCreate = (name, splits, mv, byCf) =>
        createTable(name, splits, mv, dropExisting = true, byCf),
      applyPut = (name, key, cells) => tables.get(name).foreach(_.put(key, cells)),
      applyDeleteKey = (name, key, stamp) => tables.get(name).foreach(_.deleteKey(key, stamp)),
      applyDrop = name => { tables.remove(name); () },
      applyClear = () => tables.clear(),
      applyRename = (oldName, newName) => tables.remove(oldName).foreach { t =>
        t.setName(newName); tables.put(newName, t)
      },
      // a log older than the snapshot (crash between snapshot rename and
      // log truncate) is fully contained in the image — skip it; equal
      // generations are the matching rotated tail and apply normally
      applyGeneration = gen => {
        if (gen < snapGen) { staleLogSkipped = true; false } else true
      })
    } finally replaying = false
    // a SKIPPED stale log must not survive: appends would land behind its
    // stale generation marker and the NEXT replay would discard them with
    // it — finish the interrupted rotation now (fresh log, current
    // marker). If a live WAL is open on this dir its stream points at the
    // unlinked inode after the delete, so it is swapped for one appending
    // to the fresh file.
    if (staleLogSkipped) {
      val live = walRef.filter(_.dir == dir)
      live.foreach(_.close())
      java.nio.file.Files.deleteIfExists(dir.resolve(Wal.FileName))
      val w = new Wal(dir, live.map(_.groupCommitRecords).getOrElse(1))
      w.logGeneration(snapGen)
      w.sync()
      if (live.isDefined) walRef = Some(w) else w.close()
    }
  }

  def createTable(name: String, splits: Seq[Array[Byte]], maxVersions: Int = 1,
      dropExisting: Boolean = false,
      maxVersionsByCf: Map[String, Int] = Map.empty): KvTable = synchronized {
    if (dropExisting && tables.remove(name).isDefined) wal.foreach(_.logDrop(name))
    tables.getOrElseUpdate(name, {
      wal.foreach(_.logCreate(name, splits, maxVersions, maxVersionsByCf))
      new KvTable(name, splits.toIndexedSeq, maxVersions, maxVersionsByCf)
    })
  }

  def table(name: String): KvTable =
    tables.getOrElse(name, throw new NoSuchElementException(s"KV table $name does not exist"))

  /** Rename a table: a registry re-key — regions, cells, counters, and
    * streaming offsets all ride along untouched (the store analogue of an
    * HBase snapshot-clone-drop done as pure metadata here). WAL-logged, so
    * replay re-applies the move. Like HBase's disable-before-rename, the
    * caller must quiesce writers first: a put racing the rename can log
    * under the old name AFTER the rename record, and replay would drop that
    * mutation (its table name no longer resolves). DDL through the SQL
    * catalog satisfies this by construction — ALTER TABLE is not run
    * concurrently with INSERTs into the same table. */
  def rename(oldName: String, newName: String): Unit = synchronized {
    val t = tables.getOrElse(oldName,
      throw new NoSuchElementException(s"KV table $oldName does not exist"))
    require(!tables.contains(newName), s"KV table $newName already exists")
    wal.foreach(_.logRename(oldName, newName))
    tables.remove(oldName)
    t.setName(newName)
    tables.put(newName, t)
  }

  def exists(name: String): Boolean = tables.contains(name)

  /** Open scan leases across every registered table — the leak counter a
    * resource-management test asserts returns to zero after a query (the
    * in-process analogue of the reference's RDD-release of table/scanner
    * handles at task end). */
  def openScanCount: Long = tables.values.map(_.openScanCount).sum

  /** Rows the store has served to scans and point gets since JVM start —
    * the observable the streaming scale-proxy specs assert against: a
    * batch-proportional CDC protocol's per-drain delta must grow with the
    * WAVE, not with the persisted index/mirror size. A LongAdder tick per
    * served row; negligible next to the skip-list walk it accounts. */
  private val servedRows = new java.util.concurrent.atomic.LongAdder()
  def rowsServed: Long = servedRows.sum()
  private[store] def tickServed(): Unit = servedRows.increment()
  private[store] def addServed(n: Long): Unit = servedRows.add(n)

  /** Newest value among one column's versions (newest-first) inside `time`,
    * or null when it has none there — THE visibility rule of a value
    * predicate and of a [[KvTable.walk]]. */
  private[store] def newestIn(versions: ConcurrentSkipListMap[java.lang.Long, Array[Byte]],
      time: Option[TimeRange]): Array[Byte] = {
    if (versions == null) return null
    time match {
      case None =>
        val e = versions.firstEntry()
        if (e == null) null else e.getValue
      case Some(t) =>
        val it = versions.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val ts = e.getKey.longValue()
          if (ts >= t.minStamp && ts < t.maxStamp) return e.getValue
        }
        null
    }
  }

  def drop(name: String): Unit = synchronized {
    // same monitor as every other registry mutator — a drop racing a
    // checkpoint must not land its DropRec in a log the checkpoint is
    // about to truncate (the table would resurrect from the snapshot)
    if (tables.contains(name)) {
      wal.foreach(_.logDrop(name)) // WAL before state (redo rule)
      tables.remove(name); ()
    }
  }

  def dropAll(): Unit = synchronized {
    wal.foreach(_.logClear()) // WAL before state (redo rule)
    tables.clear()
  }
}

/** Column restriction for a scan (reference `restrictive` modes,
  * HBaseTableScan.scala:406-416). */
sealed trait ColumnSet extends Serializable
object ColumnSet {
  /** return every cell (needed for dynamic/schema-on-read columns) */
  case object All extends ColumnSet
  final case class Families(cfs: Set[String]) extends ColumnSet
  final case class Columns(cols: Set[(String, String)]) extends ColumnSet
  /** existence only: emit a cell-less row iff ANY cell falls inside the
    * scan's time range, stopping at the first hit — the key-only /
    * count(*) fast path (HBase's FirstKeyOnlyFilter analogue), which
    * otherwise would materialize every cell of every row just to prove
    * the row exists. */
  case object KeysOnly extends ColumnSet
}

final case class TimeRange(minStamp: Long, maxStamp: Long) extends Serializable

/** One materialized cell version. */
final case class KvCell(cf: String, qual: String, ts: Long, value: Array[Byte])

/** One scanned row: key bytes + cells surviving the scan's restrictions,
  * versions newest-first per column capped at the scan's maxVersions. */
final case class KvRow(key: Array[Byte], cells: Seq[KvCell])

/** [[KvTable.scan]]'s row stream. `rowsWalked` counts every row the scan
  * has stepped over so far, whether or not it passed the predicate. */
abstract class KvScan extends Iterator[KvRow] {
  def rowsWalked: Long
}

/** [[KvTable.walk]]'s cursor: no row object per row. After `next()`
  * returns true, `key` is the row's key, `cells(i)` the newest in-window
  * value of the walk's i-th column (null when the row has none) and
  * `stamp` the row's newest in-window stamp over the walk's stamp columns
  * (`Long.MinValue` when it has none there, or when the walk keeps no
  * stamp); all are overwritten by the following `next()`. */
abstract class KvWalk {
  def next(): Boolean
  def key: Array[Byte]
  def cells: Array[Array[Byte]]
  def stamp: Long
  def rowsWalked: Long
  /** Add the rows served so far to [[KvStore.rowsServed]] and end the walk
    * — what `next()` does when it runs out; a walk stopped early (a limit,
    * a `take`) is closed by its reader. Idempotent. */
  def close(): Unit
}

final case class RegionInfo(index: Int, start: Option[Array[Byte]], end: Option[Array[Byte]], host: String)

/** Server-side row-mutation observer — the store analogue of an HBase
  * coprocessor. The connector attaches one per secondary index
  * ([[graft.datasource.SecondaryIndex]]); every mutation path (put, ranged
  * delete, row-level delete, WAL-replayed deletes included) reports the
  * row's before/after latest state for the hook's declared columns, and the
  * hook derives index-table mutations from the diff. Hooks never fire
  * during WAL replay (tables are rebuilt bare and the index table's own
  * logged mutations replay directly — firing them too would double-apply). */
trait RowHook {
  /** (cf, qualifier) columns whose latest value the hook derives from. */
  def cols: Set[(String, String)]
  /** `before`/`after`: latest-version value per declared column, absent if
    * the column has no visible cell in that state. */
  def onMutate(key: Array[Byte],
      before: Map[(String, String), Array[Byte]],
      after: Map[(String, String), Array[Byte]],
      stamp: Long): Unit
}

/** @param maxVersions default retained-version cap for every column family
  * @param maxVersionsByCf per-family overrides — HBase's model keeps the
  *   version cap on each HColumnDescriptor (reference
  *   HBaseRelation.scala:155-160 sets it per descriptor at table create),
  *   so families of one table may retain different version counts */
final class KvTable(initialName: String, splits: IndexedSeq[Array[Byte]],
    val maxVersions: Int, val maxVersionsByCf: Map[String, Int] = Map.empty) {

  /** Registry name; mutable only through [[KvStore.rename]] (ALTER TABLE
    * RENAME TO is a metadata move — regions and data never touch). */
  @volatile private var currentName: String = initialName
  def name: String = currentName
  private[store] def setName(n: String): Unit = currentName = n

  /** retention cap for a family: its descriptor override, else the default */
  def versionCap(cf: String): Int = maxVersionsByCf.getOrElse(cf, maxVersions)

  /** Scan-lease accounting — the store half of the connector's reader
    * `close()` contract. Live views need no physical release in-process,
    * but the lease ledger (a) makes a leaked reader observable (the leak
    * counter in KvStoreSpec) and (b) is the seam where a spill-to-disk or
    * remote store would pin/unpin snapshot and iterator handles. Acquired
    * by every executor-side scan setup, released exactly once by the
    * reader's task-completion `close()`. */
  private val openScans = new java.util.concurrent.atomic.AtomicLong()
  def openScanCount: Long = openScans.get()
  private[graft] def acquireScanLease(): Unit = { openScans.incrementAndGet(); () }
  private[graft] def releaseScanLease(): Unit = {
    val n = openScans.decrementAndGet()
    assert(n >= 0, s"scan lease double-released on table $name")
  }

  /** Attached mutation hooks, keyed for idempotent re-attach (the connector
    * re-runs DDL per query; attaching the same index twice must not
    * double-maintain). Not WAL-persisted: replay rebuilds tables bare and
    * the connector re-attaches on next use. */
  @volatile private var hookMap: Map[String, RowHook] = Map.empty
  def attachHook(id: String, h: RowHook): Unit = synchronized { hookMap += id -> h }
  def detachHook(id: String): Unit = synchronized { hookMap -= id }
  private def hooks: Iterable[RowHook] = hookMap.values

  /** Latest-version value per hook column for one row's current state —
    * the before/after snapshots [[RowHook.onMutate]] receives. Versions maps
    * are newest-first, so this is O(hook cols), not O(cells). */
  private def hookState(
      row: ConcurrentHashMap[(String, String), ConcurrentSkipListMap[java.lang.Long, Array[Byte]]],
      cols: Set[(String, String)]): Map[(String, String), Array[Byte]] =
    if (row == null) Map.empty
    else cols.flatMap { c =>
      val versions = row.get(c)
      if (versions == null) None else Option(versions.firstEntry()).map(e => c -> e.getValue)
    }.toMap

  private def hookCols: Set[(String, String)] = {
    val hs = hooks
    if (hs.isEmpty) Set.empty else hs.flatMap(_.cols).toSet
  }

  import BytesUtil.byteArrayOrdering

  /** region i covers [bounds(i), bounds(i+1)); first/last unbounded. */
  private val sortedSplits: IndexedSeq[Array[Byte]] =
    splits.filter(_.nonEmpty).sortWith(BytesUtil.compareBytes(_, _) < 0)

  /** The resolved split points — a [[Snapshot]] reconstructs the identical
    * region layout from these. */
  private[store] def splitPoints: IndexedSeq[Array[Byte]] = sortedSplits

  final class Region(val index: Int) {
    val start: Option[Array[Byte]] = if (index == 0) None else Some(sortedSplits(index - 1))
    val end: Option[Array[Byte]] = if (index == sortedSplits.size) None else Some(sortedSplits(index))
    val host: String = s"graft-node-${index % 8}"
    /** rowkey → (cf,qual) → ts(desc) → value */
    val rows = new ConcurrentSkipListMap[Array[Byte], ConcurrentHashMap[(String, String), ConcurrentSkipListMap[java.lang.Long, Array[Byte]]]](
      BytesUtil.byteArrayOrdering)
    /** Live row count, maintained by put/delete — region metadata a real
      * region server keeps anyway. Serving statistics from this counter
      * keeps plan-time estimation O(regions): `ConcurrentSkipListMap.size()`
      * is O(n), and calling it per region per query compilation would be a
      * full-table count on the driver before every query at scale. */
    val rowCount = new java.util.concurrent.atomic.AtomicLong()
    /** Newest cell stamp ever written to this region (Long.MinValue when
      * empty) — the region's mutation high-water mark. The streaming source
      * uses the vector of these as its micro-batch offsets, so computing
      * `latestOffset` costs O(regions), never a scan. Monotone by
      * construction; stamped deletes ADVANCE it (a delete is a mutation a
      * CDC consumer must see), and it never moves backwards. */
    val maxStamp = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    /** Delete markers: key → newest delete stamp. [[delete]] records one per
      * removed row so a CDC reader ([[graft.datasource.GraftMicroBatchStream]]
      * with `tombstones=true`) can stream deletions as `_deleted` rows —
      * HBase's delete-marker model, where markers outlive the data until
      * compaction. Markers are retained indefinitely here (the in-process
      * analogue of "until major compaction"); a re-put newer than the marker
      * supersedes it at read time. Bounded by total deleted keys, and empty
      * unless deletes happen. */
    val tombstones = new ConcurrentSkipListMap[Array[Byte], java.lang.Long](
      BytesUtil.byteArrayOrdering)
    /** Mutation histogram: stamp → row-mutations landed at that stamp (one
      * per put row / delete marker). The streaming source's admission
      * control ([[graft.datasource.GraftMicroBatchStream]] honoring
      * `ReadLimit.maxRows`) walks this to pick a stamp cut whose backlog
      * fits the batch budget — O(distinct stamps in window), never a row
      * scan. Stamps are currentTimeMillis-resolution, so live size is
      * bounded by the table's active wall-clock milliseconds, not its row
      * count; the in-process analogue of reading WAL entry counts between
      * two replication positions. */
    val mutHist = new ConcurrentSkipListMap[java.lang.Long, java.util.concurrent.atomic.LongAdder]()
    /** Stamps REGISTERED as in-flight ([[withWriteStamp]]) whose mutations
      * may not be visible yet — the CDC offset capture excludes them
      * ([[graft.datasource.GraftMicroBatchStream]] caps each region's
      * offset below the minimum in-flight stamp), closing the race where
      * writer A takes stamp 1000, writer B lands 1001 advancing maxStamp,
      * the stream captures 1001, and A's cells then land at 1000 ≤
      * committed — permanently invisible. Guarded by its own monitor
      * (short critical sections, a handful of entries). */
    val inFlight = new java.util.TreeMap[java.lang.Long, Integer]()
    def beginWrite(s: Long): Unit = inFlight.synchronized {
      inFlight.merge(s, 1, (a, b) => a + b); ()
    }
    def endWrite(s: Long): Unit = inFlight.synchronized {
      val n = inFlight.get(s) - 1
      if (n == 0) inFlight.remove(s) else inFlight.put(s, n)
      ()
    }
    /** Smallest registered in-flight stamp, or Long.MaxValue when none. */
    def minInFlight: Long = inFlight.synchronized {
      if (inFlight.isEmpty) Long.MaxValue else inFlight.firstKey
    }
  }

  val regions: IndexedSeq[Region] = (0 to sortedSplits.size).map(new Region(_)).toIndexedSeq

  def regionInfos: Seq[RegionInfo] = regions.map(r => RegionInfo(r.index, r.start, r.end, r.host))

  /** Index of the region holding `key` — where a point [[walk]] runs. */
  def regionOf(key: Array[Byte]): Int = regionFor(key).index

  private def regionFor(key: Array[Byte]): Region = {
    // binary search over split points
    var lo = 0; var hi = sortedSplits.size
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (BytesUtil.compareBytes(key, sortedSplits(mid)) < 0) hi = mid else lo = mid + 1
    }
    regions(lo)
  }

  /** Assign a fresh wall-clock stamp REGISTERED in-flight before `f` uses
    * it, deregistering after `f`'s mutations are visible. The streaming
    * source's offset capture stays below every registered stamp, so a
    * default-stamped mutation can never land at or below an
    * already-captured offset (the lost-update race of concurrent
    * writers). `key`-scoped registration touches only the row's region —
    * parallel writers to different regions never contend; the keyless
    * form registers in every region (multi-region mutations like ranged
    * deletes). Explicit `timestamp` writes bypass this and keep their
    * documented low-watermark caveat. */
  def withWriteStamp[A](key: Array[Byte])(f: Long => A): A = {
    val r = regionFor(key)
    val s = System.currentTimeMillis()
    r.beginWrite(s)
    try f(s) finally r.endWrite(s)
  }

  def withWriteStamp[A](f: Long => A): A = {
    val s = System.currentTimeMillis()
    regions.foreach(_.beginWrite(s))
    try f(s) finally regions.foreach(_.endWrite(s))
  }

  /** Run `f` with an EXISTING stamp registered in-flight for `key`'s
    * region — derived-table mutations (index hooks) that reuse the main
    * write's stamp register it here so a CDC stream on the DERIVED table
    * cannot commit an offset past a still-landing entry. (The window
    * between the main write's stamp assignment and this registration
    * remains — airtight capture for derived tables would need cross-table
    * registration at assignment time; streaming an index table directly
    * is an exotic composition and the main-table stream is unaffected.) */
  def registered[A](key: Array[Byte], s: Long)(f: => A): A = {
    val r = regionFor(key)
    r.beginWrite(s)
    try f finally r.endWrite(s)
  }

  /** [[delete]] under a registered fresh stamp ([[withWriteStamp]]) — the
    * SQL DELETE path, so stream consumers can never miss the tombstones. */
  def deleteNow(ranges: Seq[ScanRange[Array[Byte]]],
      predicate: Option[KvPredicate]): Long =
    withWriteStamp(s => delete(ranges, predicate, s))

  def put(key: Array[Byte], cells: Seq[KvCell]): Unit = {
    // rotation fence: log + state-apply land on one side of any checkpoint
    KvStore.logged(w => putLogged(w, key, cells))
    KvStore.maybeAutoCheckpoint()
  }

  private def putLogged(w: Option[Wal], key: Array[Byte], cells: Seq[KvCell]): Unit = {
    // WAL before table state (redo rule): a mutation is ack'd only after it
    // is on the log, so replay can never miss an acknowledged write.
    // `w` is the handle the fence decision saw — never re-read here.
    w.foreach(_.logPut(name, key, cells))
    val region = regionFor(key)
    // explicit get/putIfAbsent (not computeIfAbsent) so the row counter
    // increments exactly once per NEW key even under concurrent writers:
    // only the thread whose putIfAbsent won counts the row
    var row = region.rows.get(key)
    val hcols = hookCols
    val beforeState = if (hcols.isEmpty) null else hookState(row, hcols)
    // Insert-and-verify loop: a concurrent physical row drop (delete /
    // compaction emptied the row) can remove the map BETWEEN our get and
    // our cell inserts — cells landing in an orphaned map would be
    // invisible forever while maxStamp still advanced past them (the CDC
    // stream would then never re-read the row). Cell insertion holds the
    // row map's monitor (the drop path checks emptiness under the same
    // monitor) and afterwards verifies the map is still the one mapped;
    // a lost race retries against the current map.
    var inserted = false
    while (!inserted) {
      if (row == null) {
        // explicit get/putIfAbsent (not computeIfAbsent) so the row
        // counter increments exactly once per NEW key even under
        // concurrent writers: only the putIfAbsent winner counts the row
        val fresh = new ConcurrentHashMap[(String, String), ConcurrentSkipListMap[java.lang.Long, Array[Byte]]]()
        val prev = region.rows.putIfAbsent(key, fresh)
        if (prev == null) { region.rowCount.incrementAndGet(); row = fresh }
        else row = prev
      }
      row.synchronized {
        cells.foreach { c =>
          val versions = row.computeIfAbsent((c.cf, c.qual),
            _ => new ConcurrentSkipListMap[java.lang.Long, Array[Byte]](
              java.util.Comparator.reverseOrder[java.lang.Long]()))
          versions.put(c.ts, c.value)
          // cap stored versions at the FAMILY's retention (HBase cf
          // semantics)
          val cap = versionCap(c.cf)
          while (versions.size() > cap) versions.pollLastEntry()
        }
      }
      if (region.rows.get(key) eq row) inserted = true
      else row = region.rows.get(key) // dropped concurrently — retry there
    }
    cells.foreach { c =>
      region.maxStamp.accumulateAndGet(c.ts, (a, b) => math.max(a, b))
    }
    // one histogram tick per row-mutation, at the row's newest cell stamp
    // (a multi-column put is one CDC row, not cells.size of them)
    if (cells.nonEmpty)
      region.mutHist.computeIfAbsent(cells.map(_.ts).max,
        _ => new java.util.concurrent.atomic.LongAdder).increment()
    if (beforeState != null && cells.nonEmpty)
      fireHooks(key, beforeState, hookState(row, hcols), cells.map(_.ts).max)
  }

  /** Per-hook column filtering + dispatch shared by every mutation path. */
  private def fireHooks(key: Array[Byte],
      before: Map[(String, String), Array[Byte]],
      after: Map[(String, String), Array[Byte]], stamp: Long): Unit =
    hooks.foreach { h =>
      h.onMutate(key, before.view.filterKeys(h.cols).toMap,
        after.view.filterKeys(h.cols).toMap, stamp)
    }

  def get(key: Array[Byte], cols: ColumnSet, time: Option[TimeRange], versions: Int,
      pred: Option[graft.store.KvPredicate] = None): Option[KvRow] = {
    val row = regionFor(key).rows.get(key)
    val out =
      if (row == null) None
      else if (!pred.forall(_.eval(key, row, time))) None
      else materialize(key, row, cols, time, versions)
    if (out.isDefined) KvStore.tickServed()
    out
  }

  /** Range scan over one region; [start,end) semantics come from the caller
    * having split inclusive upper bounds into point gets (reference
    * ScanRange.split, applied HBaseTableScan.scala:459). Bounds here may
    * still carry inclusivity — honored exactly. */
  private type RowMap = java.util.NavigableMap[Array[Byte],
    ConcurrentHashMap[(String, String), ConcurrentSkipListMap[java.lang.Long, Array[Byte]]]]

  /** The sub-view of `map` covered by `range`; empty for an inverted
    * range. ONE implementation for every byte-keyed NavigableMap the store
    * serves range views from (row maps AND tombstone maps) — a bounds or
    * inclusivity fix can never diverge scan rows from tombstone feeds. */
  private def rangeView[V](map: java.util.concurrent.ConcurrentSkipListMap[Array[Byte], V],
      range: ScanRange[Array[Byte]]): java.util.NavigableMap[Array[Byte], V] = {
    (range.start.value, range.end.value) match {
      case (Some(s), Some(e)) if BytesUtil.compareBytes(s, e) > 0 =>
        return java.util.Collections.emptyNavigableMap()
      case _ =>
    }
    (range.start.value, range.end.value) match {
      case (Some(s), Some(e)) => map.subMap(s, range.start.inclusive, e, range.end.inclusive)
      case (Some(s), None)    => map.tailMap(s, range.start.inclusive)
      case (None, Some(e))    => map.headMap(e, range.end.inclusive)
      case (None, None)       => map
    }
  }

  private def selectRows(region: Region, range: ScanRange[Array[Byte]]): RowMap =
    rangeView(region.rows, range)

  /** Delete every row whose key falls in one of `ranges` AND satisfies
    * `predicate` — the store half of DSv2 `SupportsDelete`. Caller contract:
    * ranges+predicate must be EXACT (no over-approximation — a residual
    * would delete rows the filter didn't select); the connector only routes
    * deletes here when the filter compiler handled every filter. Each
    * removed row leaves a delete marker at `stamp` (CDC visibility — see
    * [[Region.tombstones]]) and advances the region's mutation high-water
    * mark, so streaming readers observe the deletion as a new offset.
    * Returns the matched-row count. */
  def delete(ranges: Seq[ScanRange[Array[Byte]]],
      predicate: Option[KvPredicate],
      stamp: Long = System.currentTimeMillis()): Long = {
    var removed = 0L
    regions.foreach { region =>
      ranges.foreach { range =>
        val it = selectRows(region, range).entrySet().iterator()
        val hcols = hookCols
        while (it.hasNext) {
          val e = it.next()
          if (predicate.forall(_.eval(e.getKey, e.getValue, None))) {
            // per-row rotation fence: each removed row's log record and
            // state change sit on one side of any concurrent checkpoint
            // (a checkpoint MAY interleave between rows — each row is then
            // either in the image or in the fresh log, both replay-exact)
            KvStore.logged { w =>
              // physical logging: the key actually matched, post-resolution —
              // replay re-deletes exact keys, no predicate re-evaluation
              w.foreach(_.logDeleteKey(name, e.getKey, stamp))
              val before = if (hcols.isEmpty) null else hookState(e.getValue, hcols)
              eraseUpTo(region, e.getKey, e.getValue, stamp)
              markDeleted(region, e.getKey, stamp)
              if (before != null)
                fireHooks(e.getKey, before, hookState(e.getValue, hcols), stamp)
            }
            removed += 1
          }
        }
      }
    }
    KvStore.maybeAutoCheckpoint()
    removed
  }

  /** MVCC delete rule: erase only the cell versions the delete could SEE
    * (ts ≤ `stamp`); physically drop the row when nothing newer survives.
    * Cells stamped after the delete — a concurrent writer landing at a
    * newer stamp — survive, which makes delete@T and put@T+1 commute no
    * matter which task's mutation reaches the store first (the row-level
    * delta write path depends on this). Returns true iff the row was
    * physically dropped. */
  private def eraseUpTo(region: Region, key: Array[Byte],
      row: ConcurrentHashMap[(String, String), ConcurrentSkipListMap[java.lang.Long, Array[Byte]]],
      stamp: Long): Boolean = {
    val colIt = row.entrySet().iterator()
    while (colIt.hasNext) {
      val versions = colIt.next().getValue
      val vit = versions.entrySet().iterator()
      while (vit.hasNext) if (vit.next().getKey <= stamp) vit.remove()
      if (versions.isEmpty) colIt.remove()
    }
    // the physical drop takes the row map's monitor so it cannot interleave
    // with a writer's cell insertion (see put's insert-and-verify loop):
    // either the writer's cells are visible here (row non-empty, no drop)
    // or the writer will observe the removal and retry on a fresh map
    row.synchronized {
      if (row.isEmpty && region.rows.remove(key, row)) {
        region.rowCount.decrementAndGet(); true
      } else false
    }
  }

  /** Delete-marker bookkeeping shared by every delete path: tombstone for
    * CDC readers, mutation high-water mark, admission histogram tick. */
  private def markDeleted(region: Region, key: Array[Byte], stamp: Long): Unit = {
    region.tombstones.merge(key, Long.box(stamp), (a, b) => if (a >= b) a else b)
    region.maxStamp.accumulateAndGet(stamp, (a, b) => math.max(a, b))
    region.mutHist.computeIfAbsent(stamp,
      _ => new java.util.concurrent.atomic.LongAdder).increment()
  }

  /** Row-level delete primitive for the delta write path (SQL UPDATE /
    * non-exact DELETE / MERGE): WAL-logged, stamp-aware ([[eraseUpTo]]'s
    * MVCC rule), marker-recorded. One exact key — the caller already knows
    * WHICH row dies; no range resolution. */
  def deleteRow(key: Array[Byte], stamp: Long): Unit = {
    KvStore.logged { w =>
      w.foreach(_.logDeleteKey(name, key, stamp))
      deleteKey(key, stamp)
    }
    KvStore.maybeAutoCheckpoint()
  }

  /** Remove one exact key (WAL replay's delete primitive — [[delete]] logs
    * the keys it matched, replay re-applies them here). Not WAL-logged
    * itself: [[deleteRow]] logs before delegating, and replay runs with
    * logging suspended. */
  private[store] def deleteKey(key: Array[Byte], stamp: Long): Unit = {
    val region = regionFor(key)
    val row = region.rows.get(key)
    val hcols = hookCols
    val before = if (hcols.isEmpty || row == null) null else hookState(row, hcols)
    if (row != null) eraseUpTo(region, key, row, stamp)
    markDeleted(region, key, stamp)
    if (before != null) fireHooks(key, before, hookState(row, hcols), stamp)
  }

  /** Physical housekeeping — the HBase major-compaction analogue, explicit
    * and optional because READ correctness never depends on it: TTL
    * invisibility is a plan-time stamp window
    * ([[graft.datasource.GraftOptions.withTtlResolved]]), this reclaims the
    * space. (1) Cell versions stamped before `expireBefore` are dropped;
    * rows left cell-less are removed (row counters maintained, index hooks
    * fired so secondary indexes retire the dead entries). (2) Delete
    * markers and admission-histogram entries stamped before `cdcHorizon`
    * are dropped — a CDC reader whose checkpoint predates the horizon loses
    * those events, exactly like HBase replication after WAL cleanup; pick a
    * horizon behind every consumer. Not WAL-logged: replay resurrects the
    * physical cells but the same TTL window keeps them invisible, and the
    * next compact re-converges. Returns (cells, rows, markers) dropped. */
  def compact(expireBefore: Long, cdcHorizon: Long = Long.MinValue): (Long, Long, Long) = {
    var cells = 0L; var rowsDropped = 0L; var markers = 0L
    val hcols = hookCols
    regions.foreach { region =>
      val it = region.rows.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val row = e.getValue
        val before = if (hcols.isEmpty) null else hookState(row, hcols)
        var dropped = 0L
        val colIt = row.entrySet().iterator()
        while (colIt.hasNext) {
          val versions = colIt.next().getValue
          val vit = versions.entrySet().iterator()
          while (vit.hasNext) if (vit.next().getKey < expireBefore) { vit.remove(); dropped += 1 }
          if (versions.isEmpty) colIt.remove()
        }
        cells += dropped
        // same monitor protocol as eraseUpTo: never drop a row a
        // concurrent writer is inserting into (put re-verifies membership
        // and retries if it loses)
        row.synchronized {
          if (row.isEmpty) {
            it.remove(); region.rowCount.decrementAndGet(); rowsDropped += 1
          }
        }
        if (before != null && dropped > 0)
          fireHooks(e.getKey, before, hookState(row, hcols), expireBefore)
      }
      val tit = region.tombstones.entrySet().iterator()
      while (tit.hasNext) if (tit.next().getValue < cdcHorizon) { tit.remove(); markers += 1 }
      val hit = region.mutHist.headMap(cdcHorizon, false).entrySet().iterator()
      while (hit.hasNext) { hit.next(); hit.remove() }
    }
    (cells, rowsDropped, markers)
  }

  /** Delete markers of one region whose stamp falls in `window`, restricted
    * to `range` — the CDC reader's tombstone feed (key bytes + delete
    * stamp), served from the marker map: O(markers-in-range), no row scan. */
  def tombstonesIn(regionIndex: Int, range: ScanRange[Array[Byte]],
      window: TimeRange): Iterator[(Array[Byte], Long)] = {
    val region = regions(regionIndex)
    val m = rangeView(region.tombstones, range)
    m.entrySet().iterator().asScala
      .filter(e => e.getValue >= window.minStamp && e.getValue < window.maxStamp)
      .map(e => (e.getKey, e.getValue.longValue()))
  }

  private type RowCells =
    ConcurrentHashMap[(String, String), ConcurrentSkipListMap[java.lang.Long, Array[Byte]]]

  /** The rows of one region range that pass `predicate`, in key order
    * (descending when `reverse`) — THE row selection and predicate loop of
    * [[scan]] and [[walk]]. `walked` counts every row stepped over. */
  private final class Selection(regionIndex: Int, range: ScanRange[Array[Byte]],
      time: Option[TimeRange], predicate: Option[KvPredicate], reverse: Boolean) {
    private val m: RowMap = selectRows(regions(regionIndex), range)
    // reversed scan (HBase Scan.setReversed analogue): the skip list is a
    // NavigableMap, so descending iteration is O(1) per step — no sort
    private val it = if (reverse) m.descendingMap().entrySet().iterator()
                     else m.entrySet().iterator()
    private val pred = predicate.orNull
    var walked = 0L
    var key: Array[Byte] = _
    var row: RowCells = _
    def advance(): Boolean = {
      while (it.hasNext) {
        val e = it.next()
        walked += 1
        if (pred == null || pred.eval(e.getKey, e.getValue, time)) {
          key = e.getKey; row = e.getValue
          return true
        }
      }
      false
    }
  }

  def scan(regionIndex: Int, range: ScanRange[Array[Byte]], cols: ColumnSet,
      time: Option[TimeRange], versions: Int,
      predicate: Option[KvPredicate], reverse: Boolean = false): KvScan = {
    val sel = new Selection(regionIndex, range, time, predicate, reverse)
    new KvScan {
      private var pending: KvRow = _
      override def hasNext: Boolean = {
        while (pending == null && sel.advance())
          materialize(sel.key, sel.row, cols, time, versions).foreach { r =>
            KvStore.tickServed(); pending = r
          }
        pending != null
      }
      override def next(): KvRow = {
        if (!hasNext) throw new NoSuchElementException("scan exhausted")
        val r = pending; pending = null; r
      }
      override def rowsWalked: Long = sel.walked
    }
  }

  /** The latest-read walk over one region range: for each row that passes
    * `predicate` and exists in `time` (the [[scan]] existence rule: a row
    * none of whose `cols` has an in-window cell still counts if any of its
    * cells is in the window), the cursor exposes the key, the newest
    * in-window value of each of `cols` in one reused array, and — when
    * `stampCols` is given — the newest in-window stamp over those columns.
    * Adds its served rows to [[KvStore.rowsServed]] once, when it runs out
    * or is closed. */
  def walk(regionIndex: Int, range: ScanRange[Array[Byte]], cols: Array[(String, String)],
      time: Option[TimeRange], predicate: Option[KvPredicate],
      reverse: Boolean = false, stampCols: Option[ColumnSet] = None): KvWalk = {
    val sel = new Selection(regionIndex, range, time, predicate, reverse)
    val stamped = stampCols.orNull
    new KvWalk {
      override val cells = new Array[Array[Byte]](cols.length)
      private var rowStamp = Long.MinValue
      private var served = 0L
      private var done = false
      override def key: Array[Byte] = sel.key
      override def stamp: Long = rowStamp
      override def rowsWalked: Long = sel.walked
      override def next(): Boolean = {
        while (!done && sel.advance()) {
          var any = false
          var i = 0
          while (i < cols.length) {
            val v = KvStore.newestIn(sel.row.get(cols(i)), time)
            cells(i) = v
            if (v != null) any = true
            i += 1
          }
          if (any || existsInRange(sel.row, time)) {
            if (stamped != null) rowStamp = newestStamp(sel.row, stamped, time)
            served += 1
            return true
          }
        }
        close()
        false
      }
      override def close(): Unit =
        if (!done) { done = true; KvStore.addServed(served) }
    }
  }

  /** Newest in-window stamp among the row's columns in `cols`,
    * `Long.MinValue` when none has one — the stamp a [[scan]] of `cols`
    * would carry as the row's newest cell. */
  private def newestStamp(row: RowCells, cols: ColumnSet, time: Option[TimeRange]): Long = {
    var newest = Long.MinValue
    row.forEach { (ck, vmap) =>
      if (keeps(cols, ck)) {
        val it = vmap.keySet().iterator() // newest-first
        var found = false
        while (!found && it.hasNext) {
          val ts = it.next().longValue()
          if (time.forall(t => ts >= t.minStamp && ts < t.maxStamp)) {
            found = true
            if (ts > newest) newest = ts
          }
        }
      }
    }
    newest
  }

  private def keeps(cols: ColumnSet, ck: (String, String)): Boolean = cols match {
    case ColumnSet.All => true
    case ColumnSet.Families(cfs) => cfs.contains(ck._1)
    case ColumnSet.Columns(cs) => cs.contains(ck)
    case ColumnSet.KeysOnly => false
  }

  /** Does ANY cell of the row fall inside the scan's time range? First
    * in-range cell wins — THE shared existence test of the KeysOnly fast
    * path and the empty-projection row-exists rule (one implementation,
    * so a time-window semantics change can never diverge them). */
  private def existsInRange(row: RowCells, time: Option[TimeRange]): Boolean = {
    var exists = false
    val it = row.values().iterator()
    while (!exists && it.hasNext) {
      val vit = it.next().entrySet().iterator()
      while (!exists && vit.hasNext) {
        val ts = vit.next().getKey.longValue()
        if (time.forall(t => ts >= t.minStamp && ts < t.maxStamp)) exists = true
      }
    }
    exists
  }

  private def materialize(key: Array[Byte], row: RowCells,
      cols: ColumnSet, time: Option[TimeRange], versions: Int): Option[KvRow] = {
    if (cols == ColumnSet.KeysOnly) {
      // existence-only fast path: no cell list
      return if (existsInRange(row, time)) Some(KvRow(key, Seq.empty)) else None
    }
    val out = Seq.newBuilder[KvCell]
    var any = false
    row.forEach { (ck, vmap) =>
      if (keeps(cols, ck)) {
        var n = 0
        val it = vmap.entrySet().iterator() // newest-first
        while (it.hasNext && n < versions) {
          val v = it.next()
          val ts = v.getKey.longValue()
          if (time.forall(t => ts >= t.minStamp && ts < t.maxStamp)) {
            out += KvCell(ck._1, ck._2, ts, v.getValue)
            n += 1
            any = true
          }
        }
      }
    }
    if (any) Some(KvRow(key, out.result()))
    else {
      // SQL semantics: a row whose projected value columns are all absent
      // still EXISTS — `SELECT key, a FROM t` must yield (key, null), not
      // drop the row (HBase's restrictive=column scan would; that divergence
      // was flagged in round 1). Emit a key-only row iff ANY cell — column
      // restriction aside — falls inside the scan's time range; a row with
      // nothing in the time window genuinely doesn't exist there. The second
      // pass only runs when the first found no surviving cell (rare).
      if (existsInRange(row, time)) Some(KvRow(key, Seq.empty)) else None
    }
  }
}
