package graft

import graft.sources.KafkaWire
import graft.sources.KafkaWire.{Reader, Record, Writer}

/** In-JVM broker DOUBLE for the Kafka wire-protocol client — the
  * S2/S3 analogue of the in-JVM HTTP server that proves the S11
  * crawl: a real TCP listener speaking the same subset of the public
  * protocol as [[graft.sources.KafkaWire]] (record-batch v2 only, one
  * version per data-path API, idempotent-producer sequence state,
  * the transaction coordinator with control markers / LSO /
  * aborted-range serving, timestamp offset lookup, and consumer-group
  * offset storage — see the dispatch table in serve()),
  * with an in-memory per-partition log. Everything KafkaWire sends
  * travels through actual sockets and actual protocol bytes; only
  * durability is simulated. A TEST/BENCH DOUBLE — it lives in main
  * only so StreamBench's wire table can drive it; no production code
  * path constructs it.
  *
  * Broker-faithful serving (the parts a naive double gets wrong, and
  * that the r12 advice flagged as untestable until now):
  *  - the log is stored at BATCH granularity, exactly as produced; a
  *    fetch at offset k is served from the START of the batch
  *    containing k, so the client sees below-cursor records it must
  *    drop (the real broker's whole-batch behavior);
  *  - max_bytes is enforced on the WIRE BYTES of the record set and
  *    the response is sliced mid-batch when the first batch alone
  *    exceeds it — the consumer sees a partial trailing batch and zero
  *    complete records, and must grow-and-retry rather than skip (the
  *    double does NOT apply the real broker's at-least-one-batch
  *    rule).
  *
  * Fault injection (all one-shot counters, decremented as consumed):
  *  - [[dropNextProduce]]: read the Produce request fully, append
  *    NOTHING, close the socket before replying — the client cannot
  *    know whether the write landed (the classic at-least-once
  *    ambiguity; here the append is lost so a retry is REQUIRED);
  *  - [[dropNextProduceAfterAppend]]: append, then close before the
  *    ack — a retry now DUPLICATES the batch (the other half of
  *    at-least-once, absorbed downstream by the J1 upsert);
  *  - [[truncateNextFetch]]: write only half of the framed Fetch
  *    response bytes, then close — the client's framed read must fail
  *    loudly (EOF), never yield rows from a torn frame;
  *  - [[corruptNextCorrelation]]: reply with correlation id + 1 — the
  *    client must abort (protocol violation), not mis-route the
  *    response.
  */
object MiniKafkaServer {
  /** Thrown by a handler to close the connection without replying. */
  private final class DropConnection extends Exception
}


/** SHARED state of one logical Kafka cluster — the log store, the
  * producer-id / transaction registries, and the group coordinator's
  * bookkeeping — plus the LEADERSHIP map that decides which broker may
  * serve each partition's data path. One instance backs one OR MANY
  * [[MiniKafkaServer]]s. LEADERSHIP is enforced for real on the data
  * path — Produce/Fetch/DeleteRecords on a non-led partition answer
  * NOT_LEADER_FOR_PARTITION, which is exactly the contract a routing
  * client must honor — and so do ListOffsets lookups (the offset index
  * lives with the log). Coordinator calls (groups, transactions,
  * metadata) are served by any broker; FindCoordinator names broker 0.
  *
  * `replicationFactor` = 1 (default) keeps ONE shared log per
  * partition — the r15 "replication is instantaneous and perfect"
  * simplification, unchanged for every single-broker test. With
  * `replicationFactor` > 1 each assigned broker holds its OWN copy of
  * the log (independent disks), the leader replicates appends to the
  * in-sync followers, the HIGH WATERMARK is the minimum log-end over
  * the ISR (consumers read only below it), and the acks=all produce
  * path refuses writes that `minInsyncReplicas` in-sync copies cannot
  * take — the durability contract real producers rely on when a
  * broker dies holding unreplicated data. Coordinator state (pids,
  * transactions, groups) stays shared, as a real cluster's does
  * through its internal topics. */
private[graft] final class KafkaClusterState(
    val replicationFactor: Int = 1, val minInsyncReplicas: Int = 1) {
  /** One produced record batch, stored verbatim (`raw`, base offset
    * and leader epoch patched in) with its decoded records for the
    * test oracles; `codec` is the compression it arrived with. */
  final case class Batch(base: Long, records: Seq[Record],
      codec: Int, pid: Long = -1L, pEpoch: Int = -1,
      baseSeq: Int = -1, raw: Array[Byte],
      transactional: Boolean = false, control: Boolean = false,
      spanEnd: Long = -1L, epoch: Int = -1) {
    // a VAL: records may be a List (Scala 2.13 `.toSeq` builds one), so
    // a def would be O(n) — and the fetch path's dropWhile calls end on every
    // batch below the cursor, turning each fetch into an O(log-size)
    // walk (measured 35 ms per EMPTY fetch at 500 k stored records).
    // `spanEnd` (set by compaction) preserves the batch's ORIGINAL
    // offset span after records inside it were compacted away — the
    // real broker keeps baseOffset/lastOffsetDelta through compaction
    // for exactly this (consumers advance past the gaps).
    // `epoch` is the PARTITION LEADER EPOCH the batch was appended
    // under (the real broker's partitionLeaderEpoch stamp, kept in the
    // leader-epoch checkpoint): replication copies it verbatim, so a
    // replica's epoch→startOffset history is derivable from its
    // batches — the index OffsetsForLeaderEpoch truncation walks.
    val end: Long = if (spanEnd >= 0) spanEnd else base + records.length
  }

  /** Per-(topic, partition, pid) idempotence state: the next expected
    * baseSequence plus the last few appended batches' sequence ranges
    * — the real broker's ProducerStateManager window (5 in-flight
    * batches) that lets a retried-but-already-appended batch be
    * acked with its ORIGINAL offset instead of appended twice. */
  final class PidState {
    var nextSeq: Int = 0
    var epoch: Int = -1
    val recent = scala.collection.mutable.ArrayDeque.empty[(Int, Int, Long)]
  }

  final class Log {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Batch]
    var next: Long = 0L
    /** Log-START offset: retention/compaction advance it past 0; a
      * fetch below it is OFFSET_OUT_OF_RANGE (the contract consumers
      * with stale checkpoints hit on real brokers). */
    var start: Long = 0L
    val pidStates = scala.collection.mutable.Map.empty[Long, PidState]
    /** Open transactions: pid -> first offset written in this log by
      * the current transaction. The LAST STABLE OFFSET is the minimum
      * of these (nothing at/after an open transaction's first record
      * is stable), or the high watermark when none are open. */
    val ongoing = scala.collection.mutable.Map.empty[Long, Long]
    /** Resolved aborted ranges: (pid, firstOffset, abortMarkerOffset)
      * — the fetch response's aborted_transactions index. */
    val aborted =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def lso: Long = if (ongoing.isEmpty) next else ongoing.values.min
  }

  val logs =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Log]
  def logOf(topic: String, p: Int) =
    logs.getOrElseUpdate((topic, p), new Log)

  // ── producer-id registry (InitProducerId) ───────────────────────────
  val nextPid = new java.util.concurrent.atomic.AtomicLong(1000L)
  /** Current epoch per pid — a produce with an OLDER epoch is fenced. */
  val pidEpochs =
    scala.collection.concurrent.TrieMap.empty[Long, Int]
  /** transactional_id → stable pid; each re-init bumps the epoch (the
    * zombie-fencing mechanism). */
  val tidPids =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  /** Consumer-group committed offsets: (group, topic, partition) →
    * next offset to read — the coordinator storage behind
    * OffsetCommit/OffsetFetch (standalone consumers, no membership). */
  val groupOffsets = scala.collection.concurrent.TrieMap
    .empty[(String, String, Int), Long]


  final class Member(val id: String) {
    /** The member's advertised protocols IN PREFERENCE ORDER, each
      * with its subscription metadata — the coordinator selects one
      * protocol all members support and hands the leader that
      * protocol's metadata. */
    var protocols: Seq[(String, Array[Byte])] = Seq.empty
    var sessionTimeoutMs: Int = 10000
    var deadline: Long = Long.MaxValue
    def touch(): Unit =
      deadline = System.currentTimeMillis() + sessionTimeoutMs
    def metadataFor(protocol: String): Array[Byte] =
      protocols.collectFirst { case (n, md) if n == protocol => md }
        .getOrElse(Array.emptyByteArray)
  }

  final class Group {
    var state: String = "Empty" // Empty | Preparing | AwaitingSync | Stable
    var generation: Int = 0
    var protocol: String = null
    var leader: String = null
    /** Insertion-ordered: leader election picks the first member. */
    val members = scala.collection.mutable.LinkedHashMap.empty[String, Member]
    /** Members that re-joined the CURRENT rebalance round. */
    val rejoined = scala.collection.mutable.Set.empty[String]
    /** memberId → leader-computed assignment bytes (opaque). */
    var assignments: Map[String, Array[Byte]] = Map.empty
  }

  val groups =
    scala.collection.concurrent.TrieMap.empty[String, Group]
  val nextMemberId = new java.util.concurrent.atomic.AtomicInteger(0)


  /** pid → partitions registered to its OPEN transaction
    * (AddPartitionsToTxn / first transactional produce) — where EndTxn
    * fans the control markers out to. */
  val openTxns = scala.collection.concurrent.TrieMap
    .empty[Long, scala.collection.mutable.Set[(String, Int)]]

  /** pid → consumer-group offsets STAGED inside its open transaction
    * (TxnOffsetCommit) — applied to [[groupOffsets]] only when EndTxn
    * commits, discarded on abort: the atomic half of the exactly-once
    * consume-transform-produce loop (offsets move IFF the produced
    * records become visible). */
  val pendingTxnOffsets = scala.collection.concurrent.TrieMap
    .empty[Long, scala.collection.mutable.Map[(String, String, Int), Long]]


  // ── leadership (the data-path routing contract) ─────────────────────
  /** brokerId → advertised (host, port); brokers register at start. */
  val brokers = scala.collection.concurrent.TrieMap.empty[Int, (String, Int)]
  /** Brokers that FAILED ([[markDead]]): no longer advertised, out of
    * every ISR, never a replication target. */
  val deadBrokers = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  /** Followers whose replication fetch is STALLED — the lag fault
    * knob. A paused follower silently misses acks<=1 appends (the
    * loss window stays open while it remains in the ISR); an acks=all
    * produce shrinks it out of the ISR first (the double collapses
    * replica.lag.time.max.ms to zero so specs are deterministic). */
  val pausedReplicas = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val leaders =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Int]
  /** The partition's leader, assigned round-robin over the LIVE
    * registered brokers at first touch — call after every broker has
    * started. */
  def leaderOf(topic: String, p: Int): Int =
    leaders.getOrElseUpdate((topic, p), {
      val ids = brokers.keys.toSeq.sorted
      if (ids.isEmpty) 0 else ids(p % ids.size)
    })
  /** Per-partition ELECTION monitor: every leadership
    * read-then-act critical section — a leader's append+replicate, an
    * election's flip+reconcile, a follower's catch-up+ISR-rejoin —
    * serializes on it, so an append in flight on a deposed leader and
    * a concurrent re-election cannot interleave. This is the
    * in-process EQUIVALENT of leader-epoch fencing: real brokers need
    * the epoch because leaders live in different processes; one JVM
    * can use a monitor and get the same guarantee (either the append
    * completes fully under the old regime and replicates to the ISR —
    * as if produced just before the election — or the flip lands
    * first and the deposed leader answers NOT_LEADER from the
    * in-lock re-check). Lock order everywhere: election → leader log
    * → follower log; nothing takes the election lock after a log
    * lock. Fetches stay outside it by design — a momentarily-deposed
    * leader serving a read below its HW returns data the new leader
    * serves identically. */
  private val electionMonitors = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Object]
  def electionLock[T](topic: String, p: Int)(body: => T): T =
    electionMonitors.getOrElseUpdate((topic, p), new Object)
      .synchronized(body)

  /** Per-partition LEADER EPOCH — the protocol's fencing token
    * (KIP-101/KIP-320): bumped on EVERY leadership change (clean
    * handover, broker-death election, unclean promotion, revived-
    * leader re-election), monotonic per partition. Wire-visible in
    * Metadata v7 (partition leader_epoch), validated by Fetch v9 /
    * OffsetsForLeaderEpoch (FENCED_LEADER_EPOCH / UNKNOWN_LEADER_
    * EPOCH), and stamped into every appended batch (`Batch.epoch`),
    * which is what follower truncation walks. */
  private val leaderEpochs = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Int]
  def leaderEpochOf(topic: String, p: Int): Int =
    leaderEpochs.getOrElseUpdate((topic, p), 0)
  /** Caller holds the election lock. */
  private def bumpEpoch(topic: String, p: Int): Unit =
    leaderEpochs.put((topic, p), leaderEpochOf(topic, p) + 1)

  /** One consistent read of the paused-replica set, taken ONCE per
    * produce inside the election lock: the acks=all gate and the
    * replication-target list must judge the same snapshot, or a pause
    * landing between them leaves an acked-durable batch unreplicated
    * while the paused follower stays in the ISR (a later clean
    * election to it would truncate acked data). With one snapshot a
    * concurrent pause linearizes before the whole gate+replicate
    * section (follower shrunk, not a target) or after it (follower
    * still written — it has the batch, so its ISR membership is
    * honest). */
  def pausedSnapshot: Set[Int] = {
    val b = Set.newBuilder[Int]
    pausedReplicas.forEach(i => b += i)
    b.result()
  }

  // ── pull replication (cross-process mode) ───────────────────────────
  // With every broker in ONE JVM, the leader can write follower replica
  // logs directly (push) — the in-process mode above. Across PROCESS
  // boundaries that is impossible: followers must FETCH from the leader
  // over the wire (the real protocol's replica fetcher), the leader
  // must learn follower progress from those fetches, and the epochs —
  // not a JVM monitor — carry the fencing. `pullMode` switches the
  // whole data path to that shape; [[MiniKafkaNode]] is the per-process
  // wrapper that runs the fetchers.

  /** true = followers pull over the wire; the leader never writes
    * their logs, and the high watermark comes from [[followerLeo]]. */
  @volatile var pullMode: Boolean = false
  /** How long an acks=all produce waits for follower fetches before
    * the laggards are shrunk out (the double's replica.lag.time.max
    * .ms, pull mode only). */
  @volatile var ackTimeoutMs: Long = 5000L
  /** Leader-side view of each follower's log end, learned from the
    * follower's fetch offsets (a fetch AT offset x proves everything
    * below x is persisted there — the real protocol's progress
    * signal). */
  val followerLeo = scala.collection.concurrent.TrieMap
    .empty[(Int, String, Int), Long]
  /** Consumer-visible high-watermark floor, per partition: the HW is
    * MONOTONIC across leader tenures on this process (and seeded, on
    * a follower, by the HW the leader advertised in its fetch
    * responses), clamped at serve time to the current leader's log
    * end. Without it, the followerLeo reset on a regime change (the
    * stale-LEO false-ack fix) made the pull-mode HW collapse to 0 at
    * EVERY epoch bump — even a re-election back to the same broker —
    * until followers re-fetched: a non-monotonic, truncation-shaped
    * observation no real consumer can see. The real broker resets
    * remote replica fetch state on makeLeader too, but its HW never
    * regresses on a clean election. The acks=all durability proof is
    * unaffected: awaitAcksAll reads [[followerLeo]] directly, so an
    * ack still requires fetch proof under the NEW epoch. */
  private val hwFloor = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Long]

  private def raiseHwFloor(topic: String, p: Int, v: Long): Unit = {
    val k = (topic, p)
    var done = false
    while (!done) hwFloor.putIfAbsent(k, v) match {
      case None => done = true
      case Some(old) => done = old >= v || hwFloor.replace(k, old, v)
    }
  }

  /** A follower learned the leader's advertised HW off a fetch
    * response: seed the floor, so a promotion of this process serves
    * consumers from the last HW it saw instead of 0 while the new
    * regime's fetch proofs accumulate. */
  def noteLearnedHw(topic: String, p: Int, hw: Long): Unit =
    if (hw > 0L) raiseHwFloor(topic, p, hw)
  private val hwMonitors = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Object]
  /** Monitor the acks=all purgatory parks on; follower-fetch progress
    * notifies it. */
  def hwMonitor(topic: String, p: Int): Object =
    hwMonitors.getOrElseUpdate((topic, p), new Object)

  /** Invoked after a controller command ([[tryApplyPartitionState]])
    * changes a partition's regime — the node's hook to reconcile its
    * replica fetchers. */
  @volatile var onPartitionState: (String, Int) => Unit = null

  /** Apply a CONTROLLER decision (the LeaderAndIsr request a real
    * controller pushes): leadership, epoch, ISR, and assignment are
    * FED, not computed — each process holds its own copy of this
    * state, kept consistent by the controller, exactly the real
    * design. The STALE-PUSH fence and the apply are ONE atomic step
    * under the election monitor — two concurrent controller pushes
    * must never both pass the epoch check and land out of order (a
    * delayed epoch-4 retransmission overwriting a fresh epoch-5
    * regime would regress leadership AND make the epoch gate fence
    * CURRENT-epoch requests) — and the same monitor serializes the
    * flip against in-flight appends, like the in-JVM moveLeader: an
    * append that passed its in-lock leaderOf re-check completes and
    * stamps its batch fully under the OLD regime (a NEW-epoch stamp
    * on a deposed leader's divergent batch would defeat the KIP-101
    * truncation walk). Returns 0 or FENCED_LEADER_EPOCH (epoch 0 at
    * first touch is the unassigned default — an initial push
    * carries epoch >= 1). */
  def tryApplyPartitionState(topic: String, p: Int, leader: Int,
      epoch: Int, isr: Set[Int], replicas: Seq[Int]): Int = {
    val applied = electionLock(topic, p) {
      if (epoch <= leaderEpochOf(topic, p) && leaderEpochOf(topic, p) > 0)
        false
      else {
        leaders.put((topic, p), leader)
        leaderEpochs.put((topic, p), epoch)
        isrMap.put((topic, p), isr)
        replicaSets.put((topic, p), replicas)
        // reset remote-replica fetch state for the NEW regime (the
        // real broker's makeLeader does the same): a recorded LEO from
        // the old epoch may be stale-HIGH — a revived empty
        // re-incarnation of the same broker id, or a follower about to
        // truncate a divergent suffix — and counting it toward the HW
        // lets awaitAcksAll falsely ack an acks=all produce before the
        // follower actually holds the data (acked-data loss at the
        // next election). A follower counts again only after a fetch
        // that passed the NEW epoch's gate re-reports its position.
        followerLeo.keysIterator
          .filter(k => k._2 == topic && k._3 == p)
          .foreach(followerLeo.remove)
        true
      }
    }
    if (applied) {
      val cb = onPartitionState
      if (cb != null) cb(topic, p)
      hwMonitor(topic, p).synchronized(hwMonitor(topic, p).notifyAll())
      0
    } else KafkaWire.Errors.FencedLeaderEpoch
  }

  /** Register a PEER broker's advertised address (from the
    * controller's live_leaders list) so metadata and the replica
    * fetchers can route to it. */
  def registerPeer(id: Int, host: String, port: Int): Unit =
    brokers.put(id, (host, port))

  /** Epoch history of a log, for the client-side truncation walk. */
  def epochHistory(log: Log): Vector[(Int, Long)] =
    log.synchronized(epochEntriesLocked(log))

  /** Truncate `log` to end exactly at `point` (the divergence point a
    * wire truncation walk computed), rebuilding transactional
    * metadata from the surviving prefix. */
  def truncateSuffix(log: Log, point: Long): Unit = log.synchronized {
    val keep = log.batches.takeWhile(_.end <= point)
    log.batches.dropRightInPlace(log.batches.length - keep.length)
    log.next = keep.lastOption.map(_.end).getOrElse(math.min(point, log.start))
    rebuildTxnMetaLocked(log)
  }

  /** Append a batch REPLICATED off the wire (the follower fetcher's
    * path): verbatim bytes, broker-assigned offsets, the leader's
    * epoch stamp — and the transactional metadata applied so this
    * replica can later lead with correct LSO/idempotence state. */
  def appendFetched(log: Log, rb: KafkaWire.RecordBatch): Unit =
    log.synchronized {
      // a batch may STRADDLE the replica's position after an
      // earliest-reset: DeleteRecords/retention can put the leader's
      // log start MID-batch, so the first batch it serves from
      // "earliest" has baseOffset < earliest < endOffset. The follower
      // mirrors the leader's physical shape — append the whole batch
      // verbatim, keeping log.start where the reset put it (the same
      // mid-batch logical start the leader has). Rejecting it wedged
      // the fetcher permanently: the require threw, the fetcher's
      // catch-all retried the identical fetch forever, and every
      // acks=all produce on the partition timed out.
      require(log.next == rb.baseOffset ||
          (log.batches.isEmpty && rb.baseOffset < log.next &&
            rb.endOffset > log.next),
        s"replica fetch out of order: local end ${log.next}, " +
          s"batch base ${rb.baseOffset}")
      val b = Batch(rb.baseOffset, rb.records, rb.codec,
        pid = rb.producerId, pEpoch = rb.producerEpoch,
        baseSeq = rb.baseSequence, raw = rb.raw,
        transactional = rb.transactional, control = rb.control,
        spanEnd = rb.endOffset, epoch = rb.partitionLeaderEpoch)
      log.batches += b
      log.next = b.end
      applyBatchMetaLocked(log, b)
    }

  /** Apply one batch's transactional side effects to a replica's
    * metadata (ongoing pins, aborted ranges, producer sequences) —
    * shared by the catch-up rebuild and the wire fetcher. Caller
    * holds the log lock. */
  private def applyBatchMetaLocked(log: Log, b: Batch): Unit = {
    if (b.control) {
      log.ongoing.remove(b.pid).foreach { first =>
        if (!isCommitMarker(b)) log.aborted += ((b.pid, first, b.base))
      }
    } else {
      if (b.transactional && b.pid >= 0L)
        log.ongoing.getOrElseUpdate(b.pid, b.base)
      if (b.pid >= 0L && b.baseSeq >= 0) {
        val st = log.pidStates.getOrElseUpdate(b.pid, new PidState)
        if (b.pEpoch > st.epoch) {
          st.epoch = b.pEpoch; st.nextSeq = 0; st.recent.clear()
        }
        st.nextSeq = b.baseSeq + b.records.length
        st.recent.append(
          (b.baseSeq, b.baseSeq + b.records.length - 1, b.base))
        if (st.recent.length > 5) st.recent.removeHead()
      }
    }
  }

  /** Rebuild all transactional metadata from the log's current
    * batches. Caller holds the log lock. */
  private def rebuildTxnMetaLocked(log: Log): Unit = {
    log.ongoing.clear(); log.aborted.clear(); log.pidStates.clear()
    log.batches.foreach(b => applyBatchMetaLocked(log, b))
  }

  /** Re-elect `p`'s leader (the controller's job in a real cluster) —
    * clients discover via NOT_LEADER + metadata refresh. With
    * replication, a CLEAN election only promotes an in-sync replica
    * (anything else can lose acked data); promoting an out-of-sync one
    * must be explicit — `allowUnclean` documents the loss the way
    * unclean.leader.election.enable does. Serialized against in-flight
    * appends by the election monitor (see [[electionLock]]). */
  def moveLeader(topic: String, p: Int, brokerId: Int,
      allowUnclean: Boolean = false): Unit = electionLock(topic, p) {
    require(brokers.contains(brokerId), s"unknown broker $brokerId")
    val unclean =
      replicationFactor > 1 && !isrOf(topic, p).contains(brokerId)
    if (unclean) {
      require(allowUnclean,
        s"broker $brokerId is not in $topic-$p's ISR — a clean election " +
          "cannot promote it (acked data would be lost); pass " +
          "allowUnclean = true to document the loss")
      // unclean promotion: the new leader's log IS the truth now, and
      // nothing else is in sync with it — the ISR collapses to the
      // leader alone (so the HW is ITS log end, never a deposed
      // replica's longer log); deposed replicas re-enter below
      isrMap.put((topic, p), Set(brokerId))
    }
    if (leaderOf(topic, p) != brokerId) bumpEpoch(topic, p)
    leaders.put((topic, p), brokerId)
    if (replicationFactor > 1 && !unclean)
      reconcileIsrTo(topic, p, brokerId)
    // after an UNCLEAN election the ISR stays collapsed at {leader}
    // until each deposed replica runs follower recovery — through
    // [[MiniKafkaCluster.catchUpBroker]] (the explicit entry point),
    // resumeReplication, or reviveBroker. The recovery truncates the
    // replica's divergent suffix at the epoch divergence point and
    // re-admits it, restoring acks=all with minInsyncReplicas > 1.
  }

  /** After a leadership change to `leader`, truncate any ISR member
    * whose log runs PAST the new leader's end — the deposed leader's
    * unreplicated acks<=1 tail (leader-epoch truncation). Those
    * records were above the high watermark, so no consumer ever saw
    * them; a SHORTER (lagging) member keeps its prefix and catches up
    * later. Runs on every election path — the controller's clean
    * handover (moveLeader) AND the broker-death election (markDead):
    * with RF >= 3 the elected survivor may be a lagging ISR member
    * while another survivor holds a longer log. */
  private def reconcileIsrTo(topic: String, p: Int, leader: Int): Unit = {
    val ll = logAt(leader, topic, p)
    val lend = ll.synchronized(ll.next)
    isrOf(topic, p).filter(b => b != leader && !deadBrokers.contains(b))
      .foreach { b =>
        val bl = logAt(b, topic, p)
        if (bl.synchronized(bl.next) > lend)
          syncReplicaTo(topic, p, leader, b)
      }
  }

  // ── replication (RF > 1: per-broker replica logs, ISR, HW) ──────────
  /** Per-(broker, topic, partition) replica logs — independent copies,
    * so a lagging or dead follower genuinely misses data. Unused at
    * RF = 1 (the shared [[logs]] store serves every broker). */
  private val replicaLogs = scala.collection.concurrent.TrieMap
    .empty[(Int, String, Int), Log]

  /** `brokerId`'s log for (topic, p): its own replica under RF > 1,
    * the shared log otherwise. */
  def logAt(brokerId: Int, topic: String, p: Int): Log =
    if (replicationFactor <= 1) logOf(topic, p)
    else replicaLogs.getOrElseUpdate((brokerId, topic, p), new Log)

  /** Replica assignment (leader first), fixed at first touch: RF
    * brokers counting up round-robin from the leader — the classic
    * rack-unaware assignment shape. */
  private val replicaSets = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Seq[Int]]
  def assignmentOf(topic: String, p: Int): Seq[Int] =
    if (replicationFactor <= 1) Seq(leaderOf(topic, p))
    else replicaSets.getOrElseUpdate((topic, p), {
      val ids = brokers.keys.toSeq.sorted
      val li = math.max(0, ids.indexOf(leaderOf(topic, p)))
      (0 until math.min(replicationFactor, ids.size))
        .map(i => ids((li + i) % ids.size))
    })

  /** IN-SYNC replicas (leader included). Starts at the full live
    * assignment; shrinks when a follower dies or lags under an
    * acks=all produce; regrows only through [[catchUp]]. */
  private val isrMap = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Set[Int]]
  def isrOf(topic: String, p: Int): Set[Int] =
    isrMap.getOrElseUpdate((topic, p),
      assignmentOf(topic, p).filterNot(deadBrokers.contains).toSet)
  /** Every ISR read-modify-write is LINEARIZED on the partition's
    * election monitor: the acks=all gate's shrink, the purgatory's
    * lag shrink, and the pull-mode follower admission all race on one
    * map — an unsynchronized read-compute-put could lose a shrink to
    * a concurrent admission and falsely ack an acks=all write whose
    * laggard then stayed ISR-eligible (silent loss at the next clean
    * election). Reentrant from callers already holding the lock. */
  def shrinkIsr(topic: String, p: Int, broker: Int): Unit =
    electionLock(topic, p) {
      isrMap.put((topic, p), isrOf(topic, p) - broker)
    }
  /** Leader-managed ISR admission (pull mode: the leader admits a
    * caught-up fetcher) — linearized like every ISR write. */
  def admitIsr(topic: String, p: Int, broker: Int): Unit =
    electionLock(topic, p) {
      isrMap.put((topic, p), isrOf(topic, p) + broker)
    }

  /** HIGH WATERMARK: the minimum log-end over the ISR. A consumer may
    * only read BELOW it — data above it exists only on the leader (or
    * a strict ISR subset) and dies with it, which is exactly the
    * acks<=1 loss window; bounding consumers at the HW is what makes
    * that loss invisible rather than a non-repeatable read. RF = 1:
    * the log's own end. */
  def highWatermark(topic: String, p: Int): Long =
    if (pullMode) {
      // the LEADER's computation (only the leader serves reads): its
      // own end, min'd with every ISR follower's REPORTED position —
      // a follower's progress is only what its fetches proved, never
      // a leader-side assumption (the cross-process honesty the
      // in-JVM push mode cannot model)
      val lid = leaderOf(topic, p)
      val lend = { val l = logAt(lid, topic, p); l.synchronized(l.next) }
      val ends = isrOf(topic, p).map(b =>
        if (b == lid) lend else followerLeo.getOrElse((b, topic, p), 0L))
      if (ends.isEmpty) -1L
      else {
        // monotonic floor (see [[hwFloor]]), clamped to what THIS
        // leader's log can actually serve — an unclean election to a
        // shorter log regresses the HW (real data loss), a clean one
        // never does
        val floored = math.max(ends.min,
          math.min(hwFloor.getOrElse((topic, p), 0L), lend))
        if (floored > 0L) raiseHwFloor(topic, p, floored)
        floored
      }
    } else if (replicationFactor <= 1) {
      val l = logOf(topic, p); l.synchronized(l.next)
    } else {
      def endAt(b: Int): Long = {
        val l = logAt(b, topic, p); l.synchronized(l.next)
      }
      val isr = isrOf(topic, p)
      if (isr.nonEmpty) isr.map(endAt).min
      else {
        // EMPTY ISR = the partition is offline (the leader died with
        // no in-sync survivor). The dead leader's stored log end is
        // NOT a servable watermark — no live replica can serve it, and
        // reporting it would let a test mistake an offline partition
        // for a readable one. Report the minimum over LIVE assigned
        // replicas (the most any future unclean election could make
        // durable), or the explicit offline sentinel -1 with none.
        val live = assignmentOf(topic, p).filterNot(deadBrokers.contains)
        if (live.isEmpty) -1L else live.map(endAt).min
      }
    }

  /** Partitions whose pinned high watermark was already warned about
    * — the acks<=1 paused-ISR hang diagnostic fires once per pin. */
  private val hwPinWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()
  /** A resume/revive ends every pin this broker could have warned
    * about — re-arm the once-per-pin warnings (the serve-path fast
    * path skips the per-fetch cleanup when nothing is paused). */
  def rearmHwPinWarnings(): Unit = hwPinWarned.clear()
  /** A follower paused during acks<=1 traffic stays in the ISR (the
    * real pre-replica.lag.time.max.ms window), pinning the high
    * watermark at its log end: read_uncommitted consumers see NOTHING
    * new until a resume or an acks=all produce shrinks it — correct,
    * but a silent hang if a spec forgets. Warn (once per pin) when a
    * read-path call observes the HW held below the leader end solely
    * by paused ISR members, so the stall is diagnosable. */
  def noteHwPin(topic: String, p: Int, hw: Long): Unit =
    // `hw` is the watermark the caller ALREADY computed for the fetch
    // — don't recompute it. Fast path: nothing paused, or RF = 1 →
    // one set lookup and out; the laggard scan runs only when a pin
    // is actually possible.
    if (replicationFactor > 1 && !pausedReplicas.isEmpty) {
      val leader = leaderOf(topic, p)
      val ll = logAt(leader, topic, p)
      val lend = ll.synchronized(ll.next)
      val laggards =
        if (hw >= 0 && hw < lend)
          isrOf(topic, p).filter { b =>
            val l = logAt(b, topic, p); l.synchronized(l.next) < lend
          }
        else Set.empty[Int]
      if (laggards.nonEmpty && laggards.forall(pausedReplicas.contains)) {
        if (hwPinWarned.add((topic, p)))
          System.err.println(s"[graft-kafka] WARN: high watermark of " +
            s"$topic-$p pinned at $hw below leader end $lend by PAUSED " +
            s"ISR member(s) ${laggards.toSeq.sorted.mkString(",")} — " +
            "consumers stall until resumeReplication(..) or an acks=all " +
            "produce shrinks them out")
      } else hwPinWarned.remove((topic, p))
    }

  /** Broker `id` FAILED: stop advertising it, drop it from every ISR,
    * and run a CLEAN election for each partition it led — the first
    * surviving in-sync replica takes over; with none, the partition
    * goes offline (the real controller's refusal without unclean
    * election). The TCP listener is the server's to close
    * ([[MiniKafkaCluster.failBroker]] does both). */
  def markDead(id: Int): Unit = {
    deadBrokers.add(id)
    brokers.remove(id)
    isrMap.keys.foreach(k =>
      electionLock(k._1, k._2)(isrMap.put(k, isrMap(k) - id)))
    leaders.snapshot().foreach { case ((t, p), l) =>
      if (l == id) electionLock(t, p) {
        if (leaderOf(t, p) == id) { // unchanged under the lock
          val live = isrOf(t, p).toSeq.sorted
          live.headOption.foreach { nl =>
            bumpEpoch(t, p) // every election is a new fencing regime
            leaders.put((t, p), nl)
            // the elected survivor may be the SHORTEST in-sync log
            // (a lagging ISR member) while another survivor holds the
            // dead leader's later appends — those truncate to the new
            // leader, same as any handover
            if (replicationFactor > 1) reconcileIsrTo(t, p, nl)
          }
        }
      }
    }
  }

  /** Make `brokerId`'s replicas consistent with their current leaders
    * and re-admit it to the ISR — the follower-fetch recovery a
    * resumed/revived broker runs. The follower's log becomes a MIRROR
    * of the leader's: any divergent suffix it held (a revived old
    * leader's acked-under-acks=1 tail the new leader never saw) is
    * TRUNCATED away — that data is lost, permanently and explicitly,
    * the documented acks=1 window. Transactional metadata (ongoing
    * pins, aborted ranges, producer sequence state) is REBUILT from
    * the copied batch walk, so a caught-up follower can later serve
    * as leader with correct LSO and idempotence behavior. */
  def catchUp(brokerId: Int): Unit = {
    if (replicationFactor <= 1) return
    replicaSets.snapshot().foreach { case ((topic, p), assigned) =>
      electionLock(topic, p) {
      val leader = leaderOf(topic, p)
      if (assigned.contains(brokerId) && leader == brokerId) {
        // a revived broker that still LEADS this partition: its own
        // log IS the truth (nothing newer was ever elected), and the
        // leader is trivially in sync with itself — without this
        // re-admission an offline partition would refuse acks=all
        // forever after its leader comes back. Re-electing the same
        // broker after an offline window is still an ELECTION: the
        // epoch bumps (the real controller's behavior on a bounce), so
        // any fetch pinned to the pre-death epoch is fenced.
        if (!isrOf(topic, p).contains(brokerId)) bumpEpoch(topic, p)
        isrMap.put((topic, p), isrOf(topic, p) + brokerId)
      } else if (assigned.contains(brokerId) &&
          deadBrokers.contains(leader)) {
        // the partition is OFFLINE: there is no live leader to fetch
        // from — the follower stays behind (and out of the ISR) until
        // the leader revives
      } else if (assigned.contains(brokerId) && leader != brokerId) {
        syncReplicaTo(topic, p, leader, brokerId)
        isrMap.put((topic, p), isrOf(topic, p) + brokerId)
      }
      }
    }
  }

  /** The log's leader-epoch history — (epoch, startOffset) per
    * distinct epoch in append order, the real broker's leader-epoch
    * checkpoint file derived from the batch stamps. Pre-epoch batches
    * (epoch -1, e.g. pre-upgrade test logs) contribute no entry: a
    * log with no entries resolves every divergence to a full resync,
    * the behavior the old full-mirror had. Caller holds the log lock. */
  private def epochEntriesLocked(log: Log): Vector[(Int, Long)] = {
    val out = Vector.newBuilder[(Int, Long)]
    var last = -1
    log.batches.foreach { b =>
      if (b.epoch >= 0 && b.epoch != last) {
        out += ((b.epoch, b.base)); last = b.epoch
      }
    }
    out.result()
  }

  /** OffsetsForLeaderEpoch's answer: the largest epoch <= `asked` in
    * this log's history, with that epoch's EXCLUSIVE end offset (the
    * next epoch's start, or the log end for the latest). (-1, -1) =
    * UNKNOWN (no epoch at or below `asked`). */
  def endOffsetForEpoch(log: Log, asked: Int): (Int, Long) =
    log.synchronized {
      val entries = epochEntriesLocked(log)
      val i = entries.lastIndexWhere(_._1 <= asked)
      if (i < 0) (-1, -1L)
      else {
        val (e, _) = entries(i)
        val end =
          if (i + 1 < entries.size) entries(i + 1)._2 else log.next
        (e, end)
      }
    }

  /** The first offset at which follower `fl` may DIVERGE from leader
    * `ll` — the OffsetsForLeaderEpoch truncation walk (KIP-101):
    * starting from the follower's latest epoch, ask the leader for
    * that epoch's end offset; when the leader knows the epoch, the
    * logs agree below min(leaderEnd, followerEnd); when the leader's
    * largest epoch at-or-below it is SMALLER, the follower's entries
    * above that epoch are divergent — drop them and retry one epoch
    * down. No epoch history (pre-epoch logs) → 0, a full resync.
    * Caller holds both log locks. */
  private def divergencePointLocked(ll: Log, fl: Log): Long = {
    val fe = epochEntriesLocked(fl)
    var i = fe.size - 1
    while (i >= 0) {
      val (e, _) = fe(i)
      val (le, lend) = {
        // endOffsetForEpoch inline: the leader lock is already held
        val entries = epochEntriesLocked(ll)
        val j = entries.lastIndexWhere(_._1 <= e)
        if (j < 0) (-1, -1L)
        else (entries(j)._1,
          if (j + 1 < entries.size) entries(j + 1)._2 else ll.next)
      }
      if (le == e) return math.min(lend, fl.next)
      else if (le < 0) return 0L // leader predates every follower epoch
      else i = fe.lastIndexWhere(_._1 <= le, i) // drop divergent epochs
    }
    0L
  }

  /** Test oracle: per-partition record of the last [[syncReplicaTo]]
    * — (truncation point, batches copied) — pins that catch-up
    * truncates ONLY the divergent suffix and copies ONLY the missing
    * one, instead of rewriting the whole replica. */
  val lastSync = scala.collection.concurrent.TrieMap
    .empty[(String, Int), (Long, Int)]

  /** Make `brokerId`'s replica of (topic, p) consistent with
    * `leader`'s log — the follower-fetch recovery, done the way the
    * protocol does it (KIP-101): find the divergence point via the
    * leader-epoch histories, truncate the follower's divergent suffix
    * (acks<=1 data above the high watermark no consumer ever saw),
    * then copy only the leader's missing suffix. Transactional
    * metadata (ongoing pins, aborted ranges, producer sequence state)
    * is REBUILT from the resulting batch walk, so a caught-up replica
    * can later serve as leader with correct LSO and idempotence
    * behavior. */
  private def syncReplicaTo(topic: String, p: Int, leader: Int,
      brokerId: Int): Unit = {
    val ll = logAt(leader, topic, p)
    val fl = logAt(brokerId, topic, p)
    // lock order leader-then-follower, same as live replication
    ll.synchronized { fl.synchronized {
      val point = divergencePointLocked(ll, fl)
      // truncate the follower to the divergence point — batches are
      // append-atomic and epochs stamp whole batches, so the point
      // lands on a batch boundary of any log that shares the prefix;
      // a straddling batch (defensive) truncates too
      val keep = fl.batches.takeWhile(_.end <= point)
      fl.batches.dropRightInPlace(fl.batches.length - keep.length)
      fl.next = keep.lastOption.map(_.end).getOrElse(0L)
      // copy the leader's missing suffix (retention may have advanced
      // the leader's start past the follower's position — the copy
      // walk serves whatever the leader still has from fl.next up)
      var copied = 0
      ll.batches.foreach { b =>
        if (b.base >= fl.next) { fl.batches += b; copied += 1 }
      }
      fl.next = ll.next
      fl.start = ll.start
      lastSync.put((topic, p), (point, copied))
      // rebuild transactional metadata from the final batch walk
      rebuildTxnMetaLocked(fl)
    } }
  }

  /** A control batch's verdict: key = [version int16 | type int16],
    * type 1 = commit (the published control-record schema). */
  def isCommitMarker(b: Batch): Boolean =
    b.records.headOption.exists { r =>
      r.key != null && r.key.length >= 4 &&
        (((r.key(2) & 0xff) << 8) | (r.key(3) & 0xff)) == 1
    }
}

final class MiniKafkaServer(numPartitions: Int = 2,
    state: KafkaClusterState = new KafkaClusterState, brokerId: Int = 0) {
  import MiniKafkaServer.DropConnection
  import state._

  private def groupStateOf(id: String): Group =
    groups.getOrElseUpdate(id, new Group)

  /** THIS broker's log for (topic, p): its own replica under RF > 1,
    * the shared log otherwise. Every data-path handler reads/writes
    * through this — a follower's copy is genuinely separate storage. */
  private def log(topic: String, p: Int): Log =
    state.logAt(brokerId, topic, p)

  /** The followers `leader` replicates an append to RIGHT NOW:
    * assigned, alive, in-sync, not paused. A paused follower in the
    * ISR is the open loss window (acks<=1 proceeds without it); a
    * paused follower under acks=all is shrunk out by [[acksAllGate]]
    * before this is consulted. `paused` is the ONE per-produce
    * snapshot shared with the gate (see
    * [[KafkaClusterState.pausedSnapshot]]) so the two decisions
    * cannot straddle a concurrent pause. */
  private def replicationTargets(topic: String, p: Int,
      leader: Int, paused: Set[Int]): Seq[Int] =
    if (state.replicationFactor <= 1 || state.pullMode) Seq.empty
    else state.assignmentOf(topic, p).filter { b =>
      b != leader && state.isrOf(topic, p).contains(b) &&
        !state.deadBrokers.contains(b) && !paused.contains(b)
    }

  /** Run `body` on follower `f`'s replica of (topic, p) under its
    * lock, after asserting the replica is positioned exactly at
    * `base` — the ONE divergence check every replication site uses
    * (produce and transaction markers). Always called with the
    * LEADER's log lock held, so lock order is leader-then-follower
    * everywhere. */
  private def replicateTo(f: Int, topic: String, p: Int, base: Long)(
      body: Log => Unit): Unit = {
    val fl = state.logAt(f, topic, p)
    fl.synchronized {
      require(fl.next == base,
        s"in-sync replica $f of $topic-$p diverged (${fl.next} != $base)")
      body(fl)
    }
  }

  /** The acks=all admission gate: first collapse lag detection (a
    * paused/dead follower leaves the ISR immediately — the double's
    * replica.lag.time.max.ms is zero so specs are deterministic), then
    * require `minInsyncReplicas` in-sync copies. On refusal NOTHING is
    * appended and the producer hears NOT_ENOUGH_REPLICAS — durability
    * is refused loudly, never silently downgraded (the real broker's
    * pre-append check). */
  private def acksAllGate(topic: String, p: Int, paused: Set[Int]): Int = {
    if (state.replicationFactor > 1) {
      state.assignmentOf(topic, p)
        .filter(b => b != brokerId &&
          (paused.contains(b) || state.deadBrokers.contains(b)))
        .foreach(b => state.shrinkIsr(topic, p, b))
      if (state.isrOf(topic, p).size < state.minInsyncReplicas)
        return KafkaWire.Errors.NotEnoughReplicas
    }
    0
  }

  /** The PULL-MODE acks=all purgatory: the batch is already in the
    * leader's log; park until the high watermark covers `end` (every
    * ISR follower's fetch offsets PROVED the batch landed there), or
    * — at the deadline, the double's replica.lag.time.max.ms — shrink
    * the laggards out of the ISR so the HW can advance, and let
    * min.insync.replicas decide whether the write still got its
    * durability. A failed wait is NOT_ENOUGH_REPLICAS_AFTER_APPEND
    * (error 20): unlike the pre-append refusal, the record IS in the
    * log — a retry would duplicate it, which is exactly what the real
    * error code warns producers about. */
  private def awaitAcksAll(topic: String, p: Int, end: Long): Int = {
    if (!state.pullMode) return 0
    val mon = state.hwMonitor(topic, p)
    val deadline = System.currentTimeMillis() + state.ackTimeoutMs
    mon.synchronized {
      while (state.highWatermark(topic, p) < end &&
          System.currentTimeMillis() < deadline)
        mon.wait(10)
    }
    if (state.highWatermark(topic, p) >= end) 0
    else {
      state.isrOf(topic, p)
        .filter(b => b != brokerId &&
          state.followerLeo.getOrElse((b, topic, p), 0L) < end)
        .foreach(b => state.shrinkIsr(topic, p, b))
      if (state.isrOf(topic, p).size < state.minInsyncReplicas)
        KafkaWire.Errors.NotEnoughReplicasAfterAppend
      else 0
    }
  }

  // ── group coordinator (classic membership protocol) ─────────────────
  //
  // The r14 offset storage above served STANDALONE consumers
  // (generation -1, empty member). This is the other half the reference
  // consumer actually uses (kafka-python with a group_id gets
  // coordinator-ASSIGNED partitions and rebalances): FindCoordinator /
  // JoinGroup / SyncGroup / Heartbeat / LeaveGroup v0, the classic
  // protocol. The coordinator only brokers MEMBERSHIP — partition
  // assignment is computed client-side by the elected leader (the
  // published design: the broker never parses the embedded consumer
  // protocol), so the double stores subscription/assignment metadata
  // as opaque bytes. JoinGroup PARKS the calling connection thread
  // until every known member has re-joined or the rebalance deadline
  // passes (members that never re-join are evicted), exactly the real
  // coordinator's barrier; one thread per connection makes the park
  // safe.

  /** Move the group into a new rebalance round; parked SyncGroup
    * waiters wake and answer REBALANCE_IN_PROGRESS. Caller holds the
    * group monitor. */
  private def prepareRebalance(g: Group): Unit = {
    g.state = "Preparing"
    g.rejoined.clear()
    g.notifyAll()
  }

  /** Evict members whose session deadline passed (the lazy sweep a
    * single-threaded double uses instead of a timer wheel); an
    * eviction from a live group triggers a rebalance. Caller holds
    * the group monitor. */
  private def expireMembers(g: Group): Unit = {
    val now = System.currentTimeMillis()
    val dead = g.members.valuesIterator.filter(_.deadline < now)
      .map(_.id).toList
    if (dead.nonEmpty) {
      dead.foreach(g.members.remove)
      if (g.members.isEmpty) {
        g.state = "Empty"; g.assignments = Map.empty; g.leader = null
        g.generation += 1 // an evicted zombie's old generation stays stale
      } else prepareRebalance(g)
    }
  }

  /** DeleteRecords v0 (api 21): the PROTOCOL surface over
    * [[truncateBefore]] — retention driven by a client call, the way
    * kafka-delete-records.sh does it. Responds the new low watermark
    * per partition. */
  private def deleteRecordsV0(r: Reader): Array[Byte] = {
    val nTopics = r.int32()
    val resp = (0 until nTopics).map { _ =>
      val topic = r.str()
      val nParts = r.int32()
      val parts = (0 until nParts).map { _ =>
        val p = r.int32(); val before = r.int64()
        if (leaderOf(topic, p) != brokerId)
          (p, -1L, KafkaWire.Errors.NotLeaderForPartition)
        else state.electionLock(topic, p) {
          truncateBefore(topic, p, before)
          // retention is cluster-wide: live replicas advance their
          // log-start too (followers replicate the leader's start in a
          // real cluster); a paused follower catches up via catchUp
          if (state.replicationFactor > 1)
            replicationTargets(topic, p, brokerId, state.pausedSnapshot)
              .foreach { f =>
                truncateOn(state.logAt(f, topic, p), before)
              }
          val log = this.log(topic, p)
          (p, log.synchronized(log.start), 0)
        }
      }
      (topic, parts)
    }
    r.int32() // timeout_ms
    val w = new Writer().int32(0).int32(resp.length)
    resp.foreach { case (topic, parts) =>
      w.str(topic).int32(parts.length)
      parts.foreach { case (p, low, err) => w.int32(p).int64(low).int16(err) }
    }
    w.result()
  }

  /** DescribeGroups v0 (api 15): the coordinator's view of each group
    * — state, protocol, members with their subscription and assignment
    * bytes (what `kafka-consumer-groups.sh --describe` reads). State
    * names are the canonical coordinator states. */
  private def describeGroupsV0(r: Reader): Array[Byte] = {
    val n = r.int32()
    val ids = (0 until n).map(_ => r.str())
    val w = new Writer().int32(ids.length)
    ids.foreach { id =>
      groups.get(id) match {
        case None =>
          // an unknown group is DEAD with no members, not an error —
          // the protocol's convention
          w.int16(0).str(id).str("Dead").str("").str("").int32(0)
        case Some(g) => g.synchronized {
          val state = g.state match {
            case "Preparing" => "PreparingRebalance"
            case "AwaitingSync" => "CompletingRebalance"
            case s => s // Empty | Stable
          }
          w.int16(0).str(id).str(state)
            .str(if (g.members.isEmpty) "" else "consumer")
            .str(Option(g.protocol).getOrElse(""))
          w.int32(g.members.size)
          g.members.foreach { case (mid, m) =>
            w.str(mid).str("graft").str("/127.0.0.1")
              .bytes(m.metadataFor(Option(g.protocol).getOrElse("")))
              .bytes(g.assignments.getOrElse(mid, Array.emptyByteArray))
          }
        }
      }
    }
    w.result()
  }

  /** ListGroups v0 (api 16): every group this coordinator knows —
    * the `kafka-consumer-groups.sh --list` surface. */
  private def listGroupsV0(r: Reader): Array[Byte] = {
    val ids = groups.keys.toSeq.sorted
    val w = new Writer().int16(0).int32(ids.length)
    ids.foreach { id =>
      val live = groups.get(id).exists(g => g.synchronized(g.members.nonEmpty))
      w.str(id).str(if (live) "consumer" else "")
    }
    w.result()
  }

  private def findCoordinatorV0(r: Reader): Array[Byte] = {
    r.str() // group id — broker 0 coordinates every group (convention)
    val (h, pt) = state.brokers.getOrElse(0, ("localhost", port))
    new Writer().int16(0).int32(0).str(h).int32(pt).result()
  }

  /** JoinGroup v0/v1 (api 11). v1 adds `rebalance_timeout_ms` after
    * the session timeout — v0 couples the rebalance deadline to the
    * session timeout (a slow-joining member forces either long stalls
    * or tight sessions); v1 separates them, so a member may keep a
    * long session (survive slow polls) while the JOIN BARRIER cuts
    * non-rejoining members at a short rebalance deadline. The
    * response is identical in both versions. */
  private def joinGroupV0(r: Reader, version: Int): Array[Byte] = {
    val groupId = r.str()
    val sessionTimeout = r.int32()
    val rebalanceTimeout = if (version >= 1) r.int32() else sessionTimeout
    val memberIdIn = r.str()
    r.str() // protocol_type ("consumer")
    val nProtos = r.int32()
    val protos = (0 until nProtos).map(_ => (r.str(), r.bytes()))
    val g = groupStateOf(groupId)
    g.synchronized {
      expireMembers(g)
      def joinError(code: Int): Array[Byte] =
        new Writer().int16(code).int32(-1)
          .str(null).str(null).str(memberIdIn).int32(0).result()
      // INCONSISTENT_GROUP_PROTOCOL at the DOOR (the real
      // coordinator's doJoinGroup check): a member sharing no
      // assignment protocol with the existing membership can never
      // form a group — reject it now, before the barrier
      val othersCommon = g.members.collect {
        case (mid, mm) if mid != memberIdIn => mm.protocols.map(_._1).toSet
      }.reduceOption(_ intersect _)
      if (memberIdIn.nonEmpty && !g.members.contains(memberIdIn))
        // a forgotten/evicted id must NOT silently re-enter with stale
        // identity — the client resets to "" and re-joins fresh
        joinError(KafkaWire.Errors.UnknownMemberId)
      else if (othersCommon.exists(_.intersect(protos.map(_._1).toSet).isEmpty))
        joinError(KafkaWire.Errors.InconsistentGroupProtocol)
      else {
        val id = if (memberIdIn.isEmpty)
          s"graft-${nextMemberId.incrementAndGet()}" else memberIdIn
        val m = g.members.getOrElseUpdate(id, new Member(id))
        m.sessionTimeoutMs = sessionTimeout
        m.protocols = protos
        m.touch()
        if (g.state != "Preparing") prepareRebalance(g)
        g.rejoined += id
        g.notifyAll()
        // the join barrier: park until every known member re-joined or
        // the rebalance deadline passes (v0 has no rebalance_timeout —
        // the session timeout doubles as it, the published v0 contract;
        // v1 carries the separate rebalance_timeout parsed above)
        val deadline = System.currentTimeMillis() + rebalanceTimeout
        while (g.state == "Preparing" &&
            !g.members.keysIterator.forall(g.rejoined.contains) &&
            System.currentTimeMillis() < deadline)
          g.wait(20)
        if (g.state == "Preparing") {
          // this thread completes the round: members that never
          // re-joined are evicted, the generation bumps, the first
          // surviving member (or the incumbent) leads
          val gone = g.members.keysIterator.filterNot(g.rejoined.contains).toList
          gone.foreach(g.members.remove)
          g.generation += 1
          // protocol SELECTION, the real coordinator's rule: among the
          // protocols EVERY member supports, each member votes for its
          // most-preferred candidate; plurality wins (ties by name, for
          // determinism). A group with no common protocol cannot form.
          val members = g.members.values.toSeq
          val candidates = members.map(_.protocols.map(_._1).toSet)
            .reduceOption(_ intersect _).getOrElse(Set.empty)
          require(candidates.nonEmpty,
            s"group '$groupId' has no assignment protocol all members support")
          val votes = members.flatMap(_.protocols.map(_._1)
            .find(candidates.contains))
          g.protocol = votes.groupBy(identity).toSeq
            .maxBy { case (name, vs) => (vs.length, name) }._1
          if (g.leader == null || !g.members.contains(g.leader))
            g.leader = g.members.keysIterator.next()
          g.assignments = Map.empty
          g.state = "AwaitingSync"
          g.notifyAll()
        }
        val w = new Writer().int16(0).int32(g.generation).str(g.protocol)
          .str(g.leader).str(id)
        // only the LEADER sees the member list (it computes the
        // assignment client-side from everyone's SELECTED-protocol
        // subscription bytes)
        val list = if (id == g.leader) g.members.toSeq else Seq.empty
        w.int32(list.length)
        list.foreach { case (mid, mm) =>
          w.str(mid).bytes(mm.metadataFor(g.protocol)) }
        w.result()
      }
    }
  }

  private def syncGroupV0(r: Reader): Array[Byte] = {
    val groupId = r.str()
    val gen = r.int32()
    val member = r.str()
    val n = r.int32()
    val assigns = (0 until n).map(_ => (r.str(), r.bytes()))
    def err(code: Int) = new Writer().int16(code).bytes(null).result()
    val g = groupStateOf(groupId)
    g.synchronized {
      if (!g.members.contains(member)) err(KafkaWire.Errors.UnknownMemberId)
      else if (gen != g.generation) err(KafkaWire.Errors.IllegalGeneration)
      else if (g.state == "Preparing") err(KafkaWire.Errors.RebalanceInProgress)
      else {
        g.members(member).touch()
        if (member == g.leader && assigns.nonEmpty) {
          g.assignments = assigns.toMap
          g.state = "Stable"
          g.notifyAll()
        }
        // followers park here until the leader delivers the assignment
        val deadline = System.currentTimeMillis() +
          g.members(member).sessionTimeoutMs
        while (g.state == "AwaitingSync" && gen == g.generation &&
            System.currentTimeMillis() < deadline)
          g.wait(20)
        if (g.state == "Stable" && gen == g.generation)
          new Writer().int16(0)
            .bytes(g.assignments.getOrElse(member, Array.emptyByteArray))
            .result()
        else err(KafkaWire.Errors.RebalanceInProgress)
      }
    }
  }

  private def heartbeatV0(r: Reader): Array[Byte] = {
    val groupId = r.str()
    val gen = r.int32()
    val member = r.str()
    val g = groupStateOf(groupId)
    val err = g.synchronized {
      expireMembers(g)
      if (!g.members.contains(member)) KafkaWire.Errors.UnknownMemberId
      else {
        g.members(member).touch() // alive even when a rebalance is due
        if (gen != g.generation) KafkaWire.Errors.IllegalGeneration
        else if (g.state != "Stable") KafkaWire.Errors.RebalanceInProgress
        else 0
      }
    }
    new Writer().int16(err).result()
  }

  private def leaveGroupV0(r: Reader): Array[Byte] = {
    val groupId = r.str()
    val member = r.str()
    val g = groupStateOf(groupId)
    val err = g.synchronized {
      if (!g.members.contains(member)) KafkaWire.Errors.UnknownMemberId
      else {
        g.members.remove(member)
        if (g.members.isEmpty) {
          g.state = "Empty"; g.assignments = Map.empty; g.leader = null
          g.generation += 1 // the departed member's generation is now stale
        } else prepareRebalance(g)
        0
      }
    }
    new Writer().int16(err).result()
  }

  // ── fault injection (one-shot counters) ─────────────────────────────
  val dropNextProduce = new java.util.concurrent.atomic.AtomicInteger(0)
  val dropNextProduceAfterAppend =
    new java.util.concurrent.atomic.AtomicInteger(0)
  val truncateNextFetch = new java.util.concurrent.atomic.AtomicInteger(0)
  val corruptNextCorrelation =
    new java.util.concurrent.atomic.AtomicInteger(0)
  /** Count of Produce requests whose records were appended to the log
    * (acked or not) — the duplicates-on-retry oracle. */
  val producesAppended = new java.util.concurrent.atomic.AtomicInteger(0)

  private def consume(c: java.util.concurrent.atomic.AtomicInteger): Boolean = {
    while (true) {
      val v = c.get()
      if (v <= 0) return false
      if (c.compareAndSet(v, v - 1)) return true
    }
    false
  }

  private val server = new java.net.ServerSocket(0)
  def port: Int = server.getLocalPort
  // this broker's cluster identity: leadership routing keys on it
  state.brokers.put(brokerId, ("localhost", port))
  @volatile private var running = true

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        val t = new Thread(() => serve(s))
        t.setDaemon(true); t.start()
      } catch { case _: Exception => /* closed */ }
    }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = { running = false; server.close() }

  /** DATA records currently stored in THIS broker's replica of
    * (topic, partition) — test oracle; transaction control markers
    * occupy offsets but are not data. */
  def stored(topic: String, p: Int): Seq[Record] = {
    val l = log(topic, p)
    l.synchronized { l.batches.filter(!_.control).flatMap(_.records).toSeq }
  }

  /** The last stable offset of THIS broker's replica of (topic,
    * partition) — test oracle for the open-transaction blocking
    * contract. */
  def lastStable(topic: String, p: Int): Long = {
    val l = log(topic, p)
    l.synchronized(l.lso)
  }

  /** LOG COMPACTION: keep only the LATEST record per key (the
    * `cleanup.policy=compact` topics CDC pipelines replay), preserving
    * every surviving record's ORIGINAL offset — earlier writes of a
    * key become OFFSET GAPS, exactly what a real compacted log hands a
    * consumer. Null-KEYED records never compact (no identity); a
    * null-VALUED record is the key's tombstone — it stays visible as
    * the latest unless `purgeTombstones` (the cleaner's later
    * delete-retention pass) removes the key entirely. Batch headers
    * keep their original offset span (`spanEnd`), the real broker's
    * behavior, so cursors advance past gaps; a fully-compacted batch
    * is retained as an EMPTY v2 batch (records=0, span intact) — also
    * the real broker's shape. Control markers are not data and are
    * kept. The cleaner is transaction-aware: ABORTED records are
    * removed (never a key's survivor) and nothing at/after the last
    * stable offset is touched. */
  def compact(topic: String, p: Int, purgeTombstones: Boolean = false): Unit = {
    // each broker cleans its OWN replica (real cleaners run per broker)
    val log = this.log(topic, p)
    log.synchronized {
      def keyOf(k: Array[Byte]): String =
        java.util.Base64.getEncoder.encodeToString(k)
      // The cleaner is TRANSACTION-aware, like the real one:
      //  - records of ABORTED transactions are physically removed and
      //    can never be a key's survivor (a naive latest-by-offset
      //    would let an aborted write shadow its committed predecessor
      //    OUT of the log — data loss for read_committed replays);
      //  - nothing at/after the LSO is touched (open transactions are
      //    unstable; the real cleaner stops at the stable horizon).
      val lso = log.lso
      def isAborted(b: Batch, r: Record): Boolean =
        b.transactional && b.pid >= 0L && log.aborted.exists {
          case (pid, first, marker) =>
            pid == b.pid && first <= r.offset && r.offset < marker
        }
      val latest = scala.collection.mutable.Map.empty[String, Long]
      for (b <- log.batches if !b.control;
           r <- b.records
           if r.key != null && r.offset < lso && !isAborted(b, r))
        latest(keyOf(r.key)) = r.offset // in-order walk: last write wins
      val rebuilt = log.batches.map { b =>
        if (b.control) b
        else {
          val kept = b.records.filter { r =>
            if (r.offset >= lso) true // unstable tail: never cleaned
            else if (isAborted(b, r)) false // cleaner removes aborted data
            else if (r.key == null) true
            else latest(keyOf(r.key)) == r.offset &&
              !(purgeTombstones && r.value == null)
          }
          if (kept.length == b.records.length) b
          else {
            val span = b.end
            // re-encode as v2 with the ORIGINAL lastOffsetDelta: the
            // count shrinks, the span does not (empty batches allowed);
            // the batch keeps the epoch it was appended under — stamp
            // the fresh bytes here, not on serve
            val raw = KafkaWire.encodeRecordBatch(b.base, kept,
              KafkaWire.Codec.None, b.pid, b.pEpoch, b.baseSeq,
              transactional = b.transactional,
              lastOffsetDeltaOverride = (span - b.base - 1).toInt)
            if (b.epoch >= 0) KafkaWire.stampLeaderEpoch(raw, b.epoch)
            b.copy(records = kept, codec = 0, raw = raw,
              spanEnd = span)
          }
        }
      }
      log.batches.clear()
      log.batches ++= rebuilt
    }
  }

  /** RETENTION: advance (topic, partition)'s log-start offset to
    * `offset`, dropping every batch wholly below it — what time/size
    * retention does to a real log's head. Offsets already consumed by
    * a checkpoint may now be below the log start; the consumer's
    * failOnDataLoss contract decides what happens then. A batch
    * STRADDLING `offset` survives whole (real retention deletes whole
    * segments), so a post-truncation earliest fetch may still serve a
    * few below-start records — the client's below-cursor drop path. */
  def truncateBefore(topic: String, p: Int, offset: Long): Unit =
    truncateOn(log(topic, p), offset)

  private def truncateOn(log: Log, offset: Long): Unit =
    log.synchronized {
      val keep = log.batches.filter(_.end > offset)
      log.batches.clear()
      log.batches ++= keep
      log.start = math.max(log.start, math.min(offset, log.next))
    }

  /** The codec each stored batch arrived with — the did-it-actually-
    * compress oracle for the sink's `codec` option. */
  def storedBatchCodecs(topic: String, p: Int): Seq[Int] = {
    val l = log(topic, p)
    l.synchronized(l.batches.map(_.codec).toSeq)
  }

  private def serve(sock: java.net.Socket): Unit = {
    sock.setTcpNoDelay(true) // response latency, not throughput batching
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream, 1 << 16))
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16))
    try {
      while (true) {
        val len = in.readInt()
        val req = new Array[Byte](len)
        in.readFully(req)
        val r = new Reader(req)
        val apiKey = r.int16(); val apiVersion = r.int16()
        val corr = r.int32(); r.str() // client_id
        val body: Array[Byte] = (apiKey, apiVersion) match {
          case (18, 0) => apiVersionsV0()
          // v1/v2: the v0 body plus trailing throttle_time_ms — inside
          // the advertised (0,3) range, so a client legitimately
          // negotiating mid-range must be served, not dropped
          case (18, 1 | 2) => apiVersionsV1or2()
          case (18, 3) => apiVersionsV3(r)
          // the data path: exactly the one version each API advertises
          case (0, 3) => produceV3(r)
          case (1, 9) => fetchV9(r)
          case (2, 2) => listOffsetsV2(r)
          case (3, 9) => metadataV9(r)
          case (4, 0) => leaderAndIsrV0(r)
          case (23, 2) => offsetsForLeaderEpochV2(r)
          case (8, 2) => offsetCommitV2(r)
          case (9, 1) => offsetFetchV1(r)
          case (10, 0) => findCoordinatorV0(r)
          case (15, 0) => describeGroupsV0(r)
          case (16, 0) => listGroupsV0(r)
          case (21, 0) => deleteRecordsV0(r)
          case (11, v @ (0 | 1)) => joinGroupV0(r, v)
          case (12, 0) => heartbeatV0(r)
          case (13, 0) => leaveGroupV0(r)
          case (14, 0) => syncGroupV0(r)
          case (22, 0) => initProducerIdV0(r)
          case (24, 0) => addPartitionsToTxnV0(r)
          case (25, 0) => addOffsetsToTxnV0(r)
          case (26, 0) => endTxnV0(r)
          case (28, 0) => txnOffsetCommitV0(r)
          case other => sys.error(s"unsupported api $other")
        }
        val sentCorr =
          if (consume(corruptNextCorrelation)) corr + 1 else corr
        val framed = new Writer().int32(sentCorr).raw(body).result()
        if (apiKey == 1 && consume(truncateNextFetch)) {
          // torn frame: full length prefix, half the bytes, then close
          out.writeInt(framed.length)
          out.write(framed, 0, framed.length / 2); out.flush()
          throw new DropConnection
        }
        out.writeInt(framed.length); out.write(framed); out.flush()
      }
    } catch {
      case _: java.io.EOFException | _: java.net.SocketException |
          _: DropConnection =>
    }
    finally sock.close()
  }

  /** The advertised (api, min, max) table — one source for every
    * ApiVersions generation, and exactly what the dispatch in serve()
    * answers. */
  private val apiTable: Seq[(Int, Int, Int)] =
    Seq((0, 3, 3), (1, 9, 9), (2, 2, 2), (3, 9, 9), (4, 0, 0),
      (8, 2, 2), (9, 1, 1), (10, 0, 0), (11, 0, 1), (12, 0, 0),
      (13, 0, 0), (14, 0, 0), (15, 0, 0), (16, 0, 0), (18, 0, 3),
      (21, 0, 0), (22, 0, 0), (23, 2, 2), (24, 0, 0), (25, 0, 0),
      (26, 0, 0), (28, 0, 0))

  private def apiVersionsV0(): Array[Byte] = {
    val apis = apiTable
    val w = new Writer().int16(0).int32(apis.length)
    apis.foreach { case (k, lo, hi) => w.int16(k).int16(lo).int16(hi) }
    w.result()
  }

  /** ApiVersions v1/v2 — identical wire shape to each other: the v0
    * body followed by throttle_time_ms (the published layout; v2 only
    * changed broker-side throttling semantics, not the encoding). */
  private def apiVersionsV1or2(): Array[Byte] = {
    val apis = apiTable
    val w = new Writer().int16(0).int32(apis.length)
    apis.foreach { case (k, lo, hi) => w.int16(k).int16(lo).int16(hi) }
    w.int32(0) // throttle_time_ms
    w.result()
  }

  /** ApiVersions v3 — the FLEXIBLE handshake (KIP-482/KIP-511):
    * request header v2 (tag buffer after client_id, consumed here),
    * compact client_software_name/version in the body; the response
    * is compact-encoded with per-entry tag buffers and throttle_time
    * AFTER the array (the v1+ layout). Response header stays v0, the
    * protocol's special case. */
  private def apiVersionsV3(r: Reader): Array[Byte] = {
    r.skipTags()    // request header v2's tag buffer
    r.compactStr()  // client_software_name
    r.compactStr()  // client_software_version
    r.skipTags()
    val apis = apiTable
    val w = new Writer().int16(0).compactArrayLen(apis.length)
    apis.foreach { case (k, lo, hi) =>
      w.int16(k).int16(lo).int16(hi).tagsEmpty()
    }
    w.int32(0) // throttle_time_ms
    w.tagsEmpty()
    w.result()
  }

  /** Metadata v9 (api 3), the flexible encoding (KIP-482): compact
    * strings/arrays and tag buffers throughout, request header v2,
    * response header v1 (the leading tag buffer below). Each partition
    * row carries its leader_epoch (KIP-320's client-side fencing
    * token): a routing client pins its fetches to it, so a stale view
    * after a re-election is FENCED by the leader instead of silently
    * served. */
  private def metadataV9(r: Reader): Array[Byte] = {
    r.skipTags() // request header v2's tag buffer
    val n = r.compactArrayLen()
    require(n >= 0, "metadata v9 with null topics (all-topics) " +
      "is not served by the double — name the topics")
    val topics = (0 until n).map { _ =>
      val name = r.compactStr(); r.skipTags(); name
    }
    r.int8() // allow_auto_topic_creation
    r.int8(); r.int8() // include cluster/topic authorized ops (v8+)
    r.skipTags()
    val w = new Writer()
      .tagsEmpty() // response header v1's tag buffer
      .int32(0)    // throttle_time_ms
    val bs = state.brokers.toSeq.sortBy(_._1)
    w.compactArrayLen(bs.length)
    bs.foreach { case (id, (h, pt)) =>
      w.int32(id).compactStr(h).int32(pt).compactStr(null).tagsEmpty()
    }
    w.compactStr("graft-cluster")
    w.int32(0) // controller_id
    w.compactArrayLen(topics.length)
    topics.foreach { t =>
      w.int16(0).compactStr(t).int8(0)
      w.compactArrayLen(numPartitions)
      (0 until numPartitions).foreach { p =>
        val leader = leaderOf(t, p)
        val replicas = state.assignmentOf(t, p)
        val isr = state.isrOf(t, p).toSeq.sorted
        val offline = replicas.filter(state.deadBrokers.contains)
        w.int16(0).int32(p).int32(leader)
          .int32(state.leaderEpochOf(t, p))
        w.compactArrayLen(replicas.length); replicas.foreach(w.int32)
        w.compactArrayLen(isr.length); isr.foreach(w.int32)
        w.compactArrayLen(offline.length); offline.foreach(w.int32)
        w.tagsEmpty()
      }
      w.int32(Int.MinValue) // topic_authorized_operations: not computed
      w.tagsEmpty()
    }
    w.int32(Int.MinValue) // cluster_authorized_operations
    w.tagsEmpty()
    w.result()
  }

  /** LeaderAndIsr v0 (api 4): the CONTROLLER's regime push — each
    * partition's leader, leader epoch, ISR, and replica assignment,
    * plus the live leaders' addresses. This is how leadership crosses
    * process boundaries in a real cluster (no shared memory, no
    * shared monitor — the epoch in this request is the fencing
    * token). A partition state carrying an epoch at or below the one
    * this broker already holds is STALE (a delayed controller
    * message) and is refused with FENCED_LEADER_EPOCH, never applied
    * — the real broker's becomeLeaderOrFollower check. */
  private def leaderAndIsrV0(r: Reader): Array[Byte] = {
    r.int32() // controller_id
    r.int32() // controller_epoch
    val n = r.int32()
    val states = (0 until n).map { _ =>
      val topic = r.str(); val p = r.int32()
      r.int32() // per-partition controller_epoch
      val leader = r.int32(); val epoch = r.int32()
      val ni = r.int32(); val isr = (0 until ni).map(_ => r.int32()).toSet
      r.int32() // zk_version
      val nr = r.int32(); val replicas = (0 until nr).map(_ => r.int32())
      (topic, p, leader, epoch, isr, replicas)
    }
    val nl = r.int32()
    (0 until nl).foreach { _ =>
      val id = r.int32(); val host = r.str(); val port = r.int32()
      state.registerPeer(id, host, port)
    }
    val results = states.map { case (topic, p, leader, epoch, isr, replicas) =>
      // fence check + apply are ONE atomic step under the election
      // lock (see tryApplyPartitionState) — two concurrent pushes can
      // never both pass the check and land out of order
      (topic, p,
        state.tryApplyPartitionState(topic, p, leader, epoch, isr, replicas))
    }
    val w = new Writer().int16(0).int32(results.length)
    results.foreach { case (topic, p, err) =>
      w.str(topic).int32(p).int16(err)
    }
    w.result()
  }

  /** The Fetch v9 / OffsetsForLeaderEpoch epoch gate: a request
    * pinned to an OLDER epoch than the partition's current one
    * followed stale metadata across a re-election — FENCED (the
    * client must refresh); a NEWER epoch than this broker knows means
    * the CLIENT is ahead (it learned of an election this broker
    * hasn't) — UNKNOWN. -1 opts out (the pre-KIP-320 client). */
  private def epochGate(topic: String, p: Int, requested: Int): Int =
    if (requested < 0) 0
    else {
      val cur = state.leaderEpochOf(topic, p)
      if (requested < cur) KafkaWire.Errors.FencedLeaderEpoch
      else if (requested > cur) KafkaWire.Errors.UnknownLeaderEpoch
      else 0
    }

  /** Fetch v9 (api 1): isolation_level + last_stable_offset +
    * aborted_transactions (the read_committed contract),
    * log_start_offset, session_id/epoch + forgotten_topics + top-level
    * error (the double is SESSIONLESS: session_id 0 on every response
    * — the protocol's full-fetch degenerate case), and
    * CURRENT_LEADER_EPOCH (KIP-320) — the broker fences a fetch pinned
    * to a superseded epoch instead of serving it, closing the
    * stale-metadata window an in-process monitor cannot close for an
    * out-of-process client. */
  private def fetchV9(r: Reader): Array[Byte] = {
    val replicaId = r.int32()       // >= 0: a FOLLOWER's fetch
    r.int32(); r.int32()            // max_wait, min_bytes
    r.int32()                       // response max_bytes
    val committed = r.int8() == 1   // isolation_level
    r.int32(); r.int32()            // session_id, session_epoch
    val nTopics = r.int32()
    val resp = (0 until nTopics).map { _ =>
      val topic = r.str()
      val nParts = r.int32()
      val parts = (0 until nParts).map { _ =>
        val p = r.int32()
        val curEpoch = r.int32()
        val off = r.int64()
        r.int64() // follower's log_start_offset
        val maxBytes = r.int32()
        val gate = epochGate(topic, p, curEpoch)
        if (gate != 0)
          (p, gate, -1L, -1L, -1L, Nil, Array.emptyByteArray)
        else {
          if (state.pullMode && replicaId >= 0 &&
              leaderOf(topic, p) == brokerId) {
            // the follower's fetch offset IS its progress report: it
            // has everything below `off` (the real protocol's only
            // progress signal) — record it, admit a caught-up replica
            // to the ISR, and wake the acks=all purgatory
            state.followerLeo.put((replicaId, topic, p), off)
            val lg = log(topic, p)
            val leo = lg.synchronized(lg.next)
            if (off >= leo && state.assignmentOf(topic, p).contains(replicaId)
                && !state.isrOf(topic, p).contains(replicaId))
              state.admitIsr(topic, p, replicaId)
            val mon = state.hwMonitor(topic, p)
            mon.synchronized(mon.notifyAll())
          }
          val (err, hw, lso, aborted, bytes) = servePartition(topic, p,
            off, maxBytes, stableOnly = committed,
            asReplica = replicaId >= 0)
          val lg = log(topic, p)
          val logStart = lg.synchronized(lg.start)
          (p, err, hw, lso, logStart,
            if (committed) aborted else Nil, bytes)
        }
      }
      (topic, parts)
    }
    // forgotten_topics_data: sessionless double — must still consume
    // the bytes to leave the reader positioned correctly
    val nForgotten = r.int32()
    (0 until nForgotten).foreach { _ =>
      r.str(); val k = r.int32(); (0 until k).foreach(_ => r.int32())
    }
    val w = new Writer().int32(0) // throttle_time_ms
      .int16(0).int32(0)          // top-level error, session_id
      .int32(resp.length)
    resp.foreach { case (topic, parts) =>
      w.str(topic).int32(parts.length)
      parts.foreach { case (p, err, hw, lso, logStart, aborted, set) =>
        w.int32(p).int16(err).int64(hw).int64(lso).int64(logStart)
        w.int32(aborted.length)
        aborted.foreach { case (pid, first) => w.int64(pid).int64(first) }
        w.int32(set.length).raw(set)
      }
    }
    w.result()
  }

  /** OffsetsForLeaderEpoch v2 (api 23): the follower-truncation
    * lookup (KIP-101/KIP-320) — for a requested epoch, the largest
    * epoch at-or-below it in the leader's log with that epoch's
    * exclusive end offset. A follower walks this to find the exact
    * divergence point instead of comparing suffixes; v2 added the
    * CURRENT_LEADER_EPOCH fencing field. Leader-only, like every
    * offset lookup. */
  private def offsetsForLeaderEpochV2(r: Reader): Array[Byte] = {
    val nTopics = r.int32()
    val resp = (0 until nTopics).map { _ =>
      val topic = r.str()
      val nParts = r.int32()
      val parts = (0 until nParts).map { _ =>
        val p = r.int32()
        val curEpoch = r.int32()   // current_leader_epoch (v2+)
        val askedEpoch = r.int32() // leader_epoch to look up
        if (leaderOf(topic, p) != brokerId)
          (p, KafkaWire.Errors.NotLeaderForPartition, -1, -1L)
        else {
          val gate = epochGate(topic, p, curEpoch)
          if (gate != 0) (p, gate, -1, -1L)
          else {
            val (e, end) = state.endOffsetForEpoch(log(topic, p), askedEpoch)
            (p, 0, e, end)
          }
        }
      }
      (topic, parts)
    }
    val w = new Writer().int32(0).int32(resp.length)
    resp.foreach { case (topic, parts) =>
      w.str(topic).int32(parts.length)
      parts.foreach { case (p, err, epoch, end) =>
        w.int16(err).int32(p).int32(epoch).int64(end)
      }
    }
    w.result()
  }

  /** Append one v2 batch under the idempotence rules; returns
    * (errorCode, baseOffset). Must run under log.synchronized.
    * `countOracle` = false for REPLICATION copies: [[producesAppended]]
    * counts real produce-path appends (the duplicates-on-retry
    * oracle), and a follower's copy of one produce is not a second
    * append. */
  private def appendV2(log: Log, b: KafkaWire.RecordBatch,
      countOracle: Boolean = true, leaderEpoch: Int = -1): (Int, Long) = {
    def doAppend(): Long = {
      val base = log.next
      // store the producer's VERBATIM batch bytes with the assigned
      // base patched in (baseOffset lives outside the CRC32C coverage
      // for exactly this) — fetch re-serves them zero-re-encode, the
      // real broker's append->fetch path; decoded records are kept
      // for the test oracles
      // the epoch is stamped into the batch's RAW bytes here, ONCE,
      // under the log lock (rawAt already clones; bytes 12..15 sit
      // outside the CRC32C coverage precisely for broker stamping) —
      // never on the serve path, where a concurrent in-place stamp
      // could be read torn by another fetch copying the same array
      val raw = b.rawAt(base)
      if (leaderEpoch >= 0) KafkaWire.stampLeaderEpoch(raw, leaderEpoch)
      log.batches += Batch(base,
        b.records.zipWithIndex.map { case (rec, i) =>
          rec.copy(offset = base + i) },
        b.codec, pid = b.producerId, pEpoch = b.producerEpoch,
        baseSeq = b.baseSequence,
        raw = raw,
        transactional = b.transactional, epoch = leaderEpoch)
      // an open transaction pins this log's last stable offset at its
      // FIRST record until EndTxn resolves it
      if (b.transactional && b.producerId >= 0L)
        log.ongoing.getOrElseUpdate(b.producerId, base)
      log.next = base + b.records.length
      if (countOracle) producesAppended.incrementAndGet()
      base
    }
    if (b.producerId < 0L) (0, doAppend())
    else {
      val cur = pidEpochs.getOrElse(b.producerId, b.producerEpoch)
      if (b.producerEpoch < cur)
        (KafkaWire.Errors.InvalidProducerEpoch, -1L) // fenced zombie
      else {
        pidEpochs.put(b.producerId, math.max(cur, b.producerEpoch))
        val st = log.pidStates.getOrElseUpdate(b.producerId, new PidState)
        // a bumped epoch RESTARTS the sequence space (the published
        // contract: sequences are per (pid, epoch)) — without this a
        // fenced-and-reinitialized producer's first batch at seq 0
        // would be mistaken for its predecessor's duplicate
        if (b.producerEpoch > st.epoch) {
          st.epoch = b.producerEpoch
          st.nextSeq = 0
          st.recent.clear()
        }
        val first = b.baseSequence
        val last = first + b.records.length - 1
        st.recent.find(e => e._1 == first && e._2 == last) match {
          // a RETRIED batch the broker already appended: ack with the
          // ORIGINAL offset, append nothing — the broker-side dedup
          // that upgrades the produce path to exactly-once
          case Some((_, _, off)) => (0, off)
          case None =>
            if (first != st.nextSeq)
              (KafkaWire.Errors.OutOfOrderSequence, -1L)
            else {
              val base = doAppend()
              st.nextSeq = last + 1
              st.recent.append((first, last, base))
              if (st.recent.length > 5) st.recent.removeHead()
              (0, base)
            }
        }
      }
    }
  }

  private def produceV3(r: Reader): Array[Byte] = {
    if (consume(dropNextProduce)) throw new DropConnection
    r.str() // transactional_id
    val reqAcks = r.int16(); r.int32() // acks, timeout
    val nTopics = r.int32()
    val acks = (0 until nTopics).flatMap { _ =>
      val topic = r.str()
      val nParts = r.int32()
      (0 until nParts).map { _ =>
        val p = r.int32()
        val set = r.bytes()
        val appended: (Int, Long, Long) = // (err, base, appendedEnd)
        if (leaderOf(topic, p) != brokerId) {
          (KafkaWire.Errors.NotLeaderForPartition, -1L, -1L)
        } else state.electionLock(topic, p) {
        // in-lock re-check: the in-process leader-epoch fence
        // ONE paused-set snapshot for the whole gate+replicate section
        val paused = state.pausedSnapshot
        if (state.leaderOf(topic, p) != brokerId) {
          (KafkaWire.Errors.NotLeaderForPartition, -1L, -1L)
        } else if (reqAcks == -1 && acksAllGate(topic, p, paused) != 0) {
          (KafkaWire.Errors.NotEnoughReplicas, -1L, -1L)
        } else {
        val batches = KafkaWire.decodeRecordBatches(set)
        // transactional batches register their partition with the
        // pid's open transaction even without an explicit
        // AddPartitionsToTxn (defensive; the client sends one)
        batches.filter(b => b.transactional && b.producerId >= 0L)
          .foreach { b =>
            openTxns.getOrElseUpdate(b.producerId,
              scala.collection.mutable.Set.empty) += ((topic, p))
          }
        val l = log(topic, p)
        val targets = replicationTargets(topic, p, brokerId, paused)
        val lEpoch = state.leaderEpochOf(topic, p)
        val (err, base, end) = l.synchronized {
          val folded = batches.foldLeft((0, -1L)) { case ((e, b0), batch) =>
            if (e != 0) (e, b0)
            else {
              val pre = l.next
              val (e2, b2) = appendV2(l, batch, leaderEpoch = lEpoch)
              // replicate only batches the leader ACTUALLY appended —
              // a broker-deduped retry (e2 == 0, b2 < pre) was already
              // replicated the first time. Inside the leader lock:
              // append order is replication order.
              if (e2 == 0 && b2 == pre)
                targets.foreach(f => replicateTo(f, topic, p, pre) { fl =>
                  val (fe, fb) = appendV2(fl, batch, countOracle = false,
                    leaderEpoch = lEpoch)
                  require(fe == 0 && fb == pre,
                    s"replica $f of $topic-$p refused a replicated " +
                      s"batch: error $fe")
                })
              (e2, if (b0 < 0) b2 else b0)
            }
          }
          (folded._1, folded._2, l.next)
        }
        (err, base, end)
        }
        }
        // the pull-mode acks=all wait runs OUTSIDE the election lock:
        // it can park for the full replication timeout, and holding the
        // monitor that long would serialize the partition's whole write
        // path (produces and marker writes) behind one slow follower
        val (err0, base, end) = appended
        val ackErr =
          if (err0 == 0 && reqAcks == -1 && end >= 0)
            awaitAcksAll(topic, p, end) else err0
        (topic, p, ackErr, base)
      }
    }
    if (consume(dropNextProduceAfterAppend)) throw new DropConnection
    val w = new Writer().int32(nTopics)
    acks.groupBy(_._1).foreach { case (topic, parts) =>
      w.str(topic).int32(parts.length)
      parts.foreach { case (_, p, err, base) =>
        w.int32(p).int16(err).int64(base).int64(-1L)
      }
    }
    w.int32(0) // throttle_time_ms
    w.result()
  }

  private def initProducerIdV0(r: Reader): Array[Byte] = {
    val tid = r.str()
    r.int32() // transaction_timeout_ms
    val (pid, epoch) =
      if (tid == null) {
        // idempotent-only: fresh pid, epoch 0
        val p = nextPid.getAndIncrement()
        pidEpochs.put(p, 0)
        (p, 0)
      } else {
        // transactional id: STABLE pid, epoch bumped per init — the
        // re-initialized producer fences its zombie predecessor, and
        // any transaction the predecessor left OPEN is aborted here
        // (the real coordinator's recovery: a crashed producer's
        // half-written transaction must never block the LSO forever
        // or become visible)
        val p = tidPids.getOrElseUpdate(tid, nextPid.getAndIncrement())
        val e = pidEpochs.updateWith(p) {
          case Some(cur) => Some(cur + 1)
          case None => Some(0)
        }.get
        resolveTxn(p, e, commit = false)
        (p, e)
      }
    new Writer().int32(0).int16(0).int64(pid).int16(epoch).result()
  }

  /** Write commit/abort control markers into every partition the
    * pid's open transaction touched, resolving its LSO pins and (on
    * abort) recording the aborted ranges. */
  private def resolveTxn(pid: Long, epoch: Int, commit: Boolean): Unit = {
    openTxns.remove(pid).foreach { parts =>
      parts.foreach { case (topic, p) =>
        // markers are written by the coordinator into each partition's
        // LEADER log (WriteTxnMarkers in a real cluster — EndTxn may be
        // served by any broker) and replicate like any other append —
        // under the election monitor, like any other append
        state.electionLock(topic, p) {
        val leader = state.leaderOf(topic, p)
        val log = state.logAt(leader, topic, p)
        val targets =
          replicationTargets(topic, p, leader, state.pausedSnapshot)
        log.synchronized {
          log.ongoing.remove(pid).foreach { first =>
            val off = log.next
            val lEpoch = state.leaderEpochOf(topic, p)
            // stamped at creation (fresh array), not on serve
            val raw = KafkaWire.stampLeaderEpoch(
              KafkaWire.encodeControlBatch(off, pid, epoch,
                commit, System.currentTimeMillis()), lEpoch)
            val recs = KafkaWire.decodeRecordBatches(raw).head.records
            val marker = Batch(off, recs, 0, pid = pid,
              pEpoch = epoch, baseSeq = -1, raw = raw,
              transactional = true, control = true,
              epoch = lEpoch)
            log.batches += marker
            log.next = off + 1
            if (!commit) log.aborted += ((pid, first, off))
            targets.foreach(f => replicateTo(f, topic, p, off) { fl =>
              fl.ongoing.remove(pid).foreach { ffirst =>
                if (!commit) fl.aborted += ((pid, ffirst, off))
              }
              fl.batches += marker
              fl.next = off + 1
            })
          }
        }
        }
      }
    }
    // offsets staged via TxnOffsetCommit resolve WITH the transaction:
    // applied on commit, discarded on abort — never partially
    pendingTxnOffsets.remove(pid).foreach { staged =>
      if (commit) staged.foreach { case (k, off) => groupOffsets.put(k, off) }
    }
  }

  /** AddOffsetsToTxn v0 (api 25): declare that this transaction will
    * also commit consumer-group offsets — the coordinator registers
    * the group so EndTxn resolves the staged offsets with the data. */
  private def addOffsetsToTxnV0(r: Reader): Array[Byte] = {
    r.str() // transactional_id
    val pid = r.int64()
    val epoch = r.int16()
    r.str() // group_id (staging is keyed per pid; the group rides TxnOffsetCommit)
    val err =
      if (epoch < pidEpochs.getOrElse(pid, epoch))
        KafkaWire.Errors.InvalidProducerEpoch
      else {
        pendingTxnOffsets.getOrElseUpdate(pid,
          scala.collection.mutable.Map.empty)
        0
      }
    new Writer().int32(0).int16(err).result()
  }

  /** TxnOffsetCommit v0 (api 28): STAGE consumer-group offsets inside
    * the open transaction — invisible to OffsetFetch until the
    * transaction commits, gone if it aborts. (v0 carries no consumer
    * generation — the KIP-447 zombie window closed by v3's generation
    * check; the double mirrors v0, and the producer-epoch fence still
    * rejects a superseded PRODUCER.) */
  private def txnOffsetCommitV0(r: Reader): Array[Byte] = {
    r.str() // transactional_id
    val group = r.str()
    val pid = r.int64()
    val epoch = r.int16()
    val fenced = epoch < pidEpochs.getOrElse(pid, epoch)
    val staged = pendingTxnOffsets.getOrElseUpdate(pid,
      scala.collection.mutable.Map.empty)
    val nTopics = r.int32()
    val resp = (0 until nTopics).map { _ =>
      val topic = r.str()
      val nParts = r.int32()
      val parts = (0 until nParts).map { _ =>
        val p = r.int32(); val off = r.int64(); r.str() // metadata
        if (!fenced) staged.put((group, topic, p), off)
        p
      }
      (topic, parts)
    }
    val code = if (fenced) KafkaWire.Errors.InvalidProducerEpoch else 0
    val w = new Writer().int32(0).int32(resp.length)
    resp.foreach { case (topic, parts) =>
      w.str(topic).int32(parts.length)
      parts.foreach(p => w.int32(p).int16(code))
    }
    w.result()
  }

  private def addPartitionsToTxnV0(r: Reader): Array[Byte] = {
    r.str() // transactional_id (pid carries identity here)
    val pid = r.int64()
    val epoch = r.int16()
    val nTopics = r.int32()
    val resp = (0 until nTopics).map { _ =>
      val topic = r.str()
      val nParts = r.int32()
      val parts = (0 until nParts).map { _ =>
        val p = r.int32()
        val err =
          if (epoch < pidEpochs.getOrElse(pid, epoch))
            KafkaWire.Errors.InvalidProducerEpoch
          else {
            openTxns.getOrElseUpdate(pid,
              scala.collection.mutable.Set.empty) += ((topic, p))
            0
          }
        (p, err)
      }
      (topic, parts)
    }
    val w = new Writer().int32(0).int32(resp.length)
    resp.foreach { case (topic, parts) =>
      w.str(topic).int32(parts.length)
      parts.foreach { case (p, err) => w.int32(p).int16(err) }
    }
    w.result()
  }

  private def endTxnV0(r: Reader): Array[Byte] = {
    r.str() // transactional_id
    val pid = r.int64()
    val epoch = r.int16()
    val commit = r.int8() != 0
    val err =
      if (epoch < pidEpochs.getOrElse(pid, epoch))
        KafkaWire.Errors.InvalidProducerEpoch
      else { resolveTxn(pid, epoch, commit); 0 }
    new Writer().int32(0).int16(err).result()
  }

  /** Offset resolution for one (partition, timestamp) under the
    * ListOffsets contract: -2 = earliest, -1 = latest (LSO under
    * read_committed), any real timestamp = the EARLIEST offset whose
    * record timestamp is >= it (the time-index lookup). NOTHING that
    * new → -1, the protocol's "no such offset" — the REAL broker does
    * not guess; the consumer's startingOffsetsByTimestampStrategy
    * decides whether that is an error (the stock default) or a
    * start-at-latest. Control markers are not data and never match. */
  private def offsetFor(log: Log, ts: Long, isolation: Int,
      hw: Long): Long =
    log.synchronized {
      if (ts == -2L) log.start // earliest = log-START, not 0: retention moves it
      // "latest" is the HIGH WATERMARK (LSO under read_committed, and
      // the LSO can never exceed the HW) — never the leader's raw log
      // end: offsets above the HW are not yet replicated and a
      // consumer admitted to them could read data a failover unwrites
      else if (ts == -1L) { if (isolation == 1) math.min(log.lso, hw) else hw }
      else log.batches.iterator.filter(!_.control).flatMap(_.records)
        .filter(_.offset < hw)
        .find(_.timestamp >= ts).map(_.offset).getOrElse(-1L)
    }

  private def offsetCommitV2(r: Reader): Array[Byte] = {
    val group = r.str()
    val gen = r.int32(); val member = r.str(); r.int64() // retention
    // generation fencing — the zombie-commit gate: with an ACTIVE
    // membership, only a current-generation member may move the
    // group's offsets; a standalone commit (generation -1, empty
    // member — the r14 convention) stays valid only while the group
    // has no members. A fenced commit stores NOTHING.
    val gErr = groups.get(group) match {
      case Some(g) => g.synchronized {
        if (gen == -1 && (member == null || member.isEmpty))
          (if (g.members.nonEmpty) KafkaWire.Errors.IllegalGeneration else 0)
        else if (!g.members.contains(member)) KafkaWire.Errors.UnknownMemberId
        else if (gen != g.generation) KafkaWire.Errors.IllegalGeneration
        else { g.members(member).touch(); 0 }
      }
      case None =>
        if (gen == -1) 0 else KafkaWire.Errors.IllegalGeneration
    }
    val nTopics = r.int32()
    val resp = (0 until nTopics).map { _ =>
      val topic = r.str()
      val nParts = r.int32()
      val parts = (0 until nParts).map { _ =>
        val p = r.int32(); val off = r.int64(); r.str() // metadata
        if (gErr == 0) groupOffsets.put((group, topic, p), off)
        p
      }
      (topic, parts)
    }
    val w = new Writer().int32(resp.length)
    resp.foreach { case (topic, parts) =>
      w.str(topic).int32(parts.length)
      parts.foreach(p => w.int32(p).int16(gErr))
    }
    w.result()
  }

  private def offsetFetchV1(r: Reader): Array[Byte] = {
    val group = r.str()
    val nTopics = r.int32()
    val resp = (0 until nTopics).map { _ =>
      val topic = r.str()
      val nParts = r.int32()
      val parts = (0 until nParts).map { _ =>
        val p = r.int32()
        // -1 = no committed offset for this group (the protocol's
        // "unknown" sentinel; the consumer falls to auto.offset.reset)
        (p, groupOffsets.getOrElse((group, topic, p), -1L))
      }
      (topic, parts)
    }
    val w = new Writer().int32(resp.length)
    resp.foreach { case (topic, parts) =>
      w.str(topic).int32(parts.length)
      parts.foreach { case (p, off) =>
        w.int32(p).int64(off).str(null).int16(0)
      }
    }
    w.result()
  }

  /** Serve one partition's record set from `off` under `maxBytes`:
    * (error, highWatermark, lastStable, aborted ranges, bytes).
    * @param stableOnly serve only batches wholly below the last
    *   stable offset — the read_committed contract; open-transaction
    *   data never reaches a committed reader. */
  private def servePartition(topic: String, p: Int, off: Long,
      maxBytes: Int,
      stableOnly: Boolean = false,
      asReplica: Boolean = false): (Int, Long, Long, Seq[(Long, Long)], Array[Byte]) = {
    // only the LEADER serves the data path — a routing client that
    // lands here followed stale metadata and must refresh
    if (leaderOf(topic, p) != brokerId)
      return (KafkaWire.Errors.NotLeaderForPartition, -1L, -1L, Nil,
        Array.emptyByteArray)
    val log = this.log(topic, p)
    // the HIGH WATERMARK bounds every consumer read: data above it is
    // not yet on all in-sync replicas and would vanish with the leader
    // (the acks<=1 window) — serving it would be a non-repeatable read.
    // RF = 1: the log's own end, exactly the r15 behavior.
    val hwm = state.highWatermark(topic, p)
    state.noteHwPin(topic, p, hwm) // diagnose a paused-ISR pinned watermark
    // a fetch below the log start reads data retention already deleted
    // — OFFSET_OUT_OF_RANGE (error 1), the real broker's answer to a
    // checkpoint that outlived the log head
    val below = log.synchronized(off < log.start)
    if (below)
      return (KafkaWire.Errors.OffsetOutOfRange,
        hwm, log.synchronized(math.min(log.lso, hwm)), Nil,
        Array.emptyByteArray)
    val (from, hw, lso, aborted) = log.synchronized {
      // a record batch is ATOMIC, so the whole batch ships even when
      // `off` is inside it (the below-cursor records the client drops);
      // a FOLLOWER fetch is served to the leader's LOG END, not the
      // high watermark — replication is what ADVANCES the watermark,
      // so bounding followers by it would deadlock the pipeline
      val bound =
        if (asReplica) Long.MaxValue
        else math.min(hwm, if (stableOnly) log.lso else Long.MaxValue)
      val fromBatch = log.batches.toSeq
        .dropWhile(_.end <= off).takeWhile(_.end <= bound)
      // aborted ranges whose marker is at/after the fetch position —
      // anything earlier cannot have data in this response
      val ab = log.aborted.toSeq.filter(_._3 >= off)
        .map { case (pid, first, _) => (pid, first) }
      (fromBatch, hwm, math.min(log.lso, hwm), ab)
    }
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val it = from.iterator
      while (it.hasNext && bos.size < maxBytes)
        // the stored bytes verbatim: CRC intact, epoch already stamped
        // AT APPEND TIME (never here: an in-place stamp on the shared
        // stored array could be read torn by a concurrent fetch)
        bos.write(it.next().raw)
      val all = bos.toByteArray
      // the fetch response slices the record set AT max_bytes — a
      // partial trailing entry is the client's problem (it drops it
      // and must retry with a larger max_bytes)
      if (all.length > maxBytes) java.util.Arrays.copyOf(all, maxBytes)
      else all
    }
    (0, hw, lso, aborted, bytes)
  }

  private def listOffsetsV2(r: Reader): Array[Byte] = {
    r.int32() // replica_id
    val isolation = r.int8()
    val nTopics = r.int32()
    val resp = (0 until nTopics).map { _ =>
      val topic = r.str()
      val nParts = r.int32()
      val parts = (0 until nParts).map { _ =>
        val p = r.int32(); val ts = r.int64()
        if (leaderOf(topic, p) != brokerId)
          (p, KafkaWire.Errors.NotLeaderForPartition, -1L)
        else (p, 0, offsetFor(log(topic, p), ts, isolation,
          state.highWatermark(topic, p)))
      }
      (topic, parts)
    }
    val w = new Writer().int32(0).int32(resp.length)
    resp.foreach { case (topic, parts) =>
      w.str(topic).int32(parts.length)
      parts.foreach { case (p, err, off) =>
        w.int32(p).int16(err).int64(-1L).int64(off)
      }
    }
    w.result()
  }
}

/** A MULTI-BROKER cluster double: N [[MiniKafkaServer]]s over one
  * [[KafkaClusterState]]. Partition leadership spreads round-robin
  * over the brokers; each broker REFUSES the data path for partitions
  * it does not lead (NOT_LEADER_FOR_PARTITION), so a client reaching
  * all data must do what real clients do — fetch cluster metadata and
  * route per partition, refreshing on re-election. [[moveLeader]] /
  * [[failBroker]] play the controller.
  *
  * `replicationFactor` > 1 turns on REAL replication between the
  * brokers' now-independent logs: acks=all produces block on the ISR,
  * `minInsyncReplicas` gates durability, the high watermark bounds
  * consumers, [[pauseReplication]] opens the acks=1 loss window, and
  * [[failBroker]] runs a clean election — the full durability
  * contract a real producer/consumer pair depends on when a broker
  * dies holding unreplicated data. */
final class MiniKafkaCluster(numBrokers: Int, numPartitions: Int = 2,
    replicationFactor: Int = 1,
    minInsyncReplicas: Int = 1) {
  require(numBrokers >= 1)
  require(replicationFactor <= numBrokers,
    s"replicationFactor $replicationFactor needs at least that many brokers")
  val state = new KafkaClusterState(replicationFactor, minInsyncReplicas)
  private val initial: Seq[MiniKafkaServer] =
    (0 until numBrokers).map(i =>
      new MiniKafkaServer(numPartitions, state, i))
  /** Brokers revived after [[failBroker]] — a fresh listener (new
    * port, same brokerId) over the broker's surviving replica logs. */
  private val revived =
    scala.collection.concurrent.TrieMap.empty[Int, MiniKafkaServer]
  private def serverOf(id: Int): MiniKafkaServer =
    revived.getOrElse(id, initial(id))
  /** The CURRENT server per broker id — after reviveBroker(i), index i
    * is the revived listener, not the stopped original. */
  def servers: Seq[MiniKafkaServer] = (0 until numBrokers).map(serverOf)
  /** The bootstrap address a client is given — broker 0 only; every
    * other broker must be DISCOVERED through metadata. Follows a
    * revived broker 0 to its new listener. */
  def bootstrapPort: Int = serverOf(0).port
  def port(brokerId: Int): Int = serverOf(brokerId).port
  def leaderOf(topic: String, p: Int): Int = state.leaderOf(topic, p)
  def isrOf(topic: String, p: Int): Set[Int] = state.isrOf(topic, p)
  def leaderEpochOf(topic: String, p: Int): Int =
    state.leaderEpochOf(topic, p)
  def highWatermark(topic: String, p: Int): Long =
    state.highWatermark(topic, p)
  /** Run follower recovery for `brokerId` WITHOUT toggling its pause
    * state — the explicit catch-up entry point (a deposed-then-living
    * replica after an unclean election rejoins through this; the
    * unclean moveLeader also re-admits live un-paused replicas
    * itself, so this is for replicas paused AT election time, or for
    * tests driving recovery steps individually). */
  def catchUpBroker(brokerId: Int): Unit = state.catchUp(brokerId)
  def moveLeader(topic: String, p: Int, brokerId: Int,
      allowUnclean: Boolean = false): Unit =
    state.moveLeader(topic, p, brokerId, allowUnclean)

  /** Stall `brokerId`'s replication fetch: it silently misses acks<=1
    * appends while STAYING in the ISR (the real lag window before
    * replica.lag.time.max.ms fires); an acks=all produce shrinks it
    * out first. */
  def pauseReplication(brokerId: Int): Unit =
    state.pausedReplicas.add(brokerId)
  /** Un-stall and CATCH UP `brokerId` (the follower fetch): its
    * replicas mirror their leaders again and it re-joins the ISR. */
  def resumeReplication(brokerId: Int): Unit = {
    state.pausedReplicas.remove(brokerId)
    state.rearmHwPinWarnings()
    state.catchUp(brokerId)
  }
  /** Kill `brokerId`: close its listener, drop it from metadata and
    * every ISR, and cleanly re-elect the partitions it led (first
    * surviving in-sync replica; none → the partition goes offline).
    * Data only it held — acked under acks<=1 past the HW — is LOST. */
  def failBroker(brokerId: Int): Unit = {
    serverOf(brokerId).stop()
    state.markDead(brokerId)
  }
  /** Restart a failed broker: a fresh listener re-registers the id,
    * then the broker runs follower recovery ([[KafkaClusterState
    * .catchUp]]) — any divergent suffix its logs held is truncated to
    * the current leaders' logs, and it re-enters the ISR. */
  def reviveBroker(brokerId: Int): Unit = {
    require(state.deadBrokers.contains(brokerId),
      s"broker $brokerId is not dead")
    state.deadBrokers.remove(brokerId)
    // a RESTARTED broker's replication fetcher is not stalled — a
    // pre-death pause must not survive the revive, or the broker would
    // rejoin the ISR yet silently miss every subsequent append,
    // pinning the high watermark forever. Revival also ends any pin
    // this broker's pause caused: re-arm the once-per-pin warnings
    // (the serve-path fast path skips cleanup when nothing is paused).
    state.pausedReplicas.remove(brokerId)
    state.rearmHwPinWarnings()
    revived.put(brokerId,
      new MiniKafkaServer(numPartitions, state, brokerId))
    state.catchUp(brokerId)
  }
  /** Data oracle: the CURRENT LEADER's replica of (topic, p) — the
    * cluster's authoritative copy. */
  def stored(topic: String, p: Int): Seq[Record] =
    serverOf(state.leaderOf(topic, p)).stored(topic, p)
  /** Data oracle for one broker's own replica. */
  def storedAt(brokerId: Int, topic: String, p: Int): Seq[Record] =
    serverOf(brokerId).stored(topic, p)
  def stop(): Unit = {
    initial.foreach(_.stop())
    revived.values.foreach(_.stop())
  }
}
