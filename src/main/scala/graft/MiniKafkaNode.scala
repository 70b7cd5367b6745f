package graft

import graft.sources.KafkaWire

/** ONE broker in its OWN PROCESS — the cross-process form of the
  * broker double. The in-JVM [[MiniKafkaCluster]] shares one
  * [[KafkaClusterState]] between brokers, so the leader can write
  * follower replica logs directly and an election monitor can
  * serialize flips against in-flight appends. Neither exists across
  * process boundaries; this node runs the protocol's own machinery
  * instead:
  *
  *  - REPLICATION is pull: a replica fetcher per followed partition
  *    issues Fetch v9 with `replica_id` = this broker and the
  *    controller-given `current_leader_epoch`, appending the leader's
  *    batches VERBATIM (broker-assigned offsets, epoch stamps,
  *    producer state intact);
  *  - TRUNCATION is the OffsetsForLeaderEpoch walk (KIP-101): before
  *    following a new regime the fetcher asks the leader where its
  *    own latest epoch ends and truncates the divergent suffix —
  *    there is no shared memory to compare suffixes through;
  *  - LEADERSHIP arrives by LeaderAndIsr push from the controller
  *    (the test process), carrying the LEADER EPOCH that fences every
  *    stale participant: a deposed leader's produce path refuses
  *    NOT_LEADER from its own fed state, and its stale-epoch fetches
  *    are refused BY ERROR CODE on the new regime — the epochs, not a
  *    JVM monitor, carry the safety (the r16 verdict's #5);
  *  - the acks=all ack is PROOF, not assumption: the leader parks the
  *    produce until the followers' fetch offsets show the batch
  *    persisted in THEIR processes ([[MiniKafkaServer.awaitAcksAll]]).
  *
  * Test/bench double, same standing as [[MiniKafkaServer]]: in main
  * only so forked-JVM mains can run it; no production path constructs
  * it. */
final class MiniKafkaNode(val brokerId: Int, numPartitions: Int = 2,
    replicationFactor: Int = 2, minInsyncReplicas: Int = 1,
    ackTimeoutMs: Long = 5000L, pidBlock: Long = -1L) {

  val state = new KafkaClusterState(replicationFactor, minInsyncReplicas)
  state.pullMode = true
  state.ackTimeoutMs = ackTimeoutMs
  // Producer-id BLOCKS must be disjoint across every broker AND every
  // broker INCARNATION: each process has its own registry, and two
  // registries handing out the same pid let the broker-side
  // idempotence DEDUP a brand-new producer's first batch against a
  // replicated batch of the colliding old pid (same pid, epoch 0,
  // baseSequence 0 → "already appended", acked with the original
  // offset, nothing written — an acks=all data loss the cross-process
  // walk surfaced TWICE: first broker-vs-broker, then a revived
  // process colliding with its own previous incarnation). Real
  // clusters LEASE pid blocks from coordinated state (ZK /
  // KRaft's ProducerIdsRecord) that survives restarts for exactly
  // this reason; the double models the lease as a controller-supplied
  // block base, falling back to a per-broker block for single-
  // incarnation uses.
  state.nextPid.set(
    if (pidBlock >= 0L) pidBlock else 1000L + brokerId.toLong * 1000000L)
  val server = new MiniKafkaServer(numPartitions, state, brokerId)
  def port: Int = server.port

  private val fetchers = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Fetcher]

  state.onPartitionState = (topic, p) => reconcile(topic, p)

  /** Align the replica fetchers with the partition's CURRENT regime:
    * stop a fetcher whose leader or epoch is superseded, start one
    * when this broker follows the partition. Runs on every controller
    * push. */
  private def reconcile(topic: String, p: Int): Unit = synchronized {
    val leader = state.leaderOf(topic, p)
    val epoch = state.leaderEpochOf(topic, p)
    val follow = leader != brokerId &&
      state.assignmentOf(topic, p).contains(brokerId) &&
      state.brokers.contains(leader)
    fetchers.get((topic, p)).foreach { f =>
      if (!follow || f.leaderId != leader || f.epoch != epoch) {
        f.stop()
        fetchers.remove((topic, p))
      }
    }
    if (follow && !fetchers.contains((topic, p))) {
      val f = new Fetcher(topic, p, leader, epoch)
      fetchers.put((topic, p), f)
      f.start()
    }
  }

  // Log mutations by fetchers are serialized against regime swaps on
  // THIS node monitor — see Fetcher.mutateIfCurrent: reconcile() and
  // any in-flight truncate/reset/append are mutually exclusive, so a
  // stopped fetcher that already holds bytes from the OLD leader can
  // never land them around the new fetcher's truncation.

  /** The replica fetcher for ONE followed partition under ONE regime
    * (leader, epoch): truncate-to-divergence once, then fetch-append
    * until stopped. A regime change stops this instance; the
    * reconcile starts a fresh one — so a fetcher can never carry a
    * stale epoch forward (its fetches would be FENCED anyway, which
    * is the point). */
  private final class Fetcher(topic: String, p: Int,
      val leaderId: Int, val epoch: Int) {
    @volatile private var running = true
    private val thread = new Thread(() => run(),
      s"graft-replica-$brokerId-$topic-$p-e$epoch")
    thread.setDaemon(true)
    def start(): Unit = thread.start()
    def stop(): Unit = running = false

    /** Every LOG MUTATION this fetcher performs (truncation, reset,
      * append) runs under the node monitor with a still-current check
      * — a superseded fetcher that already has bytes or a connection
      * in flight can never touch the replica log after its regime was
      * swapped (see [[appendIfCurrent]]). */
    private def mutateIfCurrent(body: => Unit): Boolean =
      MiniKafkaNode.this.synchronized {
        if (fetchers.get((topic, p)).contains(Fetcher.this)) {
          body; true
        } else false
      }

    private def run(): Unit = {
      val log = state.logAt(brokerId, topic, p)
      while (running) {
        var conn: KafkaWire.Conn = null
        try {
          val (h, pt) = state.brokers(leaderId)
          conn = new KafkaWire.Conn(h, pt)
          // the divergence WALK does network round trips — compute it
          // OUTSIDE the node monitor (a leader that stops responding
          // without closing its socket would otherwise hold the
          // monitor for the whole 30 s read timeout, freezing
          // reconcile and every other partition's appends on this
          // node); only the truncation MUTATION takes the monitor.
          // Safe to split: this fetcher is the log's only mutator
          // while current, and mutateIfCurrent rejects it if a swap
          // landed between the walk and the apply.
          val point = divergencePoint(conn, log)
          if (!mutateIfCurrent {
            if (point < log.synchronized(log.next))
              state.truncateSuffix(log, point)
          }) running = false
          while (running) {
            val myLeo = log.synchronized(log.next)
            val set =
              try {
                val (bytes, leaderHw) = KafkaWire.replicaFetch(conn, topic,
                  p, myLeo, brokerId, epoch, log.synchronized(log.start))
                // the leader's advertised HW seeds this process's
                // monotonic floor — a promotion serves consumers from
                // the last HW this replica saw, not 0
                state.noteLearnedHw(topic, p, leaderHw)
                bytes
              } catch {
                case _: KafkaWire.OffsetOutOfRangeException =>
                  // the leader's retention passed this replica: reset
                  // to its surviving head (the follower's
                  // auto.offset.reset has no choice here)
                  val earliest = KafkaWire.listOffset(conn, topic, p, -2L)
                  if (!mutateIfCurrent(log.synchronized {
                    state.truncateSuffix(log, 0L)
                    log.start = earliest
                    log.next = earliest
                  })) running = false
                  null
              }
            if (!running) ()
            else if (set == null || set.isEmpty) Thread.sleep(5)
            else KafkaWire.decodeRecordBatches(set).foreach { rb =>
              if (running &&
                  !mutateIfCurrent(state.appendFetched(log, rb)))
                running = false // superseded mid-batch: drop the rest
            }
          }
        } catch {
          case _: InterruptedException => running = false
          case _: Exception =>
            // leader unreachable / deposed / this regime fenced: back
            // off and retry — the controller's next push re-points or
            // stops this fetcher
            if (running) Thread.sleep(30)
        } finally if (conn != null) conn.close()
      }
    }

    /** The KIP-101 truncation walk over the WIRE: starting at this
      * replica's latest epoch, ask the leader where that epoch ends;
      * agree → divergence at min(leaderEnd, myEnd); leader's largest
      * at-or-below is smaller → drop the divergent epochs and walk
      * down. No history → full resync from 0. READ-only (network
      * rounds, no lock); the caller applies the truncation under the
      * node monitor. */
    private def divergencePoint(conn: KafkaWire.Conn,
        log: state.Log): Long = {
      val entries = state.epochHistory(log)
      val myLeo = log.synchronized(log.next)
      var i = entries.size - 1
      var point = -1L
      while (point < 0 && i >= 0) {
        val (e, _) = entries(i)
        val (le, lend) =
          KafkaWire.offsetsForLeaderEpoch(conn, topic, p, e, epoch)
        if (le == e) point = math.min(lend, myLeo)
        else if (le < 0) point = 0L
        else i = entries.lastIndexWhere(_._1 <= le, i)
      }
      if (point < 0) 0L else point
    }
  }

  def stop(): Unit = {
    fetchers.values.foreach(_.stop())
    fetchers.clear()
    server.stop()
  }
}

/** Forked-JVM entry: one broker node per process. Prints `PORT:<n>`
  * once the listener is up (the parent's readiness signal), then
  * serves until the process is killed — there IS no clean shutdown in
  * the crash walk, which is the point. Args:
  * brokerId [numPartitions=2] [replicationFactor=2]
  * [minInsyncReplicas=1] [ackTimeoutMs=5000] [pidBlock=-1]. */
object BrokerNodeMain {
  def main(args: Array[String]): Unit = {
    val node = new MiniKafkaNode(
      brokerId = args(0).toInt,
      numPartitions = if (args.length > 1) args(1).toInt else 2,
      replicationFactor = if (args.length > 2) args(2).toInt else 2,
      minInsyncReplicas = if (args.length > 3) args(3).toInt else 1,
      ackTimeoutMs = if (args.length > 4) args(4).toLong else 5000L,
      pidBlock = if (args.length > 5) args(5).toLong else -1L)
    // stdout is the parent's control channel: flush eagerly
    println(s"PORT:${node.port}")
    Console.out.flush()
    while (true) Thread.sleep(1000L)
  }
}
