package graft

import graft.sources.KafkaWire
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic pins for the three r17 ADVICE findings in the broker
  * double — each a real fault class in the replication/negotiation
  * machinery, fixed in r18:
  *
  *  1. stale followerLeo across a leadership regime change could
  *     falsely advance the HW (acked-data loss at the next election);
  *  2. the pull-mode replica fetcher wedged permanently when the
  *     leader's log start lay INSIDE a retained batch (an
  *     earliest-reset follower then fetches a batch whose base is
  *     below its position, which appendFetched used to reject —
  *     retried forever by the fetcher's catch-all);
  *  3. ApiVersions v1/v2 were advertised (range 0..3) but not
  *     dispatched — a legitimately mid-range-negotiating client got
  *     its connection dropped.
  */
class BrokerRegressionSpec extends AnyFunSuite {

  private val u8 = java.nio.charset.StandardCharsets.UTF_8

  test("a new leadership regime resets followerLeo: stale fetch offsets never count toward the HW") {
    val state = new KafkaClusterState(replicationFactor = 2,
      minInsyncReplicas = 1)
    state.pullMode = true
    // follower 1 proved progress to offset 10 under the OLD regime
    state.followerLeo.put((1, "t", 0), 10L)
    state.followerLeo.put((1, "t", 1), 7L) // other partition: untouched
    assert(state.tryApplyPartitionState("t", 0, leader = 0, epoch = 2,
      isr = Set(0, 1), replicas = Seq(0, 1)) === 0)
    // the new regime must NOT inherit the stale proof: a revived empty
    // re-incarnation of broker 1 (or one about to truncate a divergent
    // suffix) would otherwise let awaitAcksAll falsely ack at <= 10
    assert(state.followerLeo.get((1, "t", 0)).isEmpty,
      "stale follower LEO survived the regime change")
    assert(state.followerLeo.get((1, "t", 1)).contains(7L),
      "regime change for t-0 must not clear other partitions' state")
    // a stale push (same epoch) is fenced and clears nothing
    state.followerLeo.put((1, "t", 0), 4L)
    assert(state.tryApplyPartitionState("t", 0, leader = 0, epoch = 2,
      isr = Set(0, 1), replicas = Seq(0, 1))
      === KafkaWire.Errors.FencedLeaderEpoch)
    assert(state.followerLeo.get((1, "t", 0)).contains(4L))
  }

  test("appendFetched accepts a batch straddling an earliest-reset position, rejects overlap/gaps otherwise") {
    val state = new KafkaClusterState()
    val log = state.logOf("t", 0)
    def batch(base: Long, n: Int): KafkaWire.RecordBatch = {
      val recs = (0 until n).map(i => KafkaWire.Record(base + i, 1L,
        null, s"v${base + i}".getBytes(u8)))
      val raw = KafkaWire.encodeRecordBatch(base, recs)
      KafkaWire.decodeRecordBatches(raw).head
    }
    // the wedge shape: DeleteRecords put the leader's log start MID-
    // batch (say offset 5 inside [3,8)); the follower's earliest-reset
    // left it empty at next=start=5, and the leader serves the whole
    // retained batch from base 3
    log.next = 5L
    log.start = 5L
    state.appendFetched(log, batch(3L, 5)) // [3,8) straddles 5 — accepted
    assert(log.next === 8L)
    assert(log.start === 5L, "the mid-batch logical start is preserved")
    // batch-aligned continuation still required afterwards
    intercept[IllegalArgumentException] {
      state.appendFetched(log, batch(6L, 2)) // overlaps [3,8)
    }
    intercept[IllegalArgumentException] {
      state.appendFetched(log, batch(9L, 2)) // gap
    }
    state.appendFetched(log, batch(8L, 2))
    assert(log.next === 10L)
  }

  test("ApiVersions v1 and v2 are served: v0 body plus trailing throttle_time_ms") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        val (err0, apis0) = KafkaWire.apiVersions(c)
        assert(err0 === 0)
        val (lo, hi) = apis0(18)
        assert(lo === 0 && hi === 3, "advertised ApiVersions range")
        // every advertised version must be dispatched — v1/v2 used to
        // hit sys.error and a dropped connection
        Seq(1, 2).foreach { v =>
          val r = c.call(18, v, Array.emptyByteArray)
          assert(r.int16() === 0, s"v$v error code")
          val n = r.int32()
          assert(n === apis0.size, s"v$v api count")
          val apis = (0 until n).map(_ =>
            r.int16() -> (r.int16(), r.int16())).toMap
          assert(apis === apis0, s"v$v table must match v0's")
          assert(r.int32() === 0, s"v$v trailing throttle_time_ms")
        }
      } finally c.close()
    } finally srv.stop()
  }

  /** r18 self-review: the followerLeo regime reset (test #1 above)
    * must not make the consumer-visible HW non-monotonic. The fix is
    * a per-partition floor, clamped to the serving leader's log end
    * and seeded on followers by the HW the leader advertised in fetch
    * responses. */
  test("pull-mode HW is monotonic across an epoch bump: the followerLeo reset never collapses it to 0") {
    val state = new KafkaClusterState(replicationFactor = 2,
      minInsyncReplicas = 1)
    state.pullMode = true
    def batch(base: Long, n: Int): KafkaWire.RecordBatch = {
      val recs = (0 until n).map(i => KafkaWire.Record(base + i, 1L,
        null, s"v${base + i}".getBytes(u8)))
      KafkaWire.decodeRecordBatches(
        KafkaWire.encodeRecordBatch(base, recs)).head
    }
    assert(state.tryApplyPartitionState("t", 0, leader = 0, epoch = 1,
      isr = Set(0, 1), replicas = Seq(0, 1)) === 0)
    state.appendFetched(state.logAt(0, "t", 0), batch(0L, 10))
    state.followerLeo.put((1, "t", 0), 10L)
    assert(state.highWatermark("t", 0) === 10L)
    // epoch bump (re-election, even back to the same broker) clears
    // the fetch proofs — but data readable a moment ago must STAY
    // readable: the pre-fix computation returned min(10, getOrElse 0)
    // = 0 here, a truncation-shaped observation no real consumer sees
    assert(state.tryApplyPartitionState("t", 0, leader = 0, epoch = 2,
      isr = Set(0, 1), replicas = Seq(0, 1)) === 0)
    assert(state.followerLeo.get((1, "t", 0)).isEmpty)
    assert(state.highWatermark("t", 0) === 10L,
      "HW regressed after the regime change")
    // new produce: the floor must not OVERSHOOT — HW advances only on
    // fresh post-epoch fetch proof (the acks=all fix stays intact)
    state.appendFetched(state.logAt(0, "t", 0), batch(10L, 2))
    assert(state.highWatermark("t", 0) === 10L)
    state.followerLeo.put((1, "t", 0), 12L)
    assert(state.highWatermark("t", 0) === 12L)
  }

  test("a promoted follower serves the HW it learned from fetch responses, clamped to its own log end") {
    val state = new KafkaClusterState(replicationFactor = 2,
      minInsyncReplicas = 1)
    state.pullMode = true
    def batch(base: Long, n: Int): KafkaWire.RecordBatch = {
      val recs = (0 until n).map(i => KafkaWire.Record(base + i, 1L,
        null, s"v${base + i}".getBytes(u8)))
      KafkaWire.decodeRecordBatches(
        KafkaWire.encodeRecordBatch(base, recs)).head
    }
    // broker 1 replicated to 10 as a follower and learned HW 8 from
    // the then-leader's fetch responses (it lags the leader's 12)
    state.appendFetched(state.logAt(1, "t", 0), batch(0L, 10))
    state.noteLearnedHw("t", 0, 8L)
    // clean promotion: leader 1, old leader 0 now a follower with no
    // post-epoch fetch proof yet — without the seed the HW would read
    // min(10, getOrElse 0) = 0 until 0 re-fetches
    assert(state.tryApplyPartitionState("t", 0, leader = 1, epoch = 2,
      isr = Set(1, 0), replicas = Seq(0, 1)) === 0)
    assert(state.highWatermark("t", 0) === 8L,
      "promotion must serve from the learned HW, not 0")
    // the floor is CLAMPED to the serving leader's log end: a learned
    // HW beyond this replica's log never fabricates readable offsets
    val state2 = new KafkaClusterState(replicationFactor = 2,
      minInsyncReplicas = 1)
    state2.pullMode = true
    state2.appendFetched(state2.logAt(1, "t", 0), batch(0L, 5))
    state2.noteLearnedHw("t", 0, 8L)
    assert(state2.tryApplyPartitionState("t", 0, leader = 1, epoch = 2,
      isr = Set(1), replicas = Seq(0, 1)) === 0)
    assert(state2.highWatermark("t", 0) === 5L,
      "learned HW past the local log end must clamp to it")
  }
}
