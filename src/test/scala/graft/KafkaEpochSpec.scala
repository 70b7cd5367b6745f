package graft

import graft.sources.KafkaWire

/** WIRE-VISIBLE leader-epoch fencing (KIP-101 / KIP-320) — the r16
  * verdict's #4: the in-JVM election monitor guarantees in-process
  * safety, but a client OUTSIDE the broker's process needs the
  * protocol's own fencing token. These specs pin the three surfaces
  * that carry it:
  *
  *  - Metadata v9 reports each partition's LEADER_EPOCH, and the
  *    epoch is MONOTONIC across every election path (clean handover,
  *    broker-death election, unclean promotion, revived-leader
  *    re-election);
  *  - Fetch v9 validates the request's CURRENT_LEADER_EPOCH: a fetch
  *    pinned to a superseded epoch answers FENCED_LEADER_EPOCH (the
  *    deposed-regime read is refused by error code, not by luck), a
  *    too-new epoch answers UNKNOWN_LEADER_EPOCH, and the partition's
  *    batches come back stamped with the epoch they were appended
  *    under (partitionLeaderEpoch, outside the CRC by design);
  *  - OffsetsForLeaderEpoch v2 answers the follower-truncation lookup
  *    — the largest epoch at-or-below the asked one with its end
  *    offset — and follower catch-up truncates at the epoch
  *    DIVERGENCE POINT (only the divergent suffix is dropped, only
  *    the missing suffix is copied), not by rewriting the replica.
  */
class KafkaEpochSpec extends SparkSuite {

  private val u8 = java.nio.charset.StandardCharsets.UTF_8
  private def kv(s: String): (Array[Byte], Array[Byte]) =
    (s.getBytes(u8), s.getBytes(u8))

  test("Metadata v9 carries the leader epoch, and it bumps monotonically across every election path") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 2,
      replicationFactor = 2)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", cl.port(0),
        "t", acks = "all")
      try prod.send(1, (0 until 3).map(i => kv(s"a$i")), 1L)
      finally prod.close()

      def wireEpoch(p: Int): Int = {
        val c = new KafkaWire.Conn("localhost", cl.bootstrapPort)
        try KafkaWire.clusterMetadata(c, "t").epochOf(p)
        finally c.close()
      }
      val e0 = wireEpoch(1)
      assert(e0 === cl.leaderEpochOf("t", 1),
        "the wire reports the cluster's epoch")
      assert(wireEpoch(1) === e0, "no election, no bump")

      // clean handover: broker 1 -> 0
      cl.moveLeader("t", 1, 0)
      val e1 = wireEpoch(1)
      assert(e1 === e0 + 1, "a clean handover is one election")
      // handover to the INCUMBENT is a no-op, not an election
      cl.moveLeader("t", 1, 0)
      assert(wireEpoch(1) === e1)

      // broker-death election: 0 dies, 1 takes over
      cl.failBroker(0)
      val e2 = cl.leaderEpochOf("t", 1)
      assert(e2 === e1 + 1, "a death election bumps the epoch")

      // the revived broker re-enters as follower — no election
      cl.reviveBroker(0)
      assert(cl.leaderEpochOf("t", 1) === e2)
      assert(cl.isrOf("t", 1) === Set(0, 1))

      // the metadata view also carries the ISR
      val c = new KafkaWire.Conn("localhost", cl.bootstrapPort)
      try {
        val view = KafkaWire.clusterMetadata(c, "t")
        assert(view.isr(1).toSet === Set(0, 1))
        assert(view.leaders(1) === 1)
      } finally c.close()
    } finally cl.stop()
  }

  test("a revived leader of an offline partition is re-elected under a NEW epoch") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 2,
      replicationFactor = 2, minInsyncReplicas = 1)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", cl.port(0),
        "t", acks = "all")
      try prod.send(1, (0 until 3).map(i => kv(s"a$i")), 1L)
      finally prod.close()
      val before = cl.leaderEpochOf("t", 1)
      // kill the follower FIRST (no in-sync survivor), then the leader:
      // the partition goes offline with broker 1 still nominally leading
      cl.failBroker(0)
      cl.failBroker(1)
      assert(cl.isrOf("t", 1) === Set.empty[Int])
      // OFFLINE: the high watermark is the explicit sentinel, never the
      // dead leader's stored log end (nothing live can serve it)
      assert(cl.highWatermark("t", 1) === -1L)
      cl.reviveBroker(1) // still leads; re-election on the bounce
      assert(cl.leaderEpochOf("t", 1) > before,
        "re-electing the same broker after an offline window is an election")
      assert(cl.highWatermark("t", 1) === 3L)
    } finally cl.stop()
  }

  test("Fetch v9: the current epoch serves, a stale epoch is FENCED, a future epoch is UNKNOWN") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 2,
      replicationFactor = 2)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", cl.port(0),
        "t", acks = "all")
      try prod.send(1, (0 until 5).map(i => kv(s"a$i")), 1L)
      finally prod.close()

      def connTo(p: Int) =
        KafkaWire.leaderConn("localhost", cl.bootstrapPort, "t", p)

      // pin to the CURRENT epoch: served
      val cur = cl.leaderEpochOf("t", 1)
      val c1 = connTo(1)
      try {
        val (recs, _, _) = KafkaWire.fetch(c1, "t", 1, 0L,
          currentLeaderEpoch = cur)
        assert(recs.map(r => new String(r.value, u8)) ===
          (0 until 5).map(i => s"a$i"))
        // a future epoch this broker has not seen: UNKNOWN
        intercept[KafkaWire.UnknownLeaderEpochException] {
          KafkaWire.fetch(c1, "t", 1, 0L,
            currentLeaderEpoch = cur + 7)
        }
      } finally c1.close()

      // a re-election supersedes the pinned epoch: the SAME pin is now
      // FENCED by error code — stale metadata detected by the protocol
      cl.moveLeader("t", 1, 0)
      val c2 = connTo(1)
      try {
        intercept[KafkaWire.FencedLeaderEpochException] {
          KafkaWire.fetch(c2, "t", 1, 0L,
            currentLeaderEpoch = cur)
        }
        // refreshing metadata (the recovery) yields the new epoch,
        // which serves again
        val fresh = cl.leaderEpochOf("t", 1)
        val (recs, _, _) = KafkaWire.fetch(c2, "t", 1, 0L,
          currentLeaderEpoch = fresh)
        assert(recs.length === 5)
        // opting out (-1) also serves — the pre-KIP-320 client
        val (recs2, _, _) = KafkaWire.fetch(c2, "t", 1, 0L)
        assert(recs2.length === 5)
      } finally c2.close()
    } finally cl.stop()
  }

  test("fetched v2 batches are stamped with the partitionLeaderEpoch they were appended under") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 2,
      replicationFactor = 2)
    try {
      def prodTo(): KafkaWire.RetryingProducer =
        new KafkaWire.RetryingProducer("localhost", cl.bootstrapPort, "t",
          idempotent = true, acks = "all")
      val p0 = prodTo()
      try p0.send(1, (0 until 2).map(i => kv(s"a$i")), 1L)
      finally p0.close()
      val e0 = cl.leaderEpochOf("t", 1)
      cl.moveLeader("t", 1, 0) // epoch bumps
      val p1 = prodTo()
      try p1.send(1, (0 until 2).map(i => kv(s"b$i")), 2L)
      finally p1.close()
      val e1 = cl.leaderEpochOf("t", 1)
      assert(e1 === e0 + 1)

      // read the raw batches: each carries the epoch of its regime
      val c = KafkaWire.leaderConn("localhost", cl.bootstrapPort, "t", 1)
      try {
        val body = new KafkaWire.Writer()
          .int32(-1).int32(100).int32(0).int32(1 << 20).int8(0)
          .int32(0).int32(-1) // session_id, session_epoch
          .int32(1).str("t")
          .int32(1).int32(1).int32(-1).int64(0L).int64(-1L).int32(1 << 20)
          .int32(0) // forgotten_topics_data
          .result()
        val r = c.call(1, 9, body)
        r.int32(); r.int16(); r.int32() // throttle, error, session_id
        r.int32(); r.str(); r.int32(); r.int32(); r.int16()
        r.int64(); r.int64(); r.int64(); r.int32() // hw, lso, log start, aborted
        val set = r.bytes()
        val batches = KafkaWire.decodeRecordBatches(set)
        assert(batches.map(_.partitionLeaderEpoch) === Seq(e0, e1))
      } finally c.close()
    } finally cl.stop()
  }

  test("OffsetsForLeaderEpoch answers the truncation lookup across a multi-epoch log") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 2,
      replicationFactor = 2)
    try {
      def send(n: Int, tag: String): Unit = {
        val p = new KafkaWire.RetryingProducer("localhost",
          cl.bootstrapPort, "t", acks = "all")
        try p.send(1, (0 until n).map(i => kv(s"$tag$i")), 1L)
        finally p.close()
      }
      send(4, "a") // epoch e0: offsets 0-3
      val e0 = cl.leaderEpochOf("t", 1)
      cl.moveLeader("t", 1, 0)
      send(3, "b") // epoch e0+1: offsets 4-6
      cl.moveLeader("t", 1, 1)
      send(2, "c") // epoch e0+2: offsets 7-8

      val c = KafkaWire.leaderConn("localhost", cl.bootstrapPort, "t", 1)
      try {
        // exact epochs answer their exclusive end offsets
        assert(KafkaWire.offsetsForLeaderEpoch(c, "t", 1, e0) === (e0, 4L))
        assert(KafkaWire.offsetsForLeaderEpoch(c, "t", 1, e0 + 1) ===
          (e0 + 1, 7L))
        assert(KafkaWire.offsetsForLeaderEpoch(c, "t", 1, e0 + 2) ===
          (e0 + 2, 9L))
        // an epoch the leader never led in rounds DOWN (the follower
        // keeps walking from there)
        assert(KafkaWire.offsetsForLeaderEpoch(c, "t", 1, e0 + 50) ===
          (e0 + 2, 9L))
        // below every known epoch: UNKNOWN — full resync
        if (e0 > 0)
          assert(KafkaWire.offsetsForLeaderEpoch(c, "t", 1, e0 - 1) ===
            (-1, -1L))
        // the v2 fencing field works here too
        intercept[KafkaWire.FencedLeaderEpochException] {
          KafkaWire.offsetsForLeaderEpoch(c, "t", 1, e0,
            currentLeaderEpoch = e0)
        }
      } finally c.close()
    } finally cl.stop()
  }

  test("follower catch-up truncates at the epoch divergence point — suffix-only, not a replica rewrite") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 2,
      replicationFactor = 2)
    try {
      val all = new KafkaWire.RetryingProducer("localhost", cl.port(0),
        "t", acks = "all")
      val one = new KafkaWire.RetryingProducer("localhost", cl.port(0),
        "t", acks = "1")
      try {
        // 10 shared records under the first regime, on both replicas
        all.send(1, (0 until 10).map(i => kv(s"a$i")), 1L)
        // the follower stalls; 5 acks=1 records land on the leader only
        cl.pauseReplication(0)
        one.send(1, (0 until 5).map(i => kv(s"b$i")), 2L)
        // the leader dies: broker 0 (in-sync at 10) is elected; the
        // dead broker's 5-record suffix is now divergent history
        cl.failBroker(1)
        assert(cl.leaderOf("t", 1) === 0)
        // 3 records under the new regime
        val p2 = new KafkaWire.RetryingProducer("localhost", cl.port(0),
          "t", acks = "1")
        try p2.send(1, (0 until 3).map(i => kv(s"c$i")), 3L)
        finally p2.close()

        // the old leader revives: follower recovery must truncate its
        // divergent suffix AT THE DIVERGENCE POINT (offset 10 — where
        // its dead-regime epoch ends on the new leader) and copy ONLY
        // the new leader's suffix from there
        cl.reviveBroker(1)
        assert(cl.state.lastSync(("t", 1))._1 === 10L,
          "truncation lands exactly at the epoch divergence point")
        assert(cl.state.lastSync(("t", 1))._2 === 1,
          "only the missing suffix is copied (the 3-record batch)")
        val expect = (0 until 10).map(i => s"a$i") ++
          (0 until 3).map(i => s"c$i")
        assert(cl.storedAt(1, "t", 1).map(r => new String(r.value, u8)) ===
          expect)
        assert(cl.isrOf("t", 1) === Set(0, 1))
      } finally { all.close(); one.close() }
    } finally cl.stop()
  }

  test("after an unclean election, catchUpBroker re-admits the deposed replica and restores acks=all") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 2,
      replicationFactor = 2, minInsyncReplicas = 2)
    try {
      val all = new KafkaWire.RetryingProducer("localhost", cl.port(0),
        "t", acks = "all")
      try {
        all.send(1, (0 until 6).map(i => kv(s"a$i")), 1L)
        // open a lag window, then promote the LAGGING follower
        // uncleanly: the leader's acked tail is sacrificed and the
        // ISR collapses
        cl.pauseReplication(0)
        val one = new KafkaWire.RetryingProducer("localhost", cl.port(0),
          "t", acks = "1")
        try one.send(1, (0 until 4).map(i => kv(s"lost$i")), 2L)
        finally one.close()
        // an acks=all attempt detects the lag: the paused follower
        // leaves the ISR (and minInsync=2 refuses the write) — which
        // is exactly what makes the promotion below UNCLEAN
        intercept[KafkaWire.NotEnoughReplicasException] {
          all.send(1, Seq(kv("y")), 2L)
        }
        assert(cl.isrOf("t", 1) === Set(1))
        cl.moveLeader("t", 1, 0, allowUnclean = true)
        assert(cl.isrOf("t", 1) === Set(0))
        // acks=all refuses: 1 in-sync copy < minInsync 2 — and without
        // an explicit catch-up path the group would refuse FOREVER
        intercept[KafkaWire.NotEnoughReplicasException] {
          all.send(1, Seq(kv("x")), 3L)
        }
        // the explicit entry point: the deposed replica truncates its
        // divergent suffix and rejoins — acks=all works again
        cl.catchUpBroker(1)
        assert(cl.isrOf("t", 1) === Set(0, 1))
        all.send(1, (0 until 2).map(i => kv(s"d$i")), 4L)
        val expect = (0 until 6).map(i => s"a$i") ++
          (0 until 2).map(i => s"d$i")
        assert(cl.storedAt(0, "t", 1).map(r => new String(r.value, u8)) ===
          expect)
        assert(cl.storedAt(1, "t", 1).map(r => new String(r.value, u8)) ===
          expect)
      } finally all.close()
    } finally cl.stop()
  }

  test("the epoch-pinned GrowingFetcher rides a re-election by refreshing its pin") {
    val cl = new MiniKafkaCluster(numBrokers = 2, numPartitions = 2,
      replicationFactor = 2)
    try {
      val prod = new KafkaWire.RetryingProducer("localhost", cl.port(0),
        "t", acks = "all")
      try {
        prod.send(1, (0 until 5).map(i => kv(s"a$i")), 1L)
        // an epoch-aware consumer: metadata names the epoch, the
        // fetcher pins every fetch to it
        val boot = new KafkaWire.Conn("localhost", cl.bootstrapPort)
        val view =
          try KafkaWire.clusterMetadata(boot, "t") finally boot.close()
        val (h, pt) = view.leaderAddr(1)
        val c = new KafkaWire.Conn(h, pt)
        try {
          val f = new KafkaWire.GrowingFetcher(c, "t", 1,
            currentLeaderEpoch = view.epochOf(1))
          assert(f.fetchAt(0L)._1.length === 5)
          // leadership flips (same listener still serves — broker 1
          // remains alive): the pinned fetch is FENCED, the consumer
          // refreshes and re-pins
          cl.moveLeader("t", 1, 0)
          intercept[KafkaWire.FencedLeaderEpochException] {
            f.fetchAt(0L)
          }
          val boot2 = new KafkaWire.Conn("localhost", cl.bootstrapPort)
          val view2 =
            try KafkaWire.clusterMetadata(boot2, "t") finally boot2.close()
          val (h2, pt2) = view2.leaderAddr(1)
          val c2 = new KafkaWire.Conn(h2, pt2)
          try {
            val f2 = new KafkaWire.GrowingFetcher(c2, "t", 1,
              currentLeaderEpoch = view2.epochOf(1))
            assert(f2.fetchAt(0L)._1.length === 5)
          } finally c2.close()
        } finally c.close()
      } finally prod.close()
    } finally cl.stop()
  }

  test("leaderAddr surfaces a dead/absent/offline leader as the TYPED retryable NotLeaderException, never a raw map miss") {
    // r17 verdict #5: metadata reporting a leader id absent from the
    // live broker list (crashed leader pre-re-election) crashed every
    // leaderConn caller with an untyped NoSuchElementException — which
    // chaos-walk adversary threads do not catch, so they died silently
    // and their coverage evaporated while the walk stayed green.
    val view = KafkaWire.ClusterView(
      brokers = Map(0 -> ("localhost", 1234)),
      leaders = Map(0 -> 0, 1 -> 7, 2 -> -1),
      topic = "t")
    assert(view.leaderAddr(0) === (("localhost", 1234)))
    // leader id 7 is not in the broker list (it crashed)
    intercept[KafkaWire.NotLeaderException] { view.leaderAddr(1) }
    // offline partition: leader -1
    intercept[KafkaWire.NotLeaderException] { view.leaderAddr(2) }
    // missing partition row entirely
    intercept[KafkaWire.NotLeaderException] { view.leaderAddr(9) }
  }
}
