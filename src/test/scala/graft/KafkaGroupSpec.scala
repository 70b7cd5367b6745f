package graft

import graft.sources.{KafkaGroup, KafkaWire}

/** Consumer-GROUP coordination over real TCP: FindCoordinator +
  * JoinGroup/SyncGroup/Heartbeat/LeaveGroup v0 against the broker
  * double — the reference consumer's actual shape
  * (collect/consumer.py:152-159 subscribes with a group_id and gets
  * coordinator-assigned, rebalancing partitions; r14's
  * pollOnce(groupId) covered only standalone offset persistence).
  * Pins the three safety properties: disjoint+exhaustive assignment,
  * loss/duplicate-free handover across a rebalance (graceful leave
  * AND session-timeout eviction), and loud generation fencing of a
  * zombie's OffsetCommit. */
class KafkaGroupSpec extends SparkSuite {

  private val u8 = java.nio.charset.StandardCharsets.UTF_8

  private def produceTo(srv: MiniKafkaServer, topic: String, p: Int,
      values: Seq[String]): Unit = {
    val c = new KafkaWire.Conn("localhost", srv.port)
    try KafkaTestKit.produce(c, topic, p,
      values.map(v => (s"k-$v".getBytes(u8), v.getBytes(u8))),
      1716500000000L)
    finally c.close()
  }

  /** Poll `m`'s heartbeat until the coordinator reports it superseded
    * (a rebalance is due) — the liveness loop a real consumer runs on
    * its heartbeat thread. */
  private def awaitRebalanceSignal(m: KafkaGroup.GroupMember): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (m.heartbeatOnce()) {
      assert(System.currentTimeMillis() < deadline,
        "coordinator never signalled the rebalance")
      Thread.sleep(20)
    }
  }

  /** Bring a second member into `first`'s stable single-member group:
    * second joins (parking at the coordinator's barrier), first
    * discovers via heartbeat and re-joins. Returns the two
    * assignments of the new generation. */
  private def stabilizePair(first: KafkaGroup.GroupMember,
      second: KafkaGroup.GroupMember):
      (Map[String, Seq[Int]], Map[String, Seq[Int]]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val secondJoin = Future(second.ensureActive())
    awaitRebalanceSignal(first)
    val a = first.ensureActive()
    val b = Await.result(secondJoin, 15.seconds)
    (a, b)
  }

  test("two members of one group split a 4-partition topic disjointly and exhaustively") {
    val srv = new MiniKafkaServer(numPartitions = 4)
    try {
      val a = new KafkaGroup.GroupMember("localhost", srv.port, "g1", Seq("t"))
      val b = new KafkaGroup.GroupMember("localhost", srv.port, "g1", Seq("t"))
      try {
        // alone, the first member owns everything
        val solo = a.ensureActive()
        assert(solo("t") == Seq(0, 1, 2, 3))
        assert(a.heartbeatOnce())
        val gen1 = a.generation

        val (aa, ba) = stabilizePair(a, b)
        val aParts = aa("t").toSet
        val bParts = ba("t").toSet
        assert(aParts.intersect(bParts).isEmpty, "assignments overlap")
        assert(aParts.union(bParts) == Set(0, 1, 2, 3), "partitions dropped")
        assert(aParts.size == 2 && bParts.size == 2) // range: 2 + 2
        // one shared generation, strictly after the solo one
        assert(a.generation == b.generation && a.generation > gen1)
        // both are live members of the stable group
        assert(a.heartbeatOnce() && b.heartbeatOnce())
      } finally { a.close(); b.close(); }
    } finally srv.stop()
  }

  test("graceful leave rebalances; committed offsets hand over with no loss or duplication") {
    val srv = new MiniKafkaServer(numPartitions = 4)
    try {
      (0 until 4).foreach { p =>
        produceTo(srv, "t", p, (0 until 10).map(i => s"r1-$p-$i"))
      }
      val a = new KafkaGroup.GroupMember("localhost", srv.port, "g2", Seq("t"))
      val b = new KafkaGroup.GroupMember("localhost", srv.port, "g2", Seq("t"))
      try {
        a.ensureActive()
        val _ = stabilizePair(a, b)
        // each member drains ITS partitions and commits through the group
        val round1 = a.pollAssigned("t") ++ b.pollAssigned("t")
        assert(round1.length == 40)
        assert(round1.map(r => new String(r._2.value, u8)).toSet ==
          (for (p <- 0 until 4; i <- 0 until 10) yield s"r1-$p-$i").toSet)

        // b departs gracefully; a inherits everything
        b.leave()
        awaitRebalanceSignal(a)
        val after = a.ensureActive()
        assert(after("t") == Seq(0, 1, 2, 3))

        (0 until 4).foreach { p =>
          produceTo(srv, "t", p, (0 until 5).map(i => s"r2-$p-$i"))
        }
        // the handover resumes from the group's committed positions:
        // exactly the new records — nothing b consumed replays,
        // nothing is skipped
        val round2 = a.pollAssigned("t")
        assert(round2.map(r => new String(r._2.value, u8)).toSet ==
          (for (p <- 0 until 4; i <- 0 until 5) yield s"r2-$p-$i").toSet)
      } finally { a.close(); b.close(); }
    } finally srv.stop()
  }

  test("a silently-dead member is evicted at its session timeout and the group rebalances") {
    val srv = new MiniKafkaServer(numPartitions = 4)
    try {
      val a = new KafkaGroup.GroupMember("localhost", srv.port, "g3",
        Seq("t"), sessionTimeoutMs = 10000)
      val b = new KafkaGroup.GroupMember("localhost", srv.port, "g3",
        Seq("t"), sessionTimeoutMs = 500)
      try {
        a.ensureActive()
        val _ = stabilizePair(a, b)
        val genBoth = a.generation
        // b dies silently: no LeaveGroup, no heartbeats
        Thread.sleep(800)
        // a's next heartbeat sweeps the corpse and signals the rebalance
        awaitRebalanceSignal(a)
        val after = a.ensureActive()
        assert(after("t") == Seq(0, 1, 2, 3), "survivor must own all partitions")
        assert(a.generation > genBoth)
      } finally { a.close(); b.close(); }
    } finally srv.stop()
  }

  test("a zombie's OffsetCommit at a stale generation is fenced loudly and stores nothing") {
    val srv = new MiniKafkaServer(numPartitions = 4)
    try {
      val a = new KafkaGroup.GroupMember("localhost", srv.port, "g4", Seq("t"))
      val b = new KafkaGroup.GroupMember("localhost", srv.port, "g4", Seq("t"))
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        a.ensureActive()
        val staleGen = a.generation
        val _ = stabilizePair(a, b) // generation moves past staleGen
        assert(a.generation > staleGen)

        // the zombie: a VALID member id carrying the superseded
        // generation — ILLEGAL_GENERATION, loudly
        val ex = intercept[KafkaWire.CommitFailedException] {
          KafkaWire.commitOffsets(c, "g4", "t", Map(0 -> 7L),
            staleGen, a.memberId)
        }
        assert(ex.code == KafkaWire.Errors.IllegalGeneration)
        // and an id the coordinator never issued — UNKNOWN_MEMBER_ID
        val ex2 = intercept[KafkaWire.CommitFailedException] {
          KafkaWire.commitOffsets(c, "g4", "t", Map(0 -> 7L),
            a.generation, "ghost-member")
        }
        assert(ex2.code == KafkaWire.Errors.UnknownMemberId)
        // neither fenced commit moved the group's position
        assert(KafkaWire.fetchOffsets(c, "g4", "t", Seq(0))(0).isEmpty)

        // the real member at the current generation commits fine
        a.commit("t", Map(0 -> 7L))
        assert(KafkaWire.fetchOffsets(c, "g4", "t", Seq(0))(0).contains(7L))
      } finally { a.close(); b.close(); c.close(); }
    } finally srv.stop()
  }

  test("standalone commits (generation -1) are fenced once the group has live membership") {
    val srv = new MiniKafkaServer(numPartitions = 2)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      val a = new KafkaGroup.GroupMember("localhost", srv.port, "g5", Seq("t"))
      try {
        // no membership: the r14 standalone convention still works
        KafkaWire.commitOffsets(c, "g5", "t", Map(0 -> 3L))
        assert(KafkaWire.fetchOffsets(c, "g5", "t", Seq(0))(0).contains(3L))

        a.ensureActive()
        // same group, now coordinated: a standalone commit would
        // bypass the generation fence — rejected
        val ex = intercept[KafkaWire.CommitFailedException] {
          KafkaWire.commitOffsets(c, "g5", "t", Map(0 -> 9L))
        }
        assert(ex.code == KafkaWire.Errors.IllegalGeneration)
        assert(KafkaWire.fetchOffsets(c, "g5", "t", Seq(0))(0).contains(3L))
        // other groups are unaffected
        KafkaWire.commitOffsets(c, "g5-other", "t", Map(0 -> 5L))
      } finally { a.close(); c.close(); }
    } finally srv.stop()
  }

  test("the background heartbeat keeps a slow consumer alive and flags supersession") {
    val srv = new MiniKafkaServer(numPartitions = 4)
    try {
      val a = new KafkaGroup.GroupMember("localhost", srv.port, "g6",
        Seq("t"), sessionTimeoutMs = 600)
      val b = new KafkaGroup.GroupMember("localhost", srv.port, "g6", Seq("t"))
      try {
        a.ensureActive()
        a.startHeartbeats() // interval = sessionTimeout / 3
        // the owner goes quiet for 3x its session timeout — only the
        // daemon heartbeats keep it from eviction (without the loop,
        // the silent-death test above proves this window evicts)
        Thread.sleep(1800)
        assert(!a.rebalanceDue, "no rebalance yet")
        assert(a.heartbeatOnce(), "still a live member after 3x the timeout")
        // a second member joins: the LOOP notices the supersession and
        // raises the flag instead of the owner having to poll
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        val bJoin = Future(b.ensureActive())
        val deadline = System.currentTimeMillis() + 10000
        while (!a.rebalanceDue && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        assert(a.rebalanceDue, "the heartbeat loop must flag the rebalance")
        val aa = a.ensureActive() // clears the flag, re-joins
        val ba = Await.result(bJoin, 15.seconds)
        assert(!a.rebalanceDue)
        assert(aa("t").toSet.union(ba("t").toSet) == Set(0, 1, 2, 3))
        // the loop can be re-armed for the new generation
        a.startHeartbeats()
        Thread.sleep(900)
        assert(a.heartbeatOnce())
      } finally { a.close(); b.close(); }
    } finally srv.stop()
  }

  test("pollGroup: the coordinated distributed poll consumes exactly once across calls") {
    val srv = new MiniKafkaServer(numPartitions = 4)
    try {
      (0 until 4).foreach { p =>
        produceTo(srv, "t", p, (0 until 10).map(i => s"r1-$p-$i"))
      }
      def poll() = KafkaGroup.pollGroup(spark, "localhost", srv.port, "t", "gp")
      val r1 = poll().select("value").collect().map(_.getString(0)).toSet
      assert(r1 === (for (p <- 0 until 4; i <- 0 until 10)
        yield s"r1-$p-$i").toSet)
      (0 until 4).foreach { p =>
        produceTo(srv, "t", p, (0 until 5).map(i => s"r2-$p-$i"))
      }
      // the second poll resumes from the group's committed positions
      val r2 = poll().select("value").collect().map(_.getString(0)).toSet
      assert(r2 === (for (p <- 0 until 4; i <- 0 until 5)
        yield s"r2-$p-$i").toSet)
      // drained: a third poll reads nothing and the membership is gone
      assert(poll().count() === 0L)
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        // with the one-shot member gone, standalone inspection works
        assert(KafkaWire.fetchOffsets(c, "gp", "t", Seq(0))(0).contains(15L))
      } finally c.close()
    } finally srv.stop()
  }

  test("DescribeGroups reads the coordinator's view: state, protocol, members, assignments") {
    val srv = new MiniKafkaServer(numPartitions = 4)
    try {
      val c = new KafkaWire.Conn("localhost", srv.port)
      val a = new KafkaGroup.GroupMember("localhost", srv.port, "gd", Seq("t"))
      val b = new KafkaGroup.GroupMember("localhost", srv.port, "gd", Seq("t"))
      try {
        // never-seen group: Dead, memberless — the protocol convention
        assert(KafkaGroup.describeGroup(c, "nope").state === "Dead")
        a.ensureActive()
        val _ = stabilizePair(a, b)
        val d = KafkaGroup.describeGroup(c, "gd")
        assert(d.state === "Stable")
        assert(d.protocolType === "consumer" && d.protocol === "range")
        assert(d.members.map(_._1).toSet === Set(a.memberId, b.memberId))
        // the described assignments ARE the live split: disjoint,
        // exhaustive, matching what each member holds
        val byId = d.members.map(m => m._1 -> m._3.getOrElse("t", Seq.empty)).toMap
        assert(byId(a.memberId).toSet === a.assigned("t").toSet)
        assert(byId(b.memberId).toSet === b.assigned("t").toSet)
        assert(byId.values.flatten.toSet === Set(0, 1, 2, 3))
        assert(d.members.forall(_._2 === Seq("t")), "subscription travels")
        // ...and ListGroups names it among the living
        assert(KafkaGroup.listGroups(c).contains(("gd", "consumer")))
        // after everyone leaves, the group is Empty (offsets retained)
        a.commit("t", Map(0 -> 1L))
        a.leave(); b.leave()
        val after = KafkaGroup.describeGroup(c, "gd")
        assert(after.state === "Empty" && after.members.isEmpty)
        assert(KafkaWire.fetchOffsets(c, "gd", "t", Seq(0))(0).contains(1L))
        assert(KafkaGroup.listGroups(c).contains(("gd", "")),
          "an Empty group still lists (its offsets are retained)")
      } finally { a.close(); b.close(); c.close(); }
    } finally srv.stop()
  }

  test("protocol selection: the coordinator picks an assignor ALL members support, or rejects the joiner") {
    val srv = new MiniKafkaServer(numPartitions = 4)
    try {
      // both members prefer roundrobin (range as fallback): selected
      // protocol is roundrobin, and the LEADER assigns with it —
      // interleaved partitions, not contiguous ranges
      val a = new KafkaGroup.GroupMember("localhost", srv.port, "gp1",
        Seq("t"), assignors = Seq("roundrobin", "range"))
      val b = new KafkaGroup.GroupMember("localhost", srv.port, "gp1",
        Seq("t"), assignors = Seq("roundrobin", "range"))
      val c = new KafkaWire.Conn("localhost", srv.port)
      try {
        a.ensureActive()
        val (aa, ba) = stabilizePair(a, b)
        assert(KafkaGroup.describeGroup(c, "gp1").protocol === "roundrobin")
        val (first, second) =
          if (aa("t").contains(0)) (aa("t"), ba("t")) else (ba("t"), aa("t"))
        assert(first === Seq(0, 2) && second === Seq(1, 3),
          "roundrobin deals partitions alternately")
        // a member offering NO common protocol is rejected at the door
        val odd = new KafkaGroup.GroupMember("localhost", srv.port, "gp1",
          Seq("t"), assignors = Seq("sticky"))
        try {
          val e = intercept[RuntimeException] { odd.ensureActive() }
          assert(e.getMessage.contains("no common assignment protocol"))
        } finally odd.close()
        // the incompatible joiner disturbed nothing
        assert(a.heartbeatOnce() && b.heartbeatOnce())
      } finally { a.close(); b.close(); c.close(); }
    } finally srv.stop()
  }

  test("roundrobin assignor: interleaves across topics and skips non-subscribers") {
    // two topics x 3 partitions, both members subscribed: 6 tps dealt
    // alternately — 3 each, never 4/2 (range would give 4/2 on odd
    // per-topic splits)
    val rr = KafkaGroup.roundRobinAssign(
      Seq("m1" -> Seq("x", "y"), "m2" -> Seq("x", "y")), _ => 3)
    val m1 = rr("m1").values.flatten.size
    val m2 = rr("m2").values.flatten.size
    assert(m1 == 3 && m2 == 3)
    assert(rr("m1")("x") == Seq(0, 2) && rr("m2")("x") == Seq(1))
    assert(rr("m1")("y") == Seq(1) && rr("m2")("y") == Seq(0, 2))
    // a member not subscribed to a topic is skipped for it
    val skip = KafkaGroup.roundRobinAssign(
      Seq("m1" -> Seq("x"), "m2" -> Seq("x", "y")), _ => 2)
    assert(skip("m2")("y") == Seq(0, 1))
    assert(!skip("m1").contains("y"))
    assert((skip("m1").getOrElse("x", Seq.empty) ++
      skip("m2").getOrElse("x", Seq.empty)).sorted == Seq(0, 1))
  }

  test("range assignor: contiguous ranges, uneven splits, and subset subscriptions") {
    // 5 partitions over 2 members: sorted-first member takes the extra
    val even = KafkaGroup.rangeAssign(
      Seq("m2" -> Seq("t"), "m1" -> Seq("t")), _ => 5)
    assert(even("m1")("t") == Seq(0, 1, 2))
    assert(even("m2")("t") == Seq(3, 4))
    // co-partitioned topics land on the same member (the property the
    // range assignor exists for)
    val co = KafkaGroup.rangeAssign(
      Seq("m1" -> Seq("x", "y"), "m2" -> Seq("x", "y")), _ => 4)
    assert(co("m1")("x") == co("m1")("y"))
    // a member subscribed to a subset only shares what it asked for
    val subset = KafkaGroup.rangeAssign(
      Seq("m1" -> Seq("x", "y"), "m2" -> Seq("y")), t => if (t == "x") 2 else 2)
    assert(subset("m1")("x") == Seq(0, 1))
    assert(subset("m1")("y") == Seq(0) && subset("m2")("y") == Seq(1))
    // more members than partitions: the tail gets nothing, nothing is
    // assigned twice
    val thin = KafkaGroup.rangeAssign(
      Seq("m1" -> Seq("t"), "m2" -> Seq("t"), "m3" -> Seq("t")), _ => 2)
    assert(thin("m1")("t") == Seq(0) && thin("m2")("t") == Seq(1))
    assert(!thin("m3").contains("t"))
    // subscription/assignment codecs round-trip
    val sub = KafkaGroup.encodeSubscription(Seq("a", "b"))
    assert(KafkaGroup.decodeSubscription(sub) == Seq("a", "b"))
    val asg = KafkaGroup.encodeAssignment(Map("t" -> Seq(1, 3)))
    assert(KafkaGroup.decodeAssignment(asg) == Map("t" -> Seq(1, 3)))
  }

  test("read_committed group poll: aborted/open transactional data never reaches a group consumer, position commits at the LSO") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      def txnProducer(tid: String) = new KafkaWire.RetryingProducer(
        "localhost", srv.port, "t", idempotent = true, transactionalId = tid)
      // committed transaction: rows 0..2, marker at 3
      val pa = txnProducer("txA")
      try {
        pa.beginTransaction()
        pa.send(0, (0 until 3).map(i => (s"a$i".getBytes(u8), s"a$i".getBytes(u8))), 1L)
        pa.commitTransaction()
      } finally pa.close()
      // aborted transaction: rows 4..5, abort marker at 6
      val pb = txnProducer("txB")
      try {
        pb.beginTransaction()
        pb.send(0, (0 until 2).map(i => (s"b$i".getBytes(u8), s"b$i".getBytes(u8))), 2L)
        pb.abortTransaction()
      } finally pb.close()
      // OPEN transaction: rows 7..8, never resolved — pins the LSO at 7
      val pc = txnProducer("txC")
      pc.beginTransaction()
      pc.send(0, (0 until 2).map(i => (s"c$i".getBytes(u8), s"c$i".getBytes(u8))), 3L)
      try {
        assert(srv.lastStable("t", 0) === 7L)

        // member path: only txA's rows surface; the commit is LSO-bounded
        val m = new KafkaGroup.GroupMember("localhost", srv.port, "grc", Seq("t"))
        try {
          m.ensureActive()
          val got = m.pollAssigned("t",
            isolation = KafkaWire.Isolation.ReadCommitted)
          assert(got.map(r => new String(r._2.value, u8)) === Seq("a0", "a1", "a2"))
          assert(m.committed("t", Seq(0))(0).contains(7L),
            "the committed position must stop at the LSO, past the aborted range")
          // a second committed poll re-reads nothing
          assert(m.pollAssigned("t",
            isolation = KafkaWire.Isolation.ReadCommitted).isEmpty)
          m.leave()
        } finally m.close()

        // distributed path: same contract through pollGroup
        val df = KafkaGroup.pollGroup(spark, "localhost", srv.port, "t",
          "grc2", isolationLevel = "read_committed")
        assert(df.select("value").collect().map(_.getString(0)).toSeq ===
          Seq("a0", "a1", "a2"))
        val c = new KafkaWire.Conn("localhost", srv.port)
        try assert(KafkaWire.fetchOffsets(c, "grc2", "t", Seq(0))(0).contains(7L))
        finally c.close()

        // resolving the open transaction releases the held rows to a
        // FRESH poll of each group — from the LSO-bounded position,
        // nothing replayed, nothing skipped
        pc.commitTransaction()
      } finally pc.close()
      val df2 = KafkaGroup.pollGroup(spark, "localhost", srv.port, "t",
        "grc2", isolationLevel = "read_committed")
      assert(df2.select("value").collect().map(_.getString(0)).toSeq ===
        Seq("c0", "c1"))
    } finally srv.stop()
  }

  test("JoinGroup v1: a short rebalance deadline cuts a non-rejoining member without shortening sessions") {
    val srv = new MiniKafkaServer(numPartitions = 4)
    try {
      // both members keep LONG sessions (survive slow polls) but ask
      // for a SHORT rebalance deadline — v0 cannot express this (its
      // barrier deadline IS the session timeout, so this join would
      // stall 60 s); v1 carries rebalance_timeout separately
      val a = new KafkaGroup.GroupMember("localhost", srv.port, "gv1",
        Seq("t"), sessionTimeoutMs = 60000, rebalanceTimeoutMs = 1500)
      val b = new KafkaGroup.GroupMember("localhost", srv.port, "gv1",
        Seq("t"), sessionTimeoutMs = 60000, rebalanceTimeoutMs = 1500)
      try {
        a.ensureActive()
        val aId = a.memberId
        // b joins; a NEVER re-joins (a stalled, not-yet-dead consumer:
        // its 60 s session is intact, only the barrier cuts it)
        val t0 = System.currentTimeMillis()
        val bAssigned = b.ensureActive()
        val elapsed = System.currentTimeMillis() - t0
        assert(elapsed < 10000,
          s"barrier must close at the 1.5 s rebalance deadline, took ${elapsed} ms")
        assert(bAssigned("t") === Seq(0, 1, 2, 3),
          "the non-rejoining member is evicted; the joiner owns everything")
        // the cut member is GONE (eviction, not suspension): its next
        // heartbeat is UNKNOWN_MEMBER_ID, so heartbeatOnce resets it
        assert(!a.heartbeatOnce())
        assert(a.memberId === "",
          "UNKNOWN_MEMBER_ID must reset the member to a fresh join")
        assert(b.heartbeatOnce(), "the survivor is a live current member")
        val c = new KafkaWire.Conn("localhost", srv.port)
        try {
          val d = KafkaGroup.describeGroup(c, "gv1")
          assert(d.state === "Stable")
          assert(d.members.map(_._1) === Seq(b.memberId))
          assert(!d.members.exists(_._1 == aId))
        } finally c.close()
      } finally { a.close(); b.close(); }
    } finally srv.stop()
  }

  test("group-path data loss: onDataLoss=earliest resets like kafka-python; the default stays loud") {
    val srv = new MiniKafkaServer(numPartitions = 1)
    try {
      produceTo(srv, "t", 0, (0 until 10).map(i => s"a$i"))
      val m = new KafkaGroup.GroupMember("localhost", srv.port, "gdl", Seq("t"))
      try {
        m.ensureActive()
        assert(m.pollAssigned("t").length === 10) // commits position 10
        produceTo(srv, "t", 0, (0 until 6).map(i => s"b$i")) // 10..15
        // retention deletes PAST the committed position: offsets
        // [10, 13) this group never consumed are gone
        srv.truncateBefore("t", 0, 13L)

        // default: LOUD — the group's checkpointed range was deleted
        intercept[KafkaWire.OffsetOutOfRangeException] {
          m.pollAssigned("t")
        }
        // nothing moved: the committed position is still 10
        assert(m.committed("t", Seq(0))(0).contains(10L))

        // the reference consumer's auto_offset_reset="earliest": skip
        // to the surviving head, consume it, commit past the gap
        val got = m.pollAssigned("t", onDataLoss = "earliest")
        assert(got.map(r => new String(r._2.value, u8)) ===
          Seq("b3", "b4", "b5"))
        assert(m.committed("t", Seq(0))(0).contains(16L))
        m.leave()
      } finally m.close()

      // same contract through the distributed poll
      produceTo(srv, "t", 0, Seq("c0")) // offset 16
      // a fresh group with a pre-seeded committed position below the
      // log start (simulates a long-dormant group)
      val c = new KafkaWire.Conn("localhost", srv.port)
      try KafkaWire.commitOffsets(c, "gdl2", "t", Map(0 -> 2L))
      finally c.close()
      intercept[org.apache.spark.SparkException] {
        KafkaGroup.pollGroup(spark, "localhost", srv.port, "t", "gdl2").count()
      }
      val df = KafkaGroup.pollGroup(spark, "localhost", srv.port, "t",
        "gdl2", onDataLoss = "earliest")
      assert(df.select("value").collect().map(_.getString(0)).toSeq ===
        Seq("b3", "b4", "b5", "c0"))
    } finally srv.stop()
  }
}
