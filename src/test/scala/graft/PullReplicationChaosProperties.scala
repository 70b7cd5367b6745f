package graft

import graft.sources.KafkaWire
import graft.sources.KafkaWire.PartitionRegime
import org.scalacheck.{Gen, Prop, Properties, Test}

/** CHAOS pass on the PULL-replication machinery — the randomized
  * counterpart of ReplicationCrossProcessSpec's scripted walk, run
  * with both [[MiniKafkaNode]]s in ONE JVM (replication still crosses
  * real sockets — pull mode never touches shared state on the data
  * path — but crash/revive cycles cost a listener, not a process).
  * Random interleavings of acks=all produce / acks=1 produce /
  * crash-leader+promote / revive, with the TEST as controller
  * (LeaderAndIsr pushes, epoch per regime, pid-block leases per
  * incarnation), asserting after every step:
  *
  *  1. DURABILITY — every acks=all-ACKED value is served, in order,
  *     by whoever currently leads (the ack was proof of cross-node
  *     persistence via the purgatory, so no crash may lose it);
  *  2. MONOTONIC READS — every drain extends the previous one (the
  *     follower-LEO-derived high watermark must hide acks=1 tails a
  *     failover could unwrite);
  *  3. EPOCH MONOTONICITY — the regime token never regresses on any
  *     live node.
  *
  * acks=1 values may be lost at a crash (the contract) but only ever
  * invisibly — invariant 2 proves no consumer observed a lost one. */
object PullReplicationChaosProperties
    extends Properties("graft.pullreplchaos") {

  // each case boots listeners + fetcher threads; 10 randomized walks
  // of 8 ops on top of the scripted cross-process spec is plenty
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val u8 = java.nio.charset.StandardCharsets.UTF_8

  private sealed trait Op
  private final case class PAll(n: Int) extends Op
  private final case class P1(n: Int) extends Op
  private case object CrashLeader extends Op
  private case object Revive extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.chooseNum(1, 4).map(PAll(_)),
    3 -> Gen.chooseNum(1, 4).map(P1(_)),
    2 -> Gen.const(CrashLeader),
    2 -> Gen.const(Revive))

  property("random produce/crash/promote/revive walks never lose purgatory-acked data or un-read") =
    Prop.forAll(Gen.listOfN(8, opGen)) { ops =>
      val topic = "t"; val P = 0
      val pidLease = new java.util.concurrent.atomic.AtomicLong(0L)
      def newNode(id: Int): MiniKafkaNode =
        new MiniKafkaNode(id, numPartitions = 1, replicationFactor = 2,
          minInsyncReplicas = 1, ackTimeoutMs = 2000,
          pidBlock = 1000L + pidLease.incrementAndGet() * 1000000L)
      val nodes = scala.collection.mutable.Map(0 -> newNode(0), 1 -> newNode(1))
      val dead = scala.collection.mutable.Set.empty[Int]
      var leader = 0
      var epoch = 1
      var failure: Option[String] = None
      def check(cond: Boolean, msg: => String): Unit =
        if (failure.isEmpty && !cond) failure = Some(msg)

      def push(): Unit = {
        val live = nodes.toSeq.sortBy(_._1)
          .filterNot { case (id, _) => dead(id) }
          .map { case (id, n) => (id, "localhost", n.port) }
        val regimes = Seq(PartitionRegime(topic, P, leader, epoch,
          Set(leader), Seq(0, 1)))
        live.foreach { case (_, h, pt) =>
          val c = new KafkaWire.Conn(h, pt)
          try KafkaWire.leaderAndIsr(c, epoch, regimes, live)
          finally c.close()
        }
      }

      /** With both brokers live, wait for the fetcher to catch up and
        * be re-admitted; with the follower DEAD, acks=all proceeds on
        * the leader alone (ISR {leader}, minInsync 1) — that is the
        * degraded-durability contract, not a wait. */
      def awaitIsrFull(): Unit = if (dead.isEmpty) {
        val deadline = System.currentTimeMillis() + 10000
        while (System.currentTimeMillis() < deadline &&
            nodes(leader).state.isrOf(topic, P) != Set(0, 1))
          Thread.sleep(10)
        check(nodes(leader).state.isrOf(topic, P) == Set(0, 1),
          s"follower never caught up: ISR ${nodes(leader).state.isrOf(topic, P)}")
      }

      var seq = 0
      val durable = scala.collection.mutable.ArrayBuffer.empty[String]
      var lastVisible = Vector.empty[String]

      def drainVisible(): Vector[String] = {
        val lp = nodes(leader).port
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var off = 0L; var done = false
        val c = new KafkaWire.Conn("localhost", lp)
        try {
          while (!done) {
            val (recs, wm, nextPos) = KafkaWire.fetch(c, topic,
              P, off, currentLeaderEpoch = epoch)
            if (recs.isEmpty) done = true
            else {
              out ++= recs.map(r => new String(r.value, u8))
              off = recs.last.offset + 1
              done = off >= wm
            }
            if (nextPos > off) off = nextPos
          }
        } finally c.close()
        out.toVector
      }

      def produceOnce(acks: String, n: Int): Unit = {
        val vals = (0 until n).map { _ => seq += 1; s"v$seq" }
        val prod = new KafkaWire.RetryingProducer("localhost",
          nodes(leader).port, topic, idempotent = true, acks = acks)
        try {
          try {
            prod.send(P, vals.map(v => (v.getBytes(u8), v.getBytes(u8))), 1L)
            if (acks == "all") durable ++= vals
          } catch {
            // appended but not fully replicated before the deadline:
            // durability NOT achieved — by contract these values may
            // or may not survive, so they join neither ledger
            case _: KafkaWire.NotEnoughReplicasAfterAppendException =>
          }
        } finally prod.close()
      }

      var lastEpochSeen = 0
      def checkInvariants(): Unit = if (failure.isEmpty) {
        val e = nodes(leader).state.leaderEpochOf(topic, P)
        check(e >= lastEpochSeen,
          s"epoch went backwards: $lastEpochSeen -> $e")
        lastEpochSeen = e
        val vis = drainVisible()
        check(vis.take(lastVisible.length) == lastVisible,
          s"NON-REPEATABLE READ: had $lastVisible, now $vis")
        // acks=all values acked by the purgatory must all be visible,
        // in order (subsequence: acks=1 values interleave)
        var i = 0
        vis.foreach { v => if (i < durable.length && durable(i) == v) i += 1 }
        check(i == durable.length,
          s"acked-durable values missing: durable=$durable visible=$vis")
        lastVisible = vis
      }

      try {
        push()
        awaitIsrFull()
        produceOnce("all", 2)
        checkInvariants()
        ops.foreach { op =>
          if (failure.isEmpty) {
            op match {
              case PAll(n) =>
                // acks=all needs the ISR honest first: wait for the
                // fetcher to re-admit after any prior crash/revive
                awaitIsrFull()
                produceOnce("all", n)
              case P1(n) => produceOnce("1", n)
              case CrashLeader =>
                if (dead.isEmpty) {
                  // CLEAN election only, like the in-process chaos
                  // walk: the survivor must be IN SYNC at crash time
                  // (a freshly revived, still-resyncing follower that
                  // gets promoted is an UNCLEAN election — by contract
                  // it loses leader-only data, which would falsify the
                  // durability invariant with no product bug). The
                  // fetcher re-admits itself by catching up, so this
                  // settles fast.
                  awaitIsrFull()
                  val crashed = leader
                  nodes(crashed).stop() // listener + fetchers die
                  dead += crashed
                  leader = 1 - crashed
                  epoch += 1
                  push()
                  // the survivor's view of what was consumable may
                  // SHRINK relative to the dead leader's log end, but
                  // never relative to what a consumer SAW: reads were
                  // HW-bounded, and with the survivor in-sync the HW
                  // required its fetches — lastVisible stays a prefix
                }
              case Revive =>
                dead.headOption.foreach { id =>
                  nodes(id) = newNode(id) // fresh listener, EMPTY log
                  dead -= id
                  push() // same regime; the node starts its fetcher
                }
            }
            checkInvariants()
          }
        }
        // settle: revive everything, wait for full ISR, final audit
        if (failure.isEmpty) {
          dead.toSeq.foreach { id =>
            nodes(id) = newNode(id); dead -= id
          }
          push()
          awaitIsrFull()
          checkInvariants()
        }
        failure match {
          case None => Prop.passed
          case Some(msg) => Prop.falsified :| msg
        }
      } finally nodes.values.foreach(n => try n.stop()
        catch { case _: Exception => })
    }
}
