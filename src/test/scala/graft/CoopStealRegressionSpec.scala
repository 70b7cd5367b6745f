package graft

import graft.sources.KafkaGroup
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Deterministic regression for the r17 falsified cooperative chaos
  * walk (seed `_ZQHOJ0BXzd4_PINKO11vgRNhZnsUCbqDlUIoGbtlOL=`, label
  * "partition 1 moved DIRECTLY member#1 -> member#2 between gens
  * 7 -> 10 (no unowned round)").
  *
  * Root cause, reproduced here without the timing dependence: a
  * member evicted at the join-barrier deadline keeps its CLIENT-side
  * assignment. When it rejoins (UNKNOWN_MEMBER_ID → fresh member id)
  * it used to re-advertise that stale assignment as its
  * owned-partitions claim, and the assignor's old
  * first-claimant-wins conflict rule was LEXICOGRAPHIC on member id —
  * so a fresh id that happens to sort before the survivor's
  * (`graft-11` < `graft-9`) STOLE the partitions straight back while
  * the survivor's last synced generation still owned them: the exact
  * KIP-429 double-ownership hazard cooperative rebalancing exists to
  * prevent, and a duplicate-consumption window on the stolen
  * partitions.
  *
  * The fix is two independent layers, both pinned here:
  *  1. client: UNKNOWN_MEMBER_ID means the partitions were LOST, not
  *     revoked — the member clears its assignment (and records the
  *     loss in `lostHistory`) before rejoining, like the stock
  *     client's onPartitionsLost path;
  *  2. assignor: claims carry the GENERATION they were synced at
  *     (Subscription v2) and a double-claim resolves to the HIGHEST
  *     generation — a stale claimant can never outrank the current
  *     owner regardless of member-id sort order.
  */
class CoopStealRegressionSpec extends AnyFunSuite {

  private def pumpAll(ms: Seq[KafkaGroup.GroupMember]): Unit = {
    def joinAll(): Unit = {
      val fs = ms.map(m => Future(m.ensureActive()))
      fs.foreach(Await.result(_, 30.seconds))
    }
    joinAll()
    var rounds = 0
    while (rounds < 12 &&
        ms.exists(m => m.rejoinNeeded || !m.heartbeatOnce())) {
      joinAll()
      rounds += 1
    }
  }

  test("a barrier-evicted owner's stale claim cannot steal partitions back without an unowned round") {
    val state = new KafkaClusterState
    val srv = new MiniKafkaServer(numPartitions = 4,
      state = state)
    try {
      val topic = "steal-t"
      val group = "gsteal"
      // burn member ids to 8 so the survivor is graft-9, the victim
      // graft-10, and the victim's REJOINED incarnation graft-11 —
      // which sorts lexicographically BEFORE graft-9, the order the
      // buggy first-claimant rule keyed on
      while (state.nextMemberId.get() < 8) state.nextMemberId.incrementAndGet()
      def mk() = new KafkaGroup.GroupMember("localhost", srv.port, group,
        Seq(topic), sessionTimeoutMs = 30000,
        assignors = Seq("cooperative-sticky", "range"),
        rebalanceTimeoutMs = 5000)
      val a = mk()
      val b = mk()
      pumpAll(Seq(a, b))
      val aOwned0 = a.assigned.getOrElse(topic, Seq.empty).toSet
      val bOwned0 = b.assigned.getOrElse(topic, Seq.empty).toSet
      assert(aOwned0.size == 2 && bOwned0.size == 2 &&
        (aOwned0 | bOwned0) == Set(0, 1, 2, 3))

      // evict B exactly the way an expired join barrier does: its
      // server-side session deadline passes; the next expireMembers
      // sweep (A's heartbeat) removes it and starts a round. B's
      // CLIENT stays alive and still believes it owns bOwned0.
      val g = state.groups(group)
      // B may already have recorded a loss while the first pumpAll
      // settled (it can lose a generation there under load); the loss
      // under test is the first one recorded AFTER this point
      val lostBefore = b.lostHistory.size
      g.synchronized {
        g.members.get(b.memberId).foreach(_.deadline = 0L)
      }
      // A notices (heartbeat sweep evicts B, round starts) and
      // re-stabilizes alone: A absorbs all four partitions.
      pumpAll(Seq(a))
      assert(a.assigned.getOrElse(topic, Seq.empty).toSet == Set(0, 1, 2, 3),
        "survivor absorbs the evicted member's partitions")

      // B rejoins: UNKNOWN_MEMBER_ID → fresh id (graft-11). Pre-fix
      // its stale claim on bOwned0 outranked A's live ownership.
      pumpAll(Seq(a, b))

      // the timeline invariant the chaos walk checks, applied to the
      // recorded histories: a partition never changes owner directly
      // between two generations BOTH members synced — ownership moves
      // only through a round where it is unowned.
      val entries: Seq[(Int, String, Set[Int])] =
        Seq("A" -> a, "B" -> b).flatMap { case (name, m) =>
          m.assignmentHistory.toSeq.map { case (gen, as) =>
            (gen, name, as.getOrElse(topic, Seq.empty).toSet) }
        }
      val byGen = entries.groupBy(_._1).toSeq.sortBy(_._1)
      byGen.foreach { case (gen, es) =>
        val all = es.flatMap(_._3.toSeq)
        assert(all.distinct.size == all.size,
          s"gen $gen: overlapping assignment: $es")
      }
      byGen.sliding(2).foreach {
        case Seq((g1, e1), (g2, e2)) =>
          val own1 = e1.flatMap(e => e._3.toSeq.map(p => p -> e._2)).toMap
          val own2 = e2.flatMap(e => e._3.toSeq.map(p => p -> e._2)).toMap
          val members2 = e2.map(_._2).toSet
          own1.foreach { case (p, m1) =>
            own2.get(p).foreach { m2 =>
              assert(m2 == m1 || !members2.contains(m1),
                s"partition $p moved DIRECTLY $m1 -> $m2 between gens " +
                  s"$g1 -> $g2 (no unowned round)")
            }
          }
        case _ =>
      }

      // loss observability: B's eviction is visible on the timeline —
      // the stale assignment was recorded as LOST, not silently kept
      assert(b.lostHistory.size > lostBefore,
        "the evicted member records its lost partitions")
      assert(b.lostHistory(lostBefore)._2.getOrElse(topic, Seq.empty).toSet
        == bOwned0, "the recorded loss is exactly the stale claim")

      // convergence: the group settles disjoint-exhaustive again
      val aNow = a.assigned.getOrElse(topic, Seq.empty).toSet
      val bNow = b.assigned.getOrElse(topic, Seq.empty).toSet
      assert((aNow | bNow) == Set(0, 1, 2, 3) && (aNow & bNow).isEmpty,
        s"group did not re-converge: A=$aNow B=$bNow")
      a.leave(); a.close()
      b.leave(); b.close()
    } finally srv.stop()
  }

  test("assignor: a double-claim resolves to the HIGHER generation, never lexicographic member order") {
    // graft-11 (stale, generation 3) vs graft-9 (current owner,
    // generation 7) both claim t/2 and t/3 — the current owner must
    // keep them even though "graft-11" < "graft-9" in sort order.
    val out = KafkaGroup.cooperativeStickyAssign(
      Seq(
        ("graft-11", Seq("t"), Map("t" -> Seq(2, 3)), 3),
        ("graft-9", Seq("t"), Map("t" -> Seq(0, 1, 2, 3)), 7)),
      Map("t" -> 4))
    val stale = out("graft-11").getOrElse("t", Seq.empty).toSet
    val owner = out("graft-9").getOrElse("t", Seq.empty).toSet
    assert((stale & Set(2, 3)).isEmpty,
      s"stale claimant stole partitions directly: $stale")
    assert((stale & owner).isEmpty, "overlapping assignment")
    // the owner keeps its quota (2 of 4); the excess is revoked to
    // NOBODY this round (two-phase), landing on the joiner next round
    assert(owner.size == 2 && owner.subsetOf(Set(0, 1, 2, 3)))
    val round2 = KafkaGroup.cooperativeStickyAssign(
      Seq(
        ("graft-11", Seq("t"), out("graft-11"), 8),
        ("graft-9", Seq("t"), out("graft-9"), 8)),
      Map("t" -> 4))
    val all2 = round2.values.flatMap(_.getOrElse("t", Seq.empty)).toSeq
    assert(all2.sorted == Seq(0, 1, 2, 3), s"not exhaustive: $round2")
  }

  test("assignor: equal-generation double-claims still resolve deterministically") {
    val out = KafkaGroup.cooperativeStickyAssign(
      Seq(
        ("m-a", Seq("t"), Map("t" -> Seq(0)), 5),
        ("m-b", Seq("t"), Map("t" -> Seq(0, 1)), 5)),
      Map("t" -> 2))
    val flat = out.values.flatMap(_.getOrElse("t", Seq.empty)).toSeq
    assert(flat.distinct.size == flat.size, s"overlap: $out")
  }
}
