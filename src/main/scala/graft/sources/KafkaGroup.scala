package graft.sources

import KafkaWire.{Conn, Reader, Writer, Errors, GrowingFetcher, Record}

/** Consumer-GROUP membership client — the coordination half of the
  * reference consumer (collect/consumer.py:152-159: kafka-python
  * subscribes with a `group_id` and receives coordinator-ASSIGNED
  * partitions that rebalance when members come and go). r14's
  * `pollOnce(groupId)` covered only standalone offset persistence;
  * this adds the classic group-membership protocol — FindCoordinator
  * (10), JoinGroup (11), Heartbeat (12), LeaveGroup (13), SyncGroup
  * (14), DescribeGroups (15), all v0 — against the public spec
  * (kafka.apache.org/protocol), plus the embedded consumer protocol
  * (Subscription / Assignment v0) and two client-side assignors:
  * RANGE (Kafka's default) and ROUNDROBIN, selected by the
  * coordinator's all-members-support vote.
  *
  * Division of labor, exactly the published design: the broker
  * coordinator brokers MEMBERSHIP only (member ids, generations, the
  * join barrier); partition assignment is computed CLIENT-side by the
  * elected leader from every member's subscription metadata, shipped
  * back opaque through SyncGroup. That keeps assignment strategies a
  * client concern — a new assignor needs no broker change.
  *
  * Safety contract (the spec pins all three):
  *  - members of one generation hold DISJOINT, EXHAUSTIVE partition
  *    sets (range assignor over sorted members × sorted partitions);
  *  - a leave or a missed-session-timeout triggers a rebalance; with
  *    offsets committed through the group, the handover loses and
  *    duplicates nothing;
  *  - OffsetCommit carries (generation, memberId) and a STALE
  *    generation is fenced loudly ([[KafkaWire.CommitFailedException]])
  *    — a zombie can never move the group's offsets.
  */
object KafkaGroup {

  // ── embedded consumer protocol v0 (public schema) ────────────────────
  // Subscription: version int16 | topics [string] | user_data bytes
  // Assignment:   version int16 | [topic string, partitions [int32]] |
  //               user_data bytes

  def encodeSubscription(topics: Seq[String]): Array[Byte] = {
    val w = new Writer().int16(0).int32(topics.length)
    topics.foreach(w.str)
    w.bytes(null)
    w.result()
  }

  def decodeSubscription(bytes: Array[Byte]): Seq[String] =
    decodeSubscriptionFull(bytes)._1

  /** Subscription v1 (the KIP-429 shape): v0's fields plus the
    * member's CURRENTLY-OWNED partitions — the claim the cooperative
    * assignor keeps sticky and revokes incrementally. The broker
    * never parses this (opaque bytes, the published design); only the
    * elected leader does. */
  def encodeSubscriptionV1(topics: Seq[String],
      owned: Map[String, Seq[Int]]): Array[Byte] = {
    val w = new Writer().int16(1).int32(topics.length)
    topics.foreach(w.str)
    w.bytes(null) // user_data
    w.int32(owned.size)
    owned.toSeq.sortBy(_._1).foreach { case (t, ps) =>
      w.str(t).int32(ps.length)
      ps.foreach(w.int32)
    }
    w.result()
  }

  /** Subscription v2 (the published ConsumerProtocolSubscription v2
    * shape): v1's fields plus the GENERATION the owned-partitions
    * claim was synced at. The generation is what makes double-claims
    * adjudicable: a member that was evicted and rejoined with a stale
    * local assignment carries the OLD generation, so the assignor can
    * rank the current owner's claim above it — without it, conflict
    * resolution has only member-id order, which is arbitrary relative
    * to ownership recency (the r17 falsified-walk bug). */
  def encodeSubscriptionV2(topics: Seq[String],
      owned: Map[String, Seq[Int]], generation: Int): Array[Byte] = {
    val w = new Writer().int16(2).int32(topics.length)
    topics.foreach(w.str)
    w.bytes(null) // user_data
    w.int32(owned.size)
    owned.toSeq.sortBy(_._1).foreach { case (t, ps) =>
      w.str(t).int32(ps.length)
      ps.foreach(w.int32)
    }
    w.int32(generation)
    w.result()
  }

  /** Decode any subscription version: (topics, ownedPartitions,
    * claimGeneration) — owned is empty for v0 (an eager member claims
    * nothing); claimGeneration is -1 below v2 (claim recency
    * unknown). */
  def decodeSubscriptionFull(bytes: Array[Byte])
      : (Seq[String], Map[String, Seq[Int]], Int) = {
    val r = new Reader(bytes)
    val v = r.int16()
    require(v >= 0, s"bad subscription version $v")
    val n = r.int32()
    val topics = (0 until n).map(_ => r.str())
    val owned =
      if (v >= 1) {
        r.bytes() // user_data
        val k = r.int32()
        (0 until k).map { _ =>
          val t = r.str()
          val np = r.int32()
          t -> (0 until np).map(_ => r.int32()).toSeq
        }.toMap
      } else Map.empty[String, Seq[Int]]
    val gen = if (v >= 2) r.int32() else -1
    (topics, owned, gen)
  }

  def encodeAssignment(parts: Map[String, Seq[Int]]): Array[Byte] = {
    val w = new Writer().int16(0).int32(parts.size)
    parts.toSeq.sortBy(_._1).foreach { case (topic, ps) =>
      w.str(topic).int32(ps.length)
      ps.foreach(w.int32)
    }
    w.bytes(null)
    w.result()
  }

  def decodeAssignment(bytes: Array[Byte]): Map[String, Seq[Int]] = {
    if (bytes == null || bytes.isEmpty) return Map.empty
    val r = new Reader(bytes)
    val v = r.int16()
    require(v >= 0, s"bad assignment version $v")
    val n = r.int32()
    (0 until n).map { _ =>
      val topic = r.str()
      val k = r.int32()
      topic -> (0 until k).map(_ => r.int32()).toSeq
    }.toMap
  }

  /** Kafka's default RANGE assignor: per topic, sorted members get
    * contiguous runs of sorted partitions, the first
    * (partitions % members) members one extra — co-partitioned topics
    * land on the same member, the property range assignment exists
    * for. Pure function: (memberId → subscribed topics, topic →
    * partition count) → memberId → topic → partitions. */
  def rangeAssign(subscriptions: Seq[(String, Seq[String])],
      partitionsOf: String => Int): Map[String, Map[String, Seq[Int]]] = {
    val out = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.Map[String, Seq[Int]]]
    subscriptions.foreach { case (m, _) =>
      out(m) = scala.collection.mutable.Map.empty
    }
    val topics = subscriptions.flatMap(_._2).distinct.sorted
    topics.foreach { topic =>
      val members = subscriptions.filter(_._2.contains(topic)).map(_._1).sorted
      val nParts = partitionsOf(topic)
      val per = nParts / members.length
      val extra = nParts % members.length
      var next = 0
      members.zipWithIndex.foreach { case (m, i) =>
        val take = per + (if (i < extra) 1 else 0)
        if (take > 0) out(m)(topic) = (next until next + take).toSeq
        next += take
      }
    }
    out.map { case (m, a) => m -> a.toMap }.toMap
  }

  /** Kafka's ROUNDROBIN assignor: every subscribed (topic, partition)
    * sorted lexicographically, dealt to sorted members in circular
    * order, skipping members not subscribed to that topic — balances
    * total load across TOPICS where range balances per topic. */
  def roundRobinAssign(subscriptions: Seq[(String, Seq[String])],
      partitionsOf: String => Int): Map[String, Map[String, Seq[Int]]] = {
    val members = subscriptions.map(_._1).sorted
    val subsOf = subscriptions.toMap
    val tps = subscriptions.flatMap(_._2).distinct.sorted.flatMap { t =>
      (0 until partitionsOf(t)).map(p => (t, p))
    }
    val out = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.Map[String, Vector[Int]]]
    members.foreach(m => out(m) = scala.collection.mutable.Map.empty)
    var i = 0
    tps.foreach { case (t, p) =>
      // advance the circular cursor to the next member subscribed to t
      var hops = 0
      while (!subsOf(members(i % members.length)).contains(t) &&
          hops < members.length) { i += 1; hops += 1 }
      if (subsOf(members(i % members.length)).contains(t)) {
        val m = members(i % members.length)
        out(m)(t) = out(m).getOrElse(t, Vector.empty) :+ p
        i += 1
      }
    }
    out.map { case (m, a) =>
      m -> a.map { case (t, ps) => t -> (ps: Seq[Int]) }.toMap }.toMap
  }

  /** The COOPERATIVE-STICKY assignor (KIP-429): one rebalance round's
    * output given every member's subscription and currently-OWNED
    * partitions. Unlike the eager assignors, ownership is the input:
    *
    *  1. each member KEEPS its valid claims up to its quota (total
    *     partitions spread evenly over sorted members) — unchanged
    *     partitions are never revoked on a member join;
    *  2. a member's over-quota claims are REVOKED: assigned to NOBODY
    *     this round (a partition moves owner only through an unowned
    *     round — two owners must never overlap, and the old owner has
    *     offsets to commit first);
    *  3. partitions with NO live claim (never owned, or their owner
    *     left) are assigned immediately to under-quota members.
    *
    * A member that lost partitions re-joins at once (the client side
    * below), so the next round's claims reflect the revocation and
    * step 3 hands the freed partitions to their new owners —
    * convergence in at most one extra round, with every member's
    * unchanged partitions held throughout.
    *
    * Double-claims resolve to the HIGHEST claim generation (ties to
    * the lexicographically first claimant, for determinism). The
    * generation rank is load-bearing, not cosmetic: a member evicted
    * at the join-barrier deadline rejoins under a FRESH member id
    * still advertising its stale assignment, and the pre-r18
    * lexicographic-only rule let that stale claim outrank the current
    * owner's whenever the fresh id happened to sort first
    * ("graft-11" < "graft-9") — a direct owner-to-owner handover with
    * no unowned round, i.e. the KIP-429 double-ownership hazard the
    * r17 chaos walk falsified. The published protocol carries the
    * generation in ConsumerProtocolSubscription v2 for exactly this
    * adjudication. */
  def cooperativeStickyAssign(
      subscriptions: Seq[(String, Seq[String], Map[String, Seq[Int]], Int)],
      partitionsOf: String => Int): Map[String, Map[String, Seq[Int]]] = {
    val members = subscriptions.map(_._1).sorted
    val subsOf = subscriptions.map(s => s._1 -> s._2.toSet).toMap
    val allTps: Vector[(String, Int)] = subscriptions.flatMap(_._2)
      .distinct.sorted.flatMap(t =>
        (0 until partitionsOf(t)).map(p => (t, p))).toVector
    val universe = allTps.toSet
    // valid claims; conflicts to the highest generation, then the
    // first member id — recency beats sort order
    val claims = scala.collection.mutable.Map
      .empty[(String, Int), (String, Int)]
    subscriptions.sortBy(_._1).foreach { case (mid, topics, owned, gen) =>
      owned.foreach { case (t, ps) =>
        if (topics.contains(t)) ps.foreach { p =>
          if (universe.contains((t, p))) {
            val tp = (t, p)
            claims.get(tp) match {
              case Some((_, g0)) if g0 >= gen => // incumbent claim wins
              case _ => claims(tp) = (mid, gen)
            }
          }
        }
      }
    }
    val base = allTps.size / members.size
    val extra = allTps.size % members.size
    val quota = members.zipWithIndex.map { case (m, i) =>
      m -> (base + (if (i < extra) 1 else 0)) }.toMap
    // 1. every valid claim is kept INITIALLY (stickiness first)
    val kept = scala.collection.mutable.Map.empty[String,
      Vector[(String, Int)]]
    members.foreach(m => kept(m) = Vector.empty)
    claims.toSeq.sortBy(_._1).foreach { case (tp, (m, _)) => kept(m) :+= tp }
    // destination capacity, shared by the revocation pass and the
    // unclaimed fill: a slot a revocation reserves (its partition
    // arrives there NEXT round) must not be double-booked by an
    // unclaimed partition this round, or the revoked one bounces
    val slots = scala.collection.mutable.Map.empty[String, Int]
    members.foreach(o => slots(o) = math.max(0, quota(o) - kept(o).size))
    // 2. the REVOCATION pass — applies to CLAIMS ONLY (a partition
    //    nobody owned yet has nothing to revoke): an over-quota
    //    member's excess is revoked (assigned to nobody this round)
    //    only while destination capacity remains — a revocation with
    //    nowhere to go would oscillate forever (revoke → unclaimed →
    //    handed straight back → revoke) through rejoinNeeded rounds.
    //    Highest-sorted claims go first, so the kept prefix is
    //    deterministic.
    val revoked = scala.collection.mutable.Set.empty[(String, Int)]
    members.foreach { m =>
      var mine = kept(m)
      var candidates = mine.sorted.reverse
      while (mine.size > quota(m) && candidates.nonEmpty) {
        val tp = candidates.head
        candidates = candidates.tail
        members.find(o => o != m && subsOf(o).contains(tp._1) &&
            slots(o) > 0).foreach { dest =>
          mine = mine.filterNot(_ == tp)
          revoked += tp
          slots(dest) -= 1 // reserve the landing slot for next round
        }
      }
      kept(m) = mine
    }
    // 3. NEVER-OWNED partitions (no valid claim, not just revoked) are
    //    assigned NOW — members with reserved capacity first, else the
    //    least-loaded subscriber even over quota: a partition whose
    //    only subscribers are over quota must STILL be owned (a global
    //    quota cannot starve a constrained topic — silent orphaning
    //    would mean records nobody ever consumes)
    allTps.filterNot(tp => claims.contains(tp) || revoked.contains(tp))
      .foreach { tp =>
        val takers = members.filter(m => subsOf(m).contains(tp._1))
        takers.sortBy(m => (slots(m) <= 0, kept(m).size, m))
          .headOption.foreach { m =>
            kept(m) :+= tp
            slots(m) = slots(m) - 1
          }
      }
    kept.map { case (m, tps) =>
      m -> tps.groupBy(_._1).map { case (t, ps) =>
        t -> (ps.map(_._2).sorted: Seq[Int]) }
    }.toMap
  }

  /** Generation-less overload (claims of unknown recency, ranked
    * equal): the model-check specs and pre-v2 subscriptions. */
  def cooperativeStickyAssign(
      subscriptions: Seq[(String, Seq[String], Map[String, Seq[Int]])],
      partitionsOf: String => Int)(implicit
      d: DummyImplicit): Map[String, Map[String, Seq[Int]]] =
    cooperativeStickyAssign(
      subscriptions.map { case (m, ts, o) => (m, ts, o, -1) }, partitionsOf)

  /** The leader-side assignor for a coordinator-SELECTED protocol.
    * ("cooperative-sticky" takes the owned-partitions overload —
    * [[cooperativeStickyAssign]] — dispatched by the caller that
    * holds the full subscriptions.) */
  def assignFor(protocol: String, subscriptions: Seq[(String, Seq[String])],
      partitionsOf: String => Int): Map[String, Map[String, Seq[Int]]] =
    protocol match {
      case "range" => rangeAssign(subscriptions, partitionsOf)
      case "roundrobin" => roundRobinAssign(subscriptions, partitionsOf)
      case "cooperative-sticky" => cooperativeStickyAssign(
        subscriptions.map { case (m, ts) =>
          (m, ts, Map.empty[String, Seq[Int]], -1) },
        partitionsOf)
      case other => sys.error(s"unknown assignment protocol '$other'")
    }

  /** Parsed JoinGroup response. `members` is non-empty only for the
    * leader (memberId == leaderId): everyone's subscription bytes. */
  final case class JoinResult(error: Int, generation: Int,
      protocol: String, leaderId: String, memberId: String,
      members: Seq[(String, Array[Byte])])

  // ── raw protocol calls ───────────────────────────────────────────────

  /** FindCoordinator v0 (api 10): the broker hosting `groupId`'s
    * coordinator as (host, port). */
  def findCoordinator(c: Conn, groupId: String): (String, Int) = {
    val r = c.call(10, 0, new Writer().str(groupId).result())
    val err = r.int16(); require(err == 0, s"findCoordinator error $err")
    r.int32() // node id
    (r.str(), r.int32())
  }

  /** JoinGroup v0/v1 (api 11). Pass `memberId` = "" on first contact;
    * the coordinator assigns one. Advertises `assignors` in preference
    * order (the coordinator selects one ALL members support, by member
    * vote). BLOCKS until the join barrier completes (all members
    * re-joined or the rebalance deadline passed).
    *
    * `rebalanceTimeoutMs` >= 0 sends JoinGroup v1, which carries the
    * rebalance deadline SEPARATELY from the session timeout — v0
    * couples them, so a consumer that needs a long session (slow poll
    * loops between heartbeats) also inflicts long rebalance stalls
    * when a member vanishes un-gracefully; v1 lets the group cut
    * non-rejoining members at a short deadline while live members
    * keep their long sessions. -1 (default) keeps the v0 encoding. */
  def joinGroup(c: Conn, groupId: String, memberId: String,
      topics: Seq[String], sessionTimeoutMs: Int,
      assignors: Seq[String] = Seq("range"),
      rebalanceTimeoutMs: Int = -1,
      owned: Map[String, Seq[Int]] = Map.empty,
      ownedGeneration: Int = -1): JoinResult = {
    val v1 = rebalanceTimeoutMs >= 0
    val w = new Writer()
      .str(groupId).int32(sessionTimeoutMs)
    if (v1) w.int32(rebalanceTimeoutMs)
    w.str(memberId)
      .str("consumer")
      .int32(assignors.length)
    // a cooperative assignor's subscription carries the member's
    // owned-partitions claim AND the generation it was synced at
    // (Subscription v2, KIP-429) — the recency rank that lets the
    // assignor reject a stale claim; eager assignors keep the v0 bytes
    assignors.foreach(a => w.str(a).bytes(
      if (a == "cooperative-sticky")
        encodeSubscriptionV2(topics, owned, ownedGeneration)
      else encodeSubscription(topics)))
    val body = w.result()
    val r = c.call(11, if (v1) 1 else 0, body)
    val err = r.int16()
    val gen = r.int32()
    val protocol = r.str()
    val leader = r.str()
    val me = r.str()
    val n = r.int32()
    val members = (0 until n).map(_ => (r.str(), r.bytes()))
    JoinResult(err, gen, protocol, leader, me, members)
  }

  /** SyncGroup v0 (api 14): the leader ships everyone's assignment,
    * followers send none and PARK until the leader's arrives. Returns
    * (error, my assignment bytes). */
  def syncGroup(c: Conn, groupId: String, generation: Int,
      memberId: String,
      assignments: Map[String, Array[Byte]]): (Int, Array[Byte]) = {
    val w = new Writer().str(groupId).int32(generation).str(memberId)
      .int32(assignments.size)
    assignments.toSeq.sortBy(_._1).foreach { case (m, a) =>
      w.str(m).bytes(a)
    }
    val r = c.call(14, 0, w.result())
    (r.int16(), r.bytes())
  }

  /** Heartbeat v0 (api 12): 0 = still a current member; 22/25/27 = a
    * rebalance superseded this member — re-join. */
  def heartbeat(c: Conn, groupId: String, generation: Int,
      memberId: String): Int = {
    val body = new Writer().str(groupId).int32(generation).str(memberId)
      .result()
    c.call(12, 0, body).int16()
  }

  /** LeaveGroup v0 (api 13): graceful departure — triggers an
    * immediate rebalance instead of waiting out the session timeout. */
  def leaveGroup(c: Conn, groupId: String, memberId: String): Unit = {
    val err = c.call(13, 0,
      new Writer().str(groupId).str(memberId).result()).int16()
    require(err == 0, s"leaveGroup error $err")
  }

  /** ListGroups v0 (api 16): (groupId, protocolType) for every group
    * the coordinator knows — "" protocolType marks an Empty group
    * (offsets retained, no live members). */
  def listGroups(c: Conn): Seq[(String, String)] = {
    val r = c.call(16, 0, Array.emptyByteArray)
    val err = r.int16(); require(err == 0, s"listGroups error $err")
    val n = r.int32()
    (0 until n).map(_ => (r.str(), r.str()))
  }

  /** One group's coordinator-side description
    * (`kafka-consumer-groups.sh --describe`): state, protocol, and
    * each member's subscription topics + decoded assignment. */
  final case class GroupDescription(state: String, protocolType: String,
      protocol: String,
      members: Seq[(String, Seq[String], Map[String, Seq[Int]])])

  /** DescribeGroups v0 (api 15) for one group. An unknown group comes
    * back as state "Dead" with no members — the protocol convention,
    * not an error. */
  def describeGroup(c: Conn, groupId: String): GroupDescription = {
    val r = c.call(15, 0, new Writer().int32(1).str(groupId).result())
    val n = r.int32(); require(n == 1, s"expected 1 group, got $n")
    val err = r.int16(); require(err == 0, s"describeGroups error $err")
    r.str() // group id
    val state = r.str()
    val protocolType = r.str()
    val protocol = r.str()
    val nMembers = r.int32()
    val members = (0 until nMembers).map { _ =>
      val mid = r.str()
      r.str(); r.str() // client id, client host
      val md = r.bytes()
      val asg = r.bytes()
      (mid,
        if (md == null || md.isEmpty) Seq.empty[String]
        else decodeSubscription(md).toSeq,
        decodeAssignment(asg))
    }
    GroupDescription(state, protocolType, protocol, members)
  }

  /** Drain ONE partition from `start` to the watermark through a
    * leader-routed fetcher: returns (records, end position). The end
    * position is the WATERMARK when the tail was markers/aborted-only
    * (LSO under read_committed — the position a group may commit), and
    * `onDataLoss` decides what a below-log-start `start` means: "fail"
    * throws [[KafkaWire.OffsetOutOfRangeException]] loudly, "earliest"
    * resets to the surviving log head (kafka-python's
    * auto_offset_reset, the reference consumer's setting). ONE copy,
    * shared by the member drain ([[GroupMember.pollAssigned]]) and the
    * distributed [[pollGroup]] task, so the LSO-commit and data-loss
    * semantics cannot diverge between them. */
  private[sources] def drainPartition(dataConn: Conn, topic: String,
      p: Int, start: Long, isolation: Int,
      onDataLoss: String, leaderEpoch: Int = -1): (Seq[Record], Long) = {
    val fetcher = new GrowingFetcher(dataConn, topic, p, isolation,
      currentLeaderEpoch = leaderEpoch)
    val out = scala.collection.mutable.ArrayBuffer.empty[Record]
    var off = start
    var done = false
    while (!done) {
      val (kept, wm) =
        try fetcher.fetchAt(off)
        catch {
          case _: KafkaWire.OffsetOutOfRangeException
              if onDataLoss == "earliest" =>
            // the gap [off, logStart) is GONE; the reset consumer
            // skips it by design — resume at the surviving head. The
            // reset LOOPS (kafka-python's auto_offset_reset does):
            // retention/DeleteRecords can advance the log start again
            // between the lookup and the retry, and a one-shot reset
            // would leak the exception the caller asked to absorb.
            // Bounded — a log start that outruns 8 consecutive
            // re-resolutions is a broken test, not a wait.
            var reset: (Seq[Record], Long) = null
            var attempts = 0
            while (reset == null) {
              attempts += 1
              off = KafkaWire.listOffset(dataConn, topic, p, -2L)
              try reset = fetcher.fetchAt(off)
              catch {
                case e: KafkaWire.OffsetOutOfRangeException
                    if attempts < 8 => // re-resolve earliest and retry
                case e: KafkaWire.OffsetOutOfRangeException => throw e
              }
            }
            reset
          case e: KafkaWire.OffsetOutOfRangeException =>
            throw e // loud: the caller's checkpointed range is gone
        }
      if (kept.isEmpty) {
        // caught up — the fetcher's internal cursor reached the
        // watermark (markers and aborted batches consume offset slots
        // without yielding records), so the consumable position is the
        // watermark: LSO under read_committed, never past it, never
        // before skipped slots
        off = math.max(off, wm)
        done = true
      } else {
        out ++= kept
        off = kept.last.offset + 1
        done = off >= wm
      }
    }
    (out.toSeq, off)
  }

  /** [[drainPartition]] behind leader ROUTING with bounded re-resolve:
    * opens an epoch-pinned leader connection, drains, and on
    * NOT_LEADER / FENCED_LEADER_EPOCH / UNKNOWN_LEADER_EPOCH (a
    * mid-drain re-election, or metadata briefly ahead of a leader
    * that hasn't processed the controller push — a condition that
    * heals in milliseconds) re-resolves and retries from `start`,
    * exactly the stock consumer's in-place retry. Records are only
    * returned from the attempt that completes, so a retry re-reads
    * rather than duplicates. Bounded: a flapping cluster fails
    * loudly. */
  private[sources] def drainWithReroute(host: String, port: Int,
      topic: String, p: Int, start: Long, isolation: Int,
      onDataLoss: String): (Seq[Record], Long) = {
    var attempts = 0
    while (true) {
      var route: KafkaWire.LeaderRoute = null
      try {
        // resolution INSIDE the retry: the most common re-election
        // trigger is the leader DYING, which surfaces not as a tidy
        // NOT_LEADER answer but as a dead socket mid-drain, a refused
        // reconnect, or a metadata view whose leader id has no
        // address yet (the offline window before the next push/
        // election) — all of it reroutes, bounded
        route = KafkaWire.leaderRoute(host, port, topic, p)
        return drainPartition(route.conn, topic, p, start, isolation,
          onDataLoss, leaderEpoch = route.epoch)
      } catch {
        case e @ (_: KafkaWire.NotLeaderException |
            _: KafkaWire.FencedLeaderEpochException |
            _: KafkaWire.UnknownLeaderEpochException |
            _: java.net.SocketException | _: java.io.EOFException |
            _: java.net.ConnectException |
            _: java.net.SocketTimeoutException |
            _: NoSuchElementException) =>
          attempts += 1
          if (attempts > 8) throw e
          Thread.sleep(25)
      } finally if (route != null) route.conn.close()
    }
    sys.error("unreachable")
  }

  /** One consumer-group member: join/sync/heartbeat/commit/leave over
    * a coordinator connection — the kafka-python consumer's lifecycle
    * (collect/consumer.py), minus the poll loop the caller owns.
    *
    * Usage: `ensureActive()` returns the member's current partition
    * assignment (joining or re-joining as needed); `heartbeat()`
    * false means a rebalance superseded it — call `ensureActive()`
    * again. `commit` carries the member's (generation, id) so a
    * zombie's commit is fenced by the coordinator, never applied. */
  final class GroupMember(host: String, port: Int, groupId: String,
      topics: Seq[String], sessionTimeoutMs: Int = 10000,
      assignors: Seq[String] = Seq("range"),
      rebalanceTimeoutMs: Int = -1) {
    private val bootstrap = new Conn(host, port)
    /** The coordinator's address — heartbeats open their own channel
      * to it (see startHeartbeats). */
    private val coordAddr: (String, Int) = findCoordinator(bootstrap, groupId)
    private val coord: Conn = {
      val (h, p) = coordAddr
      // the double is one broker, but honor the redirect — against a
      // real cluster the coordinator is usually NOT the bootstrap node
      if (h == host && p == port) bootstrap else new Conn(h, p)
    }
    @volatile var memberId: String = ""
    @volatile var generation: Int = -1
    @volatile private var assignment: Map[String, Seq[Int]] = Map.empty

    /** The partitions this member currently owns (last sync). */
    def assigned: Map[String, Seq[Int]] = assignment

    /** Per-generation assignment history: (generation, assignment)
      * appended on every successful sync — the observable that lets
      * specs pin the cooperative contract (unchanged partitions never
      * revoked; a moving partition unowned for exactly one round). */
    val assignmentHistory = scala.collection.mutable
      .ArrayBuffer.empty[(Int, Map[String, Seq[Int]])]

    /** Assignments this member LOST (UNKNOWN_MEMBER_ID — evicted at a
      * barrier deadline or session expiry), as (last synced
      * generation, the assignment held at the loss): the timeline
      * observability twin of [[assignmentHistory]], so a spec can
      * account for every partition that left this member WITHOUT a
      * synced revocation round. */
    val lostHistory = scala.collection.mutable
      .ArrayBuffer.empty[(Int, Map[String, Seq[Int]])]

    /** The generation of the last successful sync — the recency rank
      * this member's owned-partitions claim carries in its join
      * subscription (Subscription v2). -1 until the first sync. */
    @volatile private var lastSyncedGen: Int = -1

    /** UNKNOWN_MEMBER_ID handling, the stock client's
      * onPartitionsLost path: the coordinator forgot this member, so
      * its partitions were REASSIGNED without a revocation round —
      * the local assignment is a stale claim, not an ownership. Keep
      * advertising it and it can steal partitions straight back from
      * their new owner (the r17 falsified cooperative walk); clear it
      * and the next join claims nothing, entering fresh. */
    private def partitionsLost(): Unit = {
      if (assignment.nonEmpty) {
        lostHistory += ((lastSyncedGen, assignment))
        assignment = Map.empty
      }
      lastSyncedGen = -1
      memberId = ""
    }

    /** Set when a cooperative sync REVOKED partitions from this
      * member: the owner's poll loop must call [[ensureActive]] again
      * promptly (after committing the revoked partitions' offsets) so
      * the next round can assign them to their new owners — the
      * KIP-429 two-phase handover, surfaced to the caller exactly the
      * way onPartitionsRevoked surfaces it in the stock client
      * (ensureActive must NOT park internally: the next round's
      * barrier needs every OTHER member to re-join too, and they
      * discover the round through their own heartbeat loops). */
    @volatile var rejoinNeeded: Boolean = false

    /** Join (or re-join) until the group is stable; returns this
      * member's assignment. Retries bounded — a group that cannot
      * stabilize is a bug, not a wait.
      *
      * COOPERATIVE twist (KIP-429, assignor "cooperative-sticky"):
      * the join carries this member's owned-partitions claim, and a
      * sync that REVOKES some of them (the assignor moving partitions
      * to another member) raises [[rejoinNeeded]] — the owner calls
      * ensureActive again and the freed partitions are assigned in
      * that next round. Members that only KEPT or GAINED partitions
      * see no revocation, so a joining member reassigns only the
      * moved partitions, never the world. */
    def ensureActive(): Map[String, Seq[Int]] = {
      var attempts = 0
      while (attempts < 16) {
        attempts += 1
        val j = joinGroup(coord, groupId, memberId, topics,
          sessionTimeoutMs, assignors, rebalanceTimeoutMs,
          owned = assignment, ownedGeneration = lastSyncedGen)
        j.error match {
          case 0 =>
            memberId = j.memberId
            generation = j.generation
            val toSync =
              if (j.memberId == j.leaderId) {
                // leader: decode every member's subscription, run the
                // coordinator-SELECTED assignor, ship each member's slice
                val subsFull = j.members.map { case (id, md) =>
                  val (ts, owned, ownedGen) = decodeSubscriptionFull(md)
                  (id, ts.toSeq, owned, ownedGen)
                }
                val counts = subsFull.flatMap(_._2).distinct
                  .map(t => t -> KafkaWire.partitionCount(coord, t)).toMap
                val assigned =
                  if (j.protocol == "cooperative-sticky")
                    cooperativeStickyAssign(subsFull, counts)
                  else assignFor(j.protocol,
                    subsFull.map(s => (s._1, s._2)), counts)
                assigned.map { case (id, a) => id -> encodeAssignment(a) }
              } else Map.empty[String, Array[Byte]]
            val (serr, mine) =
              syncGroup(coord, groupId, j.generation, j.memberId, toSync)
            serr match {
              case 0 =>
                val prev = assignment
                assignment = decodeAssignment(mine)
                assignmentHistory += ((generation, assignment))
                lastSyncedGen = generation
                // cooperative: partitions taken FROM this member mean
                // a follow-up round is owed — flag it for the owner
                rejoinNeeded = j.protocol == "cooperative-sticky" &&
                  prev.exists { case (t, ps) =>
                    val now = assignment.getOrElse(t, Seq.empty).toSet
                    ps.exists(!now.contains(_))
                  }
                rebalanceDue = false // synced: heartbeats may restart
                if (beatThread != null && !beatThread.isAlive)
                  beatThread = null
                return assignment
              case Errors.RebalanceInProgress => // next round
              case Errors.UnknownMemberId => partitionsLost() // evicted
              case Errors.IllegalGeneration => // re-join at current gen
              case e => sys.error(s"syncGroup error $e")
            }
          case Errors.UnknownMemberId => partitionsLost() // evicted: fresh id, no stale claim
          case Errors.RebalanceInProgress => // barrier raced: retry
          case Errors.InconsistentGroupProtocol => sys.error(
            s"group '$groupId' rejected this member: no common assignment " +
              s"protocol (offered ${assignors.mkString(",")})")
          case e => sys.error(s"joinGroup error $e")
        }
      }
      sys.error(s"group '$groupId' did not stabilize in $attempts rounds")
    }

    /** True = still a current member; false = superseded (rebalance in
      * progress, stale generation, or evicted) — re-join via
      * [[ensureActive]]. */
    def heartbeatOnce(): Boolean =
      heartbeat(coord, groupId, generation, memberId) match {
        case 0 => true
        case Errors.RebalanceInProgress | Errors.IllegalGeneration => false
        case Errors.UnknownMemberId => partitionsLost(); false
        case e => sys.error(s"heartbeat error $e")
      }

    /** Commit under THIS member's (generation, id) — fenced loudly
      * (CommitFailedException) when a rebalance superseded it. */
    def commit(topic: String, offsets: Map[Int, Long]): Unit =
      KafkaWire.commitOffsets(coord, groupId, topic, offsets,
        generation, memberId)

    /** The group's committed position per partition (None = never
      * committed — fall to the reset policy). */
    def committed(topic: String, partitions: Seq[Int]): Map[Int, Option[Long]] =
      KafkaWire.fetchOffsets(coord, groupId, topic, partitions)

    /** Drain this member's ASSIGNED partitions of `topic` from the
      * group's committed position (or `resetTo`) to the current end,
      * then commit — one poll of the reference consumer's
      * consume-then-commit loop. Returns (partition, record).
      *
      * `isolation` = [[KafkaWire.Isolation.ReadCommitted]] applies the
      * full transactional read contract to the GROUP path too (r15
      * only wired it through the DSv2 source): the drain stops at the
      * last stable offset, aborted producers' records are filtered by
      * the fetch response's aborted-transactions index, and the
      * committed position is LSO-bounded — a group consumer of a
      * transactional topic must never see (or commit past) open or
      * aborted data.
      *
      * `onDataLoss` decides what happens when the committed position
      * is BELOW the log start (retention deleted data this group never
      * consumed): "fail" (default) throws
      * [[KafkaWire.OffsetOutOfRangeException]] loudly — the DSv2
      * source's failOnDataLoss=true contract; "earliest" resets the
      * drain to the current log start and continues — kafka-python's
      * auto_offset_reset="earliest" (the reference consumer's setting,
      * collect/consumer.py), which silently accepts the gap. */
    def pollAssigned(topic: String, resetTo: Long = 0L,
        isolation: Int = KafkaWire.Isolation.ReadUncommitted,
        onDataLoss: String = "fail"): Seq[(Int, Record)] = {
      require(onDataLoss == "fail" || onDataLoss == "earliest",
        s"onDataLoss must be fail or earliest, got '$onDataLoss'")
      val parts = assignment.getOrElse(topic, Seq.empty)
      if (parts.isEmpty) return Seq.empty
      val starts = committed(topic, parts)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Record)]
      val ends = scala.collection.mutable.Map.empty[Int, Long]
      parts.foreach { p =>
        // the DATA path goes to the partition's leader, epoch-PINNED
        // and reroute-recovered (KIP-320); the shared coordinator
        // connection keeps serving the offset traffic
        val (recs, end) = drainWithReroute(host, port, topic, p,
          starts.getOrElse(p, None).getOrElse(resetTo), isolation,
          onDataLoss)
        recs.foreach(r => out += ((p, r)))
        ends(p) = end
      }
      commit(topic, ends.toMap) // fenced => CommitFailedException, no state moved
      out.toSeq
    }

    def leave(): Unit = leaveGroup(coord, groupId, memberId)

    // ── background heartbeat (the kafka-python daemon thread) ────────
    // The loop runs over its OWN coordinator connection — sharing the
    // poll connection would either interleave protocol bytes or, under
    // a lock, let a long fetch starve the heartbeat past the session
    // timeout (the exact eviction the loop exists to prevent; the
    // stock client separates the coordinator channel for this reason).
    // When the coordinator signals supersession the loop STOPS and
    // raises [[rebalanceDue]] — the owner's next ensureActive()
    // re-joins and may restart the loop.
    @volatile private var beatThread: Thread = null
    @volatile private var beatStop = false
    /** Set when the background loop saw a rebalance signal; cleared by
      * the owner's next [[ensureActive]]. */
    @volatile var rebalanceDue: Boolean = false

    /** Keep this member alive from a daemon thread — without it, a
      * poll loop slower than the session timeout gets evicted (the
      * exact reason the stock client heartbeats in the background).
      * Interval defaults to a third of the session timeout, the stock
      * heartbeat.interval.ms guidance. */
    def startHeartbeats(intervalMs: Int = 0): Unit = {
      require(beatThread == null, "heartbeat loop already running")
      val interval = if (intervalMs > 0) intervalMs else sessionTimeoutMs / 3
      beatStop = false
      val t = new Thread(() => {
        val c = new Conn(coordAddr._1, coordAddr._2)
        try {
          while (!beatStop && !rebalanceDue) {
            val alive =
              try heartbeat(c, groupId, generation, memberId) == 0
              catch { case _: Exception => false } // fault: owner re-joins
            if (!alive) rebalanceDue = true
            else Thread.sleep(interval.toLong)
          }
        } catch { case _: InterruptedException => /* stopHeartbeats */ }
        finally c.close()
      }, s"graft-heartbeat-$groupId")
      t.setDaemon(true)
      beatThread = t
      t.start()
    }

    def stopHeartbeats(): Unit = {
      beatStop = true
      Option(beatThread).foreach { t => t.interrupt(); t.join(2000) }
      beatThread = null
    }

    def close(): Unit = {
      stopHeartbeats()
      if (coord ne bootstrap) { try coord.close() catch { case _: Exception => } }
      try bootstrap.close() catch { case _: Exception => }
    }
  }

  /** One COORDINATED poll as a Spark job — the reference consumer's
    * full lifecycle (collect/consumer.py: join the group, get assigned
    * partitions, drain, commit, leave) with the drain distributed:
    * membership lives on the DRIVER (one logical consumer), the
    * assigned partitions fan out to executor fetch tasks, and each
    * task commits its partition under the member's (generation, id) —
    * so if a rebalance supersedes this consumer mid-poll, the commit
    * is FENCED loudly instead of silently clobbering the new owner's
    * position (the zombie-poll guarantee r14's standalone
    * pollOnce(groupId) could not give). Complements — not replaces —
    * the checkpointed DSv2 source: streaming queries keep exactly-once
    * through their checkpoint; this is the simple-consumer parity
    * surface. */
  def pollGroup(spark: org.apache.spark.sql.SparkSession, host: String,
      port: Int, topic: String, groupId: String,
      resetTo: Long = 0L,
      isolationLevel: String = "read_uncommitted",
      onDataLoss: String = "fail"): org.apache.spark.sql.DataFrame = {
    // parsed HERE so a typo fails on the driver, before any job runs
    val isolation = KafkaWire.Isolation.forName(isolationLevel)
    require(onDataLoss == "fail" || onDataLoss == "earliest",
      s"onDataLoss must be fail or earliest, got '$onDataLoss'")
    val member = new GroupMember(host, port, groupId, Seq(topic))
    try {
      val assigned = member.ensureActive().getOrElse(topic, Seq.empty)
      member.startHeartbeats() // executors may fetch longer than the session timeout
      val gen = member.generation
      val mid = member.memberId
      val rows = spark.sparkContext
        .parallelize(assigned, math.max(1, assigned.length))
        .flatMap { p =>
          val u8 = java.nio.charset.StandardCharsets.UTF_8
          // offset traffic rides a bootstrap connection (any broker
          // serves it; the coordinator owns the registry); the DATA
          // path is leader-routed, epoch-pinned, reroute-recovered
          val c = new Conn(host, port)
          try {
            // the shared drain: read_committed stops at the LSO and
            // filters aborted producers' records; onDataLoss decides
            // the retention-deleted-range behavior — ONE copy with the
            // member path (drainPartition), so the semantics cannot
            // diverge between the two group surfaces
            val (recs, end) = drainWithReroute(host, port, topic, p,
              KafkaWire.fetchOffsets(c, groupId, topic, Seq(p))
                .getOrElse(p, None).getOrElse(resetTo),
              isolation, onDataLoss)
            // the member's identity rides to the executor: a stale
            // generation here throws CommitFailedException and FAILS
            // the task — a superseded poll must never move offsets
            KafkaWire.commitOffsets(c, groupId, topic, Map(p -> end), gen, mid)
            recs.map { r =>
              (p, r.offset, r.timestamp,
                if (r.key == null) null else new String(r.key, u8),
                if (r.value == null) null else new String(r.value, u8))
            }
          } finally c.close()
        }
      val df = spark.createDataFrame(rows)
        .toDF("partition", "offset", "timestamp", "key", "value")
      // localCheckpoint, NOT cache: the fetch lineage is CONSUMING —
      // offsets advance as tasks commit, so a cache-evicted re-run
      // would silently replay against moved offsets and return empty;
      // checkpointing truncates the lineage (a lost block is a loud
      // error, never a recompute), and it also materializes before
      // leave() tears the membership down
      df.localCheckpoint(true)
    } finally {
      try member.leave() catch { case _: Exception => }
      member.close()
    }
  }
}
