package graft.sources.replay

import org.scalatest.funsuite.AnyFunSuite

/** Subscription-based group membership over real sockets against the
  * broker double's GroupCoordinator: join/sync give DISJOINT covering
  * assignments, heartbeat is the rebalance signal, leave and session
  * expiry rebalance the remainder, and OffsetCommit is generation-fenced
  * (VERDICT r11 missing-2 — the one librdkafka seam the double had not
  * mirrored; the reference itself uses manual assign,
  * src/kafka/execution.rs:79). */
class KafkaRebalanceSpec extends graft.SparkSpec {

  private def withBroker[A](f: (KafkaLogServer, String) => A): A = {
    val dir = ReplayLog.ensureLog(spark, sf) // 3 file-backed partitions
    val broker = new KafkaLogServer(dir, "events")
    try f(broker, broker.clientPath) finally broker.close()
  }

  test("single member becomes leader and owns every partition") {
    withBroker { (_, path) =>
      val c = new KafkaLogClient(path)
      val m = new KafkaGroupMembership(c, "g-solo", "events")
      val parts = m.join()
      assert(m.isLeader)
      assert(parts === c.listPartitions())
      assert(m.generation === 1)
      assert(m.heartbeat(), "stable group heartbeat must be clean")
      m.leave()
    }
  }

  test("second joiner triggers a rebalance; assignments are disjoint and cover") {
    withBroker { (_, path) =>
      val c1 = new KafkaLogClient(path)
      val c2 = new KafkaLogClient(path)
      val m1 = new KafkaGroupMembership(c1, "g-pair", "events")
      val p1 = m1.join()
      assert(p1.size === 3)
      // a second member joins on another thread (its JoinGroup parks in
      // the coordinator's window); m1 learns via heartbeat and rejoins
      val m2 = new KafkaGroupMembership(c2, "g-pair", "events")
      val p2ref = new java.util.concurrent.atomic.AtomicReference[Seq[Int]]
      val t = new Thread(() => p2ref.set(m2.join()))
      t.start()
      val deadline = System.currentTimeMillis() + 5000
      while (m1.heartbeat() && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val p1b = m1.join()
      t.join(5000)
      val p2 = p2ref.get()
      assert(p2 != null, "second member's join must settle")
      assert(m1.generation === m2.generation)
      assert((p1b ++ p2).sorted === Seq(0, 1, 2), s"cover: $p1b ++ $p2")
      assert(p1b.intersect(p2).isEmpty, s"disjoint: $p1b vs $p2")
      assert(p1b.nonEmpty && p2.nonEmpty, "range assignment spreads 3 over 2")
      m1.leave(); m2.leave()
    }
  }

  test("leave rebalances the remainder back to full ownership") {
    withBroker { (_, path) =>
      val c1 = new KafkaLogClient(path)
      val c2 = new KafkaLogClient(path)
      val m1 = new KafkaGroupMembership(c1, "g-leave", "events")
      val m2 = new KafkaGroupMembership(c2, "g-leave", "events")
      val t = new Thread(() => m1.join())
      t.start()
      m2.join(); t.join(5000)
      val genBefore = m2.generation
      m1.leave()
      assert(!m2.heartbeat(), "leave must signal the survivor to rejoin")
      val p2 = m2.join()
      assert(p2 === Seq(0, 1, 2))
      assert(m2.generation > genBefore)
      m2.leave()
    }
  }

  test("a member that stops heartbeating is session-reaped; survivor rebalances") {
    withBroker { (_, path) =>
      val c1 = new KafkaLogClient(path)
      val c2 = new KafkaLogClient(path)
      // short session for the flaky member (but comfortably longer than
      // the coordinator's 300 ms join window — a session shorter than the
      // dance itself can never stabilize, especially on a loaded box),
      // long for the survivor
      val flaky = new KafkaGroupMembership(c1, "g-reap", "events",
        sessionTimeoutMs = 1200)
      val steady = new KafkaGroupMembership(c2, "g-reap", "events",
        sessionTimeoutMs = 30000)
      val t = new Thread(() => flaky.join())
      t.start()
      steady.join(); t.join(5000)
      // flaky goes silent; steady keeps the session alive until the
      // coordinator reaps flaky and opens a rebalance
      val deadline = System.currentTimeMillis() + 5000
      var rebalanced = false
      while (!rebalanced && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        rebalanced = !steady.heartbeat()
      }
      assert(rebalanced, "session expiry must open a rebalance")
      assert(steady.join() === Seq(0, 1, 2))
      steady.leave()
    }
  }

  test("OffsetCommit is generation-fenced: a fenced-out member cannot commit") {
    withBroker { (_, path) =>
      val c1 = new KafkaLogClient(path)
      val m1 = new KafkaGroupMembership(c1, "g-fence", "events")
      m1.join()
      m1.commitOffsets(Map(0 -> 5L))
      assert(c1.committedOffsets("g-fence", Seq(0)) === Map(0 -> 5L))
      // a second member joins; generation moves on while m1 stays stale
      val c2 = new KafkaLogClient(path)
      val m2 = new KafkaGroupMembership(c2, "g-fence", "events")
      val t = new Thread(() => m2.join())
      t.start()
      val deadline = System.currentTimeMillis() + 5000
      while (m1.heartbeat() && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      m1.join(); t.join(5000)
      // both at gen 2 now; forge a GHOST member's commit over the raw wire
      // (generation 99, member id never registered)
      val bo = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(bo)
      KafkaWire.writeString(o, "g-fence")
      o.writeInt(99); KafkaWire.writeString(o, "graft-member-ghost")
      o.writeLong(-1L)
      o.writeInt(1); KafkaWire.writeString(o, "events")
      o.writeInt(1); o.writeInt(0); o.writeLong(999L); KafkaWire.writeString(o, "")
      val in = c1.oneShot(c1.coordinator("g-fence"),
        KafkaWire.ApiOffsetCommit, 2, bo.toByteArray)
      in.readInt(); KafkaWire.readString(in); in.readInt() // topics/name/nparts
      in.readInt()  // partition
      assert(in.readShort() === 25, "ghost commit must answer UNKNOWN_MEMBER_ID")
      // the fenced commit must NOT have landed
      assert(c1.committedOffsets("g-fence", Seq(0)) === Map(0 -> 5L))
      // and the live member's generation-carrying commit does land
      m1.commitOffsets(Map(0 -> 7L))
      assert(c1.committedOffsets("g-fence", Seq(0)) === Map(0 -> 7L))
    }
  }

  test("DescribeGroups/ListGroups: live roster, Empty after leave, Dead ghosts") {
    withBroker { (broker, path) =>
      val c1 = new KafkaLogClient(path)
      val c2 = new KafkaLogClient(path)
      val m1 = new KafkaGroupMembership(c1, "g-desc", "events")
      val m2 = new KafkaGroupMembership(c2, "g-desc", "events")
      val t = new Thread(() => m1.join())
      t.start()
      m2.join(); t.join(5000)
      // both members visible, group Stable, members carry the real ids
      val (state, members) = broker.groupCoordinator.describe("g-desc")
      assert(state === "Stable")
      assert(members.toSet === Set(m1.memberId, m2.memberId),
        s"roster must carry the live member ids: $members")
      // an unknown group reads Dead
      assert(broker.groupCoordinator.describe("g-ghost")._1 === "Dead")
      m1.leave(); m2.leave()
      val (afterState, afterMembers) =
        broker.groupCoordinator.describe("g-desc")
      assert(afterState === "Empty" && afterMembers.isEmpty,
        s"after both leave the group must read Empty: $afterState")
    }
  }

  test("KIP-429 cooperative-sticky: a partition never changes owner inside " +
      "one rebalance — revoke round, then the assign round") {
    withBroker { (_, path) =>
      val c1 = new KafkaLogClient(path)
      val c2 = new KafkaLogClient(path)
      val m1 = new KafkaGroupMembership(c1, "g-coop", "events",
        strategy = "cooperative-sticky")
      val p1 = m1.join()
      assert(p1 === Seq(0, 1, 2) && !m1.needsRejoin)
      // a second cooperative member joins on another thread
      val m2 = new KafkaGroupMembership(c2, "g-coop", "events",
        strategy = "cooperative-sticky")
      val p2ref = new java.util.concurrent.atomic.AtomicReference[Seq[Int]]
      val t = new Thread(() => p2ref.set(m2.join()))
      t.start()
      var deadline = System.currentTimeMillis() + 5000
      while (m1.heartbeat() && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      // ROUND 1 (revocation): m1 keeps a fair-share SUBSET of what it
      // owned; the partition that must move is withheld from everyone —
      // m2 receives NOTHING this generation
      val p1r1 = m1.join()
      t.join(5000)
      val p2r1 = p2ref.get()
      assert(p1r1.size === 2 && p1r1.forall(p1.contains),
        s"m1 must keep a subset of its owned partitions, got $p1r1")
      assert(p2r1 != null && p2r1.isEmpty,
        s"round 1 must withhold the moving partition from m2, got $p2r1")
      assert(m1.needsRejoin && m1.lastRevoked.size === 1,
        "the old owner must be told to rejoin after revoking")
      assert(!m2.needsRejoin, "the newcomer revoked nothing")
      val moving = m1.lastRevoked.head
      // ROUND 2 (assignment): the revoking member rejoins; m2 learns via
      // heartbeat and rejoins; the withheld partition lands on m2
      val p2ref2 = new java.util.concurrent.atomic.AtomicReference[Seq[Int]]
      val t2 = new Thread(() => {
        val d2 = System.currentTimeMillis() + 5000
        while (m2.heartbeat() && System.currentTimeMillis() < d2)
          Thread.sleep(20)
        p2ref2.set(m2.join())
      })
      t2.start()
      val p1r2 = m1.join()
      t2.join(5000)
      val p2r2 = p2ref2.get()
      assert(p1r2 === p1r1, "sticky: the survivor's partitions never moved")
      assert(p2r2 === Seq(moving),
        s"round 2 must hand the revoked partition to m2, got $p2r2")
      assert(!m1.needsRejoin && !m2.needsRejoin, "converged in two rounds")
      assert((p1r2 ++ p2r2).sorted === Seq(0, 1, 2), "cover after converge")
      // incremental departure: m2 leaves; its partition is UNOWNED, so m1
      // reclaims it in ONE round without its own partitions ever moving
      m2.leave()
      deadline = System.currentTimeMillis() + 5000
      while (m1.heartbeat() && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val p1r3 = m1.join()
      assert(p1r3 === Seq(0, 1, 2) && !m1.needsRejoin,
        "a freed partition is assignable immediately — single round")
      m1.leave()
    }
  }

  test("mixed assignors: a joiner sharing no protocol with the group is " +
      "refused with INCONSISTENT_GROUP_PROTOCOL") {
    withBroker { (_, path) =>
      val c1 = new KafkaLogClient(path)
      val c2 = new KafkaLogClient(path)
      val eager = new KafkaGroupMembership(c1, "g-mixed", "events")
      eager.join()
      val coop = new KafkaGroupMembership(c2, "g-mixed", "events",
        strategy = "cooperative-sticky")
      val e = intercept[java.io.IOException](coop.join())
      assert(e.getMessage.contains("error 23"), e.getMessage)
      eager.leave()
    }
  }

  test("KIP-394 pending member ids expire on the requested session timeout") {
    // ADVICE r14: a crash-looping client that receives MEMBER_ID_REQUIRED
    // and never rejoins must not leak one pending id per attempt — the
    // coordinator reaps handouts older than the session timeout the
    // client itself requested. Observable over the wire: a rejoin with an
    // expired handout answers UNKNOWN_MEMBER_ID (25), while a prompt
    // rejoin enters the group normally.
    withBroker { (_, path) =>
      val c = new KafkaLogClient(path)
      def joinV6(member: String, sessionMs: Int): (Short, String) = {
        val (v, in) = c.oneShotVersioned(c.coordinator("g-pending"),
          "JoinGroup", KafkaWire.ApiJoinGroup, 0, 6) { v =>
          assert(v === 6, "this broker must negotiate flexible JoinGroup")
          val bo = new java.io.ByteArrayOutputStream()
          val o = new java.io.DataOutputStream(bo)
          KafkaWire.writeCompactString(o, "g-pending")
          o.writeInt(sessionMs); o.writeInt(sessionMs) // session, rebalance
          KafkaWire.writeCompactString(o, member)
          KafkaWire.writeCompactString(o, null) // group_instance_id
          KafkaWire.writeCompactString(o, "consumer")
          KafkaWire.writeCompactArrayLen(o, 1)
          KafkaWire.writeCompactString(o, "range")
          // subscription metadata: version 0, topics ["events"], no user data
          val mb = new java.io.ByteArrayOutputStream()
          val mo = new java.io.DataOutputStream(mb)
          mo.writeShort(0); mo.writeInt(1); KafkaWire.writeString(mo, "events")
          mo.writeInt(0)
          KafkaWire.writeCompactBytes(o, mb.toByteArray)
          KafkaWire.writeEmptyTagged(o)
          KafkaWire.writeEmptyTagged(o)
          bo.toByteArray
        }
        assert(v === 6)
        in.readInt()                    // throttle_time_ms
        val err = in.readShort()
        in.readInt()                    // generation
        KafkaWire.readCompactString(in) // protocol
        KafkaWire.readCompactString(in) // leader
        val myId = KafkaWire.readCompactString(in)
        (err, myId)
      }
      // handout with a short session; never rejoin until it lapses
      val (e1, id1) = joinV6("", 600)
      assert(e1 === 79, "empty member id on v4+ must answer MEMBER_ID_REQUIRED")
      assert(id1.nonEmpty)
      Thread.sleep(900)
      val (e2, _) = joinV6(id1, 600)
      assert(e2 === 25,
        "an expired pending handout must be reaped, not honored forever")
      // control: a prompt rejoin with a live handout enters the group
      val (e3, id3) = joinV6("", 5000)
      assert(e3 === 79)
      val (e4, id4) = joinV6(id3, 5000)
      assert(e4 === 0, "a live pending handout must still admit the member")
      assert(id4 === id3)
    }
  }

  test("simultaneous first joiners land in one generation with a split") {
    withBroker { (_, path) =>
      val ms = (1 to 3).map(_ => new KafkaGroupMembership(
        new KafkaLogClient(path), "g-burst", "events"))
      val results = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
      val ts = ms.zipWithIndex.map { case (m, i) =>
        new Thread(() => results.put(i, m.join()))
      }
      ts.foreach(_.start()); ts.foreach(_.join(10000))
      assert(results.size === 3)
      assert(ms.map(_.generation).toSet.size === 1,
        s"one generation, got ${ms.map(_.generation)}")
      val all = (0 until 3).flatMap(results.get(_))
      assert(all.sorted === Seq(0, 1, 2), s"3 partitions over 3 members: $all")
      ms.foreach(_.leave())
    }
  }

  test("KIP-345 static membership: a restart with group.instance.id keeps " +
      "the generation and assignment — no rebalance") {
    withBroker { (_, path) =>
      val cA = new KafkaLogClient(path)
      val cB = new KafkaLogClient(path)
      val a1 = new KafkaGroupMembership(cA, "g-static", "events",
        groupInstanceId = Some("app-1"))
      val pA1 = a1.join()
      assert(a1.generation === 1)
      // a dynamic second member joins; both settle in generation 2
      val b = new KafkaGroupMembership(cB, "g-static", "events")
      val pBref = new java.util.concurrent.atomic.AtomicReference[Seq[Int]]
      val t = new Thread(() => pBref.set(b.join()))
      t.start()
      val deadline = System.currentTimeMillis() + 5000
      while (a1.heartbeat() && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val pA = a1.join(); t.join(5000)
      val pB = pBref.get()
      assert(pB != null && (pA ++ pB).sorted === Seq(0, 1, 2))
      val gen = a1.generation
      assert(gen === b.generation)
      // "rolling restart": a NEW incarnation (fresh client, blank member
      // id) joins with the SAME instance id — the coordinator swaps it
      // into the registered slot and answers at the SAME generation with
      // the SAME assignment, without opening a rebalance
      val cA2 = new KafkaLogClient(path)
      val a2 = new KafkaGroupMembership(cA2, "g-static", "events",
        groupInstanceId = Some("app-1"))
      val pA2 = a2.join()
      assert(a2.generation === gen,
        s"static rejoin must keep generation $gen, got ${a2.generation}")
      assert(pA2 === pA, s"static rejoin must keep assignment $pA, got $pA2")
      assert(b.heartbeat(),
        "the survivor must see NO rebalance from a static restart")
      assert(a2.heartbeat())
      // the restarted incarnation can commit under the kept generation
      a2.commitOffsets(Map(pA2.head -> 1L))
      a2.leave(); b.leave()
    }
  }

  test("KIP-345 fencing: the replaced incarnation answers " +
      "FENCED_INSTANCE_ID (82) on heartbeat, join, and commit") {
    withBroker { (_, path) =>
      val c1 = new KafkaLogClient(path)
      val c2 = new KafkaLogClient(path)
      val a1 = new KafkaGroupMembership(c1, "g-fence", "events",
        groupInstanceId = Some("app-9"))
      val p1 = a1.join()
      assert(p1 === Seq(0, 1, 2))
      // a second live holder of the same instance id claims the slot
      val a2 = new KafkaGroupMembership(c2, "g-fence", "events",
        groupInstanceId = Some("app-9"))
      val p2 = a2.join()
      assert(p2 === p1 && a2.generation === a1.generation)
      // the OLD incarnation is now fenced on every surface, by name
      val hb = intercept[java.io.IOException](a1.heartbeat())
      assert(hb.getMessage.contains("FENCED_INSTANCE_ID"), hb.getMessage)
      val jn = intercept[java.io.IOException](a1.join())
      assert(jn.getMessage.contains("FENCED_INSTANCE_ID"), jn.getMessage)
      val cm = intercept[java.io.IOException](
        a1.commitOffsets(Map(0 -> 5L)))
      assert(cm.getMessage.contains("82"), cm.getMessage)
      // the new incarnation is unaffected
      assert(a2.heartbeat())
      a2.commitOffsets(Map(0 -> 7L))
      a2.leave()
    }
  }

  test("KIP-345: a static restart that CHANGED assignors rebalances " +
      "instead of keeping the stale generation") {
    withBroker { (_, path) =>
      val a1 = new KafkaGroupMembership(new KafkaLogClient(path),
        "g-proto", "events", groupInstanceId = Some("app-p"))
      a1.join()
      assert(a1.generation === 1)
      // redeploy with a different partition.assignment.strategy: the
      // coordinator must NOT hand back the old generation/assignment —
      // the elected protocol changed (updateStaticMemberAndRebalance)
      val a2 = new KafkaGroupMembership(new KafkaLogClient(path),
        "g-proto", "events", strategy = "cooperative-sticky",
        groupInstanceId = Some("app-p"))
      val p2 = a2.join()
      assert(a2.generation === 2,
        s"assignor change must bump the generation, got ${a2.generation}")
      assert(p2 === Seq(0, 1, 2))
      a2.leave()
    }
  }
}
