package graft

import graft.streaming.Triggers._

/** Shared plain-Scala interpreter of the Beam composite-trigger semantics
  * (the `RCORE/triggers/` state machines are the spec), used as the
  * independent reference by BOTH transcript fuzz layers
  * ([[FuzzTriggerTranscriptSpec]] fixed windows,
  * [[FuzzSessionTranscriptSpec]] merging sessions).
  *
  * Structurally independent of the engine where it counts: node state
  * lives in a mutable TREE (one object per AST node), not the engine's
  * path-string-keyed flat map, so path-bookkeeping bugs in the engine
  * cannot be mirrored here. `mergeFrom` implements the session-merge
  * contract the engine expresses per path — counts ADD, finished flags
  * OR — structurally over the tree (same-shape ASTs only, which is all a
  * merge can ever see: both windows run the same trigger).
  */
object TriggerSim {

  /** One micro-batch of a fuzz schedule: elements at `ts` seconds, or a
    * watermark-only event at `t` seconds. */
  sealed trait Step
  final case class In(ts: Seq[Long]) extends Step
  final case class Wm(t: Long) extends Step

  /** A random fixed-window schedule and its allowed lateness in seconds
    * (0, 15 or 1000): element ts 1..45 s over ~4 windows of 10 s,
    * late elements included, nondecreasing watermark steps with exact
    * window-end ties allowed, and a last step past every GC horizon. */
  def genSchedule(rnd: scala.util.Random): (Seq[Step], Long) = {
    val latenessSec = Seq(0L, 15L, 1000L)(rnd.nextInt(3))
    val steps = Seq.newBuilder[Step]
    var wmSoFar = 0L
    for (_ <- 0 until 6 + rnd.nextInt(5)) {
      if (rnd.nextInt(10) < 7) {
        // below-watermark (late) ts stay in — the engine admits them and
        // the late/GC paths must agree
        steps += In(Seq.fill(1 + rnd.nextInt(3))(1L + rnd.nextInt(45)))
      } else {
        wmSoFar += rnd.nextInt(20) // nondecreasing; exact window-end ties allowed
        steps += Wm(wmSoFar)
      }
    }
    steps += Wm(3000L) // past every GC horizon: flush/GC everything
    (steps.result(), latenessSec)
  }

  sealed trait Sim {
    var fin = false
    def add(n: Long): Unit
    def shouldFire(wmPast: Boolean): Boolean
    def onFire(wmPast: Boolean): Unit
    def reset(): Unit = { fin = false }
    /** Absorb `o`'s state (same AST shape): counts add, flags OR. */
    def mergeFrom(o: Sim): Unit
  }
  final class SimNever extends Sim {
    def add(n: Long): Unit = ()
    def shouldFire(wmPast: Boolean): Boolean = false
    def onFire(wmPast: Boolean): Unit = ()
    def mergeFrom(o: Sim): Unit = { fin ||= o.fin }
  }
  final class SimWatermark extends Sim {
    def add(n: Long): Unit = ()
    def shouldFire(wmPast: Boolean): Boolean = !fin && wmPast
    def onFire(wmPast: Boolean): Unit = { fin = true }
    def mergeFrom(o: Sim): Unit = { fin ||= o.fin }
  }
  final class SimCount(n: Long) extends Sim {
    private[TriggerSim] var c = 0L
    def add(k: Long): Unit = c += k
    def shouldFire(wmPast: Boolean): Boolean = !fin && c >= n
    def onFire(wmPast: Boolean): Unit = { c = 0; fin = true }
    override def reset(): Unit = { c = 0; fin = false }
    def mergeFrom(o: Sim): Unit = {
      val s = o.asInstanceOf[SimCount]; c += s.c; fin ||= s.fin
    }
  }
  final class SimWmEL(val early: Option[Sim], val late: Sim) extends Sim {
    private[TriggerSim] var wmFired = false
    def add(n: Long): Unit = { early.foreach(_.add(n)); late.add(n) }
    def shouldFire(wmPast: Boolean): Boolean = !fin && {
      if (!wmPast) early.exists(_.shouldFire(wmPast))
      else if (!wmFired) true
      else late.shouldFire(wmPast)
    }
    def onFire(wmPast: Boolean): Unit =
      if (!wmPast) early.foreach { e => e.onFire(wmPast); e.reset() }
      else if (!wmFired) { wmFired = true; late.reset() }
      else { late.onFire(wmPast); late.reset() }
    override def reset(): Unit = {
      fin = false; wmFired = false; early.foreach(_.reset()); late.reset()
    }
    def mergeFrom(o: Sim): Unit = {
      val s = o.asInstanceOf[SimWmEL]
      fin ||= s.fin; wmFired ||= s.wmFired
      early.zip(s.early).foreach { case (a, b) => a.mergeFrom(b) }
      late.mergeFrom(s.late)
    }
  }
  final class SimFirst(val cs: Seq[Sim]) extends Sim {
    def add(n: Long): Unit = cs.foreach(_.add(n))
    def shouldFire(wmPast: Boolean): Boolean = !fin && cs.exists(_.shouldFire(wmPast))
    def onFire(wmPast: Boolean): Unit = {
      cs.foreach(c => if (c.shouldFire(wmPast)) c.onFire(wmPast)); fin = true
    }
    override def reset(): Unit = { fin = false; cs.foreach(_.reset()) }
    def mergeFrom(o: Sim): Unit = {
      val s = o.asInstanceOf[SimFirst]
      fin ||= s.fin; cs.zip(s.cs).foreach { case (a, b) => a.mergeFrom(b) }
    }
  }
  final class SimAll(val cs: Seq[Sim]) extends Sim {
    def add(n: Long): Unit = cs.foreach(_.add(n))
    def shouldFire(wmPast: Boolean): Boolean =
      !fin && cs.forall(c => c.fin || c.shouldFire(wmPast))
    def onFire(wmPast: Boolean): Unit = {
      cs.foreach(c => if (!c.fin) c.onFire(wmPast)); fin = true
    }
    override def reset(): Unit = { fin = false; cs.foreach(_.reset()) }
    def mergeFrom(o: Sim): Unit = {
      val s = o.asInstanceOf[SimAll]
      fin ||= s.fin; cs.zip(s.cs).foreach { case (a, b) => a.mergeFrom(b) }
    }
  }
  final class SimEach(val cs: Seq[Sim]) extends Sim {
    def add(n: Long): Unit = cs.foreach(_.add(n))
    def shouldFire(wmPast: Boolean): Boolean =
      !fin && cs.find(!_.fin).exists(_.shouldFire(wmPast))
    def onFire(wmPast: Boolean): Unit = {
      cs.find(!_.fin).foreach(_.onFire(wmPast))
      if (cs.forall(_.fin)) fin = true
    }
    override def reset(): Unit = { fin = false; cs.foreach(_.reset()) }
    def mergeFrom(o: Sim): Unit = {
      val s = o.asInstanceOf[SimEach]
      fin ||= s.fin; cs.zip(s.cs).foreach { case (a, b) => a.mergeFrom(b) }
    }
  }
  final class SimRepeat(val c: Sim) extends Sim {
    def add(n: Long): Unit = c.add(n)
    def shouldFire(wmPast: Boolean): Boolean = !fin && c.shouldFire(wmPast)
    def onFire(wmPast: Boolean): Unit = { c.onFire(wmPast); c.reset() }
    override def reset(): Unit = { fin = false; c.reset() }
    def mergeFrom(o: Sim): Unit = {
      val s = o.asInstanceOf[SimRepeat]; fin ||= s.fin; c.mergeFrom(s.c)
    }
  }
  final class SimOrFinally(val m: Sim, val u: Sim) extends Sim {
    def add(n: Long): Unit = { m.add(n); u.add(n) }
    def shouldFire(wmPast: Boolean): Boolean =
      !fin && (u.shouldFire(wmPast) || m.shouldFire(wmPast))
    def onFire(wmPast: Boolean): Unit =
      if (u.shouldFire(wmPast)) fin = true
      else { m.onFire(wmPast); if (m.fin) m.reset() }
    override def reset(): Unit = { fin = false; m.reset(); u.reset() }
    def mergeFrom(o: Sim): Unit = {
      val s = o.asInstanceOf[SimOrFinally]
      fin ||= s.fin; m.mergeFrom(s.m); u.mergeFrom(s.u)
    }
  }

  def build(t: TriggerAst): Sim = t match {
    case NeverT => new SimNever
    case AfterWatermarkT => new SimWatermark
    case AfterCountT(n) => new SimCount(n)
    case AfterWatermarkEL(e, l) =>
      new SimWmEL(e.map(build), build(l.getOrElse(AfterCountT(1))))
    case AfterFirstT(cs) => new SimFirst(cs.map(build))
    case AfterAllT(cs) => new SimAll(cs.map(build))
    case AfterEachT(cs) => new SimEach(cs.map(build))
    case RepeatedlyT(c) => new SimRepeat(build(c))
    case OrFinallyT(m, u) => new SimOrFinally(build(m), build(u))
    case other => sys.error(s"not fuzzed: $other")
  }

  // --------------------------- shared random composite-trigger generator ---

  def genLeaf(rnd: scala.util.Random): TriggerAst = rnd.nextInt(8) match {
    case 0 | 1 => AfterWatermarkT
    case 2 | 3 | 4 => AfterCountT(1L + rnd.nextInt(3))
    case 5 => NeverT
    case _ =>
      val early = if (rnd.nextBoolean()) Some(AfterCountT(1L + rnd.nextInt(2))) else None
      val late = if (rnd.nextBoolean()) Some(AfterCountT(1L + rnd.nextInt(2))) else None
      AfterWatermarkEL(early, late)
  }

  def genAst(rnd: scala.util.Random, depth: Int): TriggerAst =
    if (depth <= 0) genLeaf(rnd)
    else rnd.nextInt(6) match {
      case 0 => genLeaf(rnd)
      case 1 => AfterFirstT(Seq.fill(2 + rnd.nextInt(2))(genAst(rnd, depth - 1)))
      case 2 => AfterAllT(Seq.fill(2 + rnd.nextInt(2))(genAst(rnd, depth - 1)))
      case 3 => AfterEachT(Seq.fill(2 + rnd.nextInt(2))(genAst(rnd, depth - 1)))
      case 4 => RepeatedlyT(genAst(rnd, depth - 1))
      case 5 => OrFinallyT(genAst(rnd, depth - 1), genAst(rnd, depth - 1))
    }
}
