package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType, TimestampType}

/** Catalyst extension entry point (`spark.sql.extensions=graft.plans.
  * GraftExtensions`, registered by default in GraftSession): whole-plan
  * rewrites that built-in operators can't express — the
  * SparkSessionExtensions tier of the operator-preference ladder.
  *
  * Currently injects [[RangeJoinRewrite]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(s => RangeJoinRewrite(s))
    GraftExtensions.sqlFunctions.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo("graft.expressions", name),
        (args: Seq[Expression]) => builder.applyOrElse(args, (as: Seq[Expression]) =>
          throw new IllegalArgumentException(
            s"$name: unsupported argument list (${as.length} args) — $usage"))))
    }
  }
}

/** The native kernels, exposed to SQL users: `spark.sql("SELECT
  * vec_dot(a, b) ...")` reaches the same codegen'd expressions the Scala
  * operators use. Literal-int parameters (ngram size, morton bits) must be
  * literals at the call site — fail-loud otherwise. */
object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.IntegerType

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[plans] val sqlFunctions
      : Seq[(String, String, PartialFunction[Seq[Expression], Expression])] = Seq(
    ("vec_dot", "vec_dot(a, b) - dot product of two float/double arrays",
      { case Seq(a, b) => graft.expressions.VecDotProduct(a, b) }),
    ("vec_dot_int", "vec_dot_int(a, b) - integer dot product of two int8-quantized vectors",
      { case Seq(a, b) => graft.expressions.VecDotProductInt(a, b) }),
    ("quantize_int8", "quantize_int8(v) - one-pass int8 vector quantization",
      { case Seq(v) => graft.expressions.QuantizeInt8Vec(v) }),
    ("morton", "morton(x, y) - z-order interleave of two normalized ints",
      { case Seq(x, y) => graft.expressions.MortonCode(x, y) }),
    ("epoch_micros", "epoch_micros(ts) - NTZ-safe microseconds since epoch",
      { case Seq(ts) => graft.expressions.EpochMicrosExpr(ts) }),
    ("char_ngram_counts", "char_ngram_counts(s, n) - map of char n-gram -> count (n literal, <= 3)",
      { case Seq(s, n) => graft.expressions.CharNgramCounts(s, litInt(n, "n")) }),
    ("word_ngram_counts", "word_ngram_counts(s) - map of word unigram+bigram -> count (pre-lowered)",
      { case Seq(s) => graft.expressions.WordNgramCounts(s) }),
    ("word_shingles", "word_shingles(s, n) - distinct word n-gram shingles (n literal)",
      { case Seq(s, n) => graft.expressions.WordShingles(s, litInt(n, "n")) }),
    ("random_project", "random_project(v, k, seed) - seeded-Rademacher JL projection to k dims (k, seed literals)",
      { case Seq(v, k, seed) => graft.expressions.RandomProjectVec(
          v, litInt(k, "k"), litLong(seed, "seed")) }),
    ("unicode_normalize", "unicode_normalize(s, form) - NFC/NFD/NFKC/NFKD normalization (form literal string)",
      { case Seq(s, f) => graft.expressions.UnicodeNormalize(s, litString(f, "form")) }))

  private def litLong(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def litString(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String,
        org.apache.spark.sql.types.StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }
}

/** One reading of a comparison as a range bound (see
  * [[RangeJoinRewrite]].readings). */
private[plans] final case class Bound(point: AttributeReference,
                                      bound: AttributeReference,
                                      isLower: Boolean, inclusive: Boolean)

/** A fully-classified rewritable join condition: the range pair plus every
  * other conjunct accounted for — side-separable equalities as
  * (points-side, intervals-side) key pairs, the rest as residual
  * post-join predicates. */
private[plans] final case class RangeMatch(
    pt: AttributeReference, lo: AttributeReference, hi: AttributeReference,
    pointsLeft: Boolean, loIncl: Boolean, hiIncl: Boolean,
    keyPairs: Seq[(Expression, Expression)], residual: Seq[Expression])

/** Idempotency marker for [[RangeJoinRewrite]]'s degenerate-row legs: a
  * predicate that is always TRUE but that the optimizer can neither fold
  * (foldable = false) nor push out of the join condition (its children
  * reference BOTH sides), so it survives every fixpoint iteration — the
  * matcher skips any condition carrying one. A name-based column marker is
  * NOT enough: predicate pushdown strips single-side conjuncts from the
  * condition and column pruning then removes the marker column, which
  * resurrects the rewrite recursion (observed: exponential plan growth). */
private[plans] final case class RangeRewriteDone(
    left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RangeRewriteDone =
    copy(left = newLeft, right = newRight)
}

/** A classified interval-OVERLAP join condition: `a.lo < b.hi && b.lo <
  * a.hi` (or the <= pair), bounds oriented to the a/b sides, plus extra
  * conjuncts classified exactly as [[RangeMatch]]. */
private[plans] final case class OverlapMatch(
    aLo: AttributeReference, aHi: AttributeReference,
    bLo: AttributeReference, bHi: AttributeReference,
    aLeft: Boolean, inclusive: Boolean,
    keyPairs: Seq[(Expression, Expression)], residual: Seq[Expression])

/** Auto-rewrite of naive point-in-interval range joins.
  *
  * A user who writes the obvious
  * `points.join(intervals, p >= lo && p < hi)` gets a
  * BroadcastNestedLoopJoin — O(|points|×|intervals|) work that dies at
  * scale. When `spark.graft.rangeJoin.bucketWidth` is set (> 0), this rule
  * recognizes that shape — an INNER join whose condition contains ONE
  * lower and ONE upper bound on the same integral-or-timestamp point
  * column against bounds from the other side (timestamps — the common
  * naive spelling `ts BETWEEN w.start AND w.end` — thread through
  * epochMicros, so the width conf is in MICROS for them; TIMESTAMP_NTZ
  * requires a UTC session or the rule skips); all four boundary
  * combinations qualify
  * ([lo, hi), [lo, hi] BETWEEN, (lo, hi), (lo, hi]),
  * carried through as the operator's inclusive flags — and rebuilds it through
  * [[graft.operators.Joins.pointInIntervalJoin]]: bin-bucketed equi-join,
  * shuffle on bin, in-bin residual filter. The original output attributes
  * pass through untouched (same exprIds), so downstream operators resolve
  * unchanged; a final Project restores column order.
  *
  * Extra conjuncts are each accounted for, never lost: a side-separable
  * equality (`a.key = b.key` — the common KEYED range join) joins
  * alongside the bin as an extra equi-key; any other deterministic
  * predicate is applied as a post-join filter (equivalent for an inner
  * join). LEFT/RIGHT OUTER range joins rewrite through
  * [[graft.operators.Joins.pointInIntervalJoinLeft]] when the outer side
  * is the points side and the condition carries no residual predicate
  * (outer extras decide null-extension and cannot be post-filtered).
  * Deliberately conservative — the rule SKIPS (leaving the plan as
  * written) when: the width conf is unset (no silent stats job at
  * optimization time), bounds/point are not bare integral/timestamp
  * attributes,
  * either side already uses the rewrite's temp names, the same attribute
  * appears on both sides (self-join ambiguity), or a NON-deterministic
  * predicate rides the condition (re-evaluation could change results).
  * Idempotent by construction: the rewritten join's condition is
  * equalities only (bin + keys), in which the matcher finds no range
  * pair. */
case class RangeJoinRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  // every temp the operators derive — including the outer variant's
  // anti-leg names — so a user column with one of these names makes the
  // rule SKIP instead of producing an ambiguous-reference failure
  private val TempNames =
    Set("__pt", "__bin", "__lo", "__hi", "__rlo", "__rhi", "__rbin",
      "__alo", "__ahi", "__blo", "__bhi")

  private def width: Long =
    spark.conf.getOption("spark.graft.rangeJoin.bucketWidth").map(_.toLong).getOrElse(0L)

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConj(a) ++ splitConj(b)
    case other => Seq(other)
  }

  /** One comparison read as a range bound. Every comparison between two
    * bare attributes has TWO readings (x < y is "point x below bound y"
    * or "point y above bound x"); [[matchRange]] tries both and the
    * shared-point + sideness checks pick the consistent one. Any
    * consistent reading is semantics-preserving — the rewritten operator
    * re-applies the exact boundary predicate. */
  private def readings(p: Expression): Seq[Bound] = p match {
    case GreaterThanOrEqual(a: AttributeReference, b: AttributeReference) =>
      Seq(Bound(a, b, isLower = true, inclusive = true),
          Bound(b, a, isLower = false, inclusive = true))
    case LessThanOrEqual(a: AttributeReference, b: AttributeReference) =>
      Seq(Bound(a, b, isLower = false, inclusive = true),
          Bound(b, a, isLower = true, inclusive = true))
    case GreaterThan(a: AttributeReference, b: AttributeReference) =>
      Seq(Bound(a, b, isLower = true, inclusive = false),
          Bound(b, a, isLower = false, inclusive = false))
    case LessThan(a: AttributeReference, b: AttributeReference) =>
      Seq(Bound(a, b, isLower = false, inclusive = false),
          Bound(b, a, isLower = true, inclusive = false))
    case _ => Nil
  }

  /** Domains the rewrite can bin exactly: integral attributes as-is, and
    * both timestamp flavors through [[graft.GraftSession.epochMicros]]
    * (µs-since-epoch is the internal long of BOTH flavors, so the
    * conversion is a zero-cost identity inside codegen, strictly monotone
    * and injective — every comparison in the original condition holds on
    * the converted longs iff it held on the timestamps; `bucketWidth` is
    * then in MICROS). TIMESTAMP_NTZ only under a UTC session — anywhere
    * else [[graft.expressions.EpochMicrosExpr]] fails analysis by
    * contract, and an optimizer rule must SKIP, never break, a valid
    * plan. Fractional types stay excluded: their comparisons (and NaN)
    * don't survive a long cast. */
  private def integral(a: AttributeReference): Boolean = a.dataType match {
    case LongType | IntegerType | TimestampType => true
    case TimestampNTZType =>
      graft.GraftSession.isUtcZone(spark.conf.get("spark.sql.session.timeZone"))
    case _ => false
  }

  /** The matched attribute as a LONG-domain Column for the bucketed
    * operators (they `.cast("long")` internally — which on a raw timestamp
    * would read SECONDS, a 10^6 error, hence the explicit µs extraction
    * here). */
  private def longDomain(a: AttributeReference): org.apache.spark.sql.Column =
    a.dataType match {
      case TimestampType | TimestampNTZType =>
        graft.GraftSession.epochMicros(ColumnBridge.column(a))
      case _ => ColumnBridge.column(a)
    }

  override def apply(plan: LogicalPlan): LogicalPlan = apply(plan, width)

  /** The rule at bucket width `w` instead of the session conf's, for a
    * builder that applies it itself. */
  def apply(plan: LogicalPlan, w: Long): LogicalPlan = {
    if (w <= 0) return plan
    plan.transformUp {
      // match once: noTempNames is the cheap pre-filter, then the single
      // matchRange drives both the fire/skip decision and the rebuild
      case j @ Join(l, r, Inner, Some(cond), _) if noTempNames(l, r) =>
        matchRange(cond, l, r)
          .map(m => rewrite(j, l, r, m, w, outer = false))
          .orElse(matchOverlap(cond, l, r)
            .filter(_ => disjointNames(l, r))
            .map(m => rewriteOverlap(j, l, r, cond, m, w)))
          .getOrElse(j)
      // outer range joins rewrite through pointInIntervalJoinLeft when the
      // OUTER side is the points side and no residual predicate rides the
      // condition (an outer join's extra predicates can't be post-filtered
      // — they decide null-extension; key equalities are fine, they join
      // in both legs)
      case j @ Join(l, r, jt @ (LeftOuter | RightOuter), Some(cond), _)
          if noTempNames(l, r) && disjointNames(l, r) =>
        matchRange(cond, l, r) match {
          case Some(m) if m.residual.isEmpty && (jt == LeftOuter) == m.pointsLeft =>
            rewrite(j, l, r, m, w, outer = true)
          case _ => j
        }
    }
  }

  private def rewrite(j: Join, l: LogicalPlan, r: LogicalPlan,
                      m: RangeMatch, w: Long, outer: Boolean): LogicalPlan = {
    val (pp, ip) = if (m.pointsLeft) (l, r) else (r, l)
    // side-separable equalities become shared-named key columns that
    // join alongside the bin; original attrs (and their exprIds) pass
    // through withColumn untouched
    val keyNames = m.keyPairs.indices.map(i => s"__k$i")
    val pp2 = m.keyPairs.zip(keyNames).foldLeft(ColumnBridge.ofRows(spark, pp)) {
      case (df, ((pe, _), n)) => df.withColumn(n, ColumnBridge.column(pe))
    }
    val ip2 = m.keyPairs.zip(keyNames).foldLeft(ColumnBridge.ofRows(spark, ip)) {
      case (df, ((_, ie), n)) => df.withColumn(n, ColumnBridge.column(ie))
    }
    val joined = (if (outer)
      graft.operators.Joins.pointInIntervalJoinLeft(
        pp2, longDomain(m.pt),
        ip2, longDomain(m.lo),
        longDomain(m.hi), bucketWidth = w, extraKeys = keyNames,
        lowerInclusive = m.loIncl, upperInclusive = m.hiIncl)
    else
      graft.operators.Joins.pointInIntervalJoin(
        pp2, longDomain(m.pt),
        ip2, longDomain(m.lo),
        longDomain(m.hi), bucketWidth = w, extraKeys = keyNames,
        lowerInclusive = m.loIncl, upperInclusive = m.hiIncl))
      .drop(keyNames: _*)
    val out = m.residual.foldLeft(joined)(
      (df, e) => df.filter(ColumnBridge.column(e)))
    Project(j.output, out.queryExecution.analyzed)
  }

  /** Name checks follow the session's resolution: under the default
    * case-INSENSITIVE resolver a user column "__BIN" (or "Start" vs
    * "start" across sides) collides just like an exact match would. */
  private def normName(n: String): String =
    if (spark.conf.get("spark.sql.caseSensitive", "false").toBoolean) n
    else n.toLowerCase(java.util.Locale.ROOT)

  private def noTempNames(l: LogicalPlan, r: LogicalPlan): Boolean =
    !(l.output ++ r.output).exists { a =>
      val n = normName(a.name)
      TempNames(n) || n.matches("__k\\d+")
    }

  /** The OVERLAP and OUTER rewrites union legs and select by NAME, so the
    * sides must not share any column name (the inner point-in-interval
    * path is exprId-based and tolerates shared names — this gate is
    * deliberately NOT part of [[noTempNames]]). */
  private def disjointNames(l: LogicalPlan, r: LogicalPlan): Boolean =
    l.output.map(a => normName(a.name))
      .intersect(r.output.map(a => normName(a.name))).isEmpty

  /** Each comparison as (smaller, larger, inclusive) — GreaterThan forms
    * normalized (`b.hi > a.lo` reads the same as `a.lo < b.hi`). */
  private def cmpReading(p: Expression)
      : Option[(AttributeReference, AttributeReference, Boolean)] = p match {
    case LessThan(a: AttributeReference, b: AttributeReference) => Some((a, b, false))
    case GreaterThan(a: AttributeReference, b: AttributeReference) => Some((b, a, false))
    case LessThanOrEqual(a: AttributeReference, b: AttributeReference) => Some((a, b, true))
    case GreaterThanOrEqual(a: AttributeReference, b: AttributeReference) => Some((b, a, true))
    case _ => None
  }

  /** Finds the interval-OVERLAP shape: two same-strictness comparisons
    * over FOUR distinct integral attributes, criss-crossed between the
    * sides — `a.lo < b.hi` puts a's lower bound against b's upper, `b.lo
    * < a.hi` the reverse. Mixed </<= pairs are skipped (the operator has
    * one inclusive flag). Extra conjuncts classify like the range case. */
  private def matchOverlap(cond: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[OverlapMatch] = {
    if (alreadyRewritten(cond)) return None
    val preds = splitConj(cond)
    if (preds.length < 2) return None
    val inL = l.outputSet
    val inR = r.outputSet
    def sideOf(a: AttributeReference): Option[Boolean] =
      if (inL.contains(a) && !inR.contains(a)) Some(true)
      else if (inR.contains(a) && !inL.contains(a)) Some(false)
      else None
    val candidates = for {
      i <- preds.indices.iterator
      k <- preds.indices.iterator if i < k
      (s1, g1, inc1) <- cmpReading(preds(i)).iterator
      (s2, g2, inc2) <- cmpReading(preds(k)).iterator
      if inc1 == inc2 && Seq(s1, g1, s2, g2).forall(integral)
      if Seq(s1, g1, s2, g2).map(_.exprId).distinct.length == 4
      // one shared bin domain: each COMPARISON is same-typed (bare attrs),
      // but the two comparisons could mix families across the quadruple —
      // a timestamp (aLo, bHi) pair with an integral (bLo, aHi) pair would
      // bin µs against raw longs and compare a timestamp hi to a long lo
      // in the well-formed filter. All four timestamps or all four
      // integrals; Int/Long width mixes stay fine (the operator casts).
      if Seq(s1, g1, s2, g2).forall(a =>
        a.dataType == TimestampType || a.dataType == TimestampNTZType) ||
        Seq(s1, g1, s2, g2).forall(a =>
          a.dataType == LongType || a.dataType == IntegerType)
      // orientation: s1/g2 on one side (a.lo/a.hi), g1/s2 on the other
      sideS1 <- sideOf(s1).iterator
      if sideOf(g2).contains(sideS1) &&
        sideOf(g1).contains(!sideS1) && sideOf(s2).contains(!sideS1)
      rest = preds.indices.filter(x => x != i && x != k).map(preds)
      (keys, residual) <- classifyExtras(rest, inL, inR, sideS1).iterator
    } yield OverlapMatch(aLo = s1, aHi = g2, bLo = s2, bHi = g1,
      aLeft = sideS1, inclusive = inc1, keyPairs = keys, residual = residual)
    candidates.nextOption()
  }

  /** Exact overlap rewrite. The subtlety is DEGENERATE bound pairs
    * (hi < lo, or hi == lo under strict comparisons): the naive predicate
    * can still be satisfied for them (a "b strictly covers the inverted
    * pair" shape) while the bucketed operator drops them — so the pair
    * space is partitioned exactly:
    *  - well-formed a × well-formed b → the bucketed operator (the scale
    *    path; the operator's own residual IS the original predicate for
    *    well-formed rows)
    *  - degenerate a × ALL b, and well-formed a × degenerate b → the
    *    plain join with the ORIGINAL condition (build side left to the
    *    planner's size estimate; in well-formed data these legs are
    *    empty; degenerate × degenerate is provably unsatisfiable, so
    *    the legs don't overlap)
    * All three legs carry the original output attributes; the final
    * Project restores order. */
  private def rewriteOverlap(j: Join, l: LogicalPlan, r: LogicalPlan,
                             cond: Expression, m: OverlapMatch,
                             w: Long): LogicalPlan = {
    import org.apache.spark.sql.functions.not
    val (ap, bp) = if (m.aLeft) (l, r) else (r, l)
    val aDf = ColumnBridge.ofRows(spark, ap)
    val bDf = ColumnBridge.ofRows(spark, bp)
    val (aLoC, aHiC) = (ColumnBridge.column(m.aLo), ColumnBridge.column(m.aHi))
    val (bLoC, bHiC) = (ColumnBridge.column(m.bLo), ColumnBridge.column(m.bHi))
    val wellA = if (m.inclusive) aHiC >= aLoC else aHiC > aLoC
    val wellB = if (m.inclusive) bHiC >= bLoC else bHiC > bLoC
    val condC = ColumnBridge.column(cond)
    // main leg: keyed columns ride the bucketed join exactly as in the
    // point-in-interval rewrite
    val keyNames = m.keyPairs.indices.map(i => s"__k$i")
    val a2 = m.keyPairs.zip(keyNames).foldLeft(aDf) {
      case (df, ((ae, _), n)) => df.withColumn(n, ColumnBridge.column(ae))
    }
    val b2 = m.keyPairs.zip(keyNames).foldLeft(bDf) {
      case (df, ((_, be), n)) => df.withColumn(n, ColumnBridge.column(be))
    }
    val main0 = graft.operators.Joins.intervalOverlapJoin(
      a2, longDomain(m.aLo), longDomain(m.aHi),
      b2, longDomain(m.bLo), longDomain(m.bHi),
      bucketWidth = w, extraKeys = keyNames, inclusive = m.inclusive)
      .drop(keyNames: _*)
    val main = m.residual.foldLeft(main0)((df, e) => df.filter(ColumnBridge.column(e)))
    // degenerate legs: the original condition verbatim (range + keys +
    // residual). not(wellX) also drops null-bound rows — they satisfy no
    // comparison, same as the naive join.
    // The RangeRewriteDone conjunct (always true, unfoldable,
    // unpushable — see its scaladoc) marks the legs so the matcher never
    // re-fires on them in later fixpoint iterations
    // no broadcast HINT on the legs: strict-mode data can have MANY
    // zero-length bound pairs (instantaneous events), and a forced
    // broadcast of that side would fail where the planner's own
    // build-side choice (by size estimate) runs — let it choose
    val marker = ColumnBridge.column(RangeRewriteDone(m.aLo, m.bLo))
    val degenALeg = aDf.filter(not(wellA)).join(bDf, condC && marker)
    val degenBLeg = bDf.filter(not(wellB)).join(aDf.filter(wellA), condC && marker)
    val out = main.unionByName(degenALeg).unionByName(degenBLeg)
    Project(j.output, out.queryExecution.analyzed)
  }

  /** True when the condition carries a [[RangeRewriteDone]] marker — the
    * join is one of this rule's own degenerate legs; BOTH matchers must
    * skip it or they would re-match the leg's verbatim original condition
    * every fixpoint iteration. */
  private def alreadyRewritten(cond: Expression): Boolean =
    cond.exists(_.isInstanceOf[RangeRewriteDone])

  /** Finds the first consistent [[RangeMatch]] in the condition's
    * conjuncts, or None when no reading qualifies. */
  private def matchRange(cond: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[RangeMatch] = {
    if (alreadyRewritten(cond)) return None
    val preds = splitConj(cond)
    if (preds.length < 2) return None
    val inL = l.outputSet
    val inR = r.outputSet
    val candidates = for {
      i <- preds.indices.iterator
      k <- preds.indices.iterator if i < k
      c1 <- readings(preds(i))
      c2 <- readings(preds(k))
      if c1.point.exprId == c2.point.exprId && c1.isLower != c2.isLower &&
        Seq(c1.point, c1.bound, c2.bound).forall(integral)
      (loB, hiB) = if (c1.isLower) (c1, c2) else (c2, c1)
      // unambiguous sideness: point on one side, both bounds on the other
      pointsLeft <-
        if (inL.contains(c1.point) && !inR.contains(c1.point) &&
            inR.contains(loB.bound) && inR.contains(hiB.bound) &&
            !inL.contains(loB.bound) && !inL.contains(hiB.bound)) Iterator(true)
        else if (inR.contains(c1.point) && !inL.contains(c1.point) &&
            inL.contains(loB.bound) && inL.contains(hiB.bound) &&
            !inR.contains(loB.bound) && !inR.contains(hiB.bound)) Iterator(false)
        else Iterator.empty
      rest = preds.indices.filter(x => x != i && x != k).map(preds)
      (keys, residual) <- classifyExtras(rest, inL, inR, pointsLeft).iterator
    } yield RangeMatch(c1.point, loB.bound, hiB.bound, pointsLeft,
      loB.inclusive, hiB.inclusive, keys, residual)
    candidates.nextOption()
  }

  /** Every non-range conjunct must be accounted for or the rewrite is
    * unsound: an `a = b` with one side's references entirely on the
    * points plan and the other's on the intervals plan joins alongside
    * the bin (more selective than post-filtering); any other
    * DETERMINISTIC predicate is applied as a filter on the rewritten
    * join (equivalent for an inner join); a non-deterministic predicate
    * aborts the rewrite (re-evaluation could change results). */
  private def classifyExtras(rest: Seq[Expression], inL: AttributeSet,
                             inR: AttributeSet, pointsLeft: Boolean)
      : Option[(Seq[(Expression, Expression)], Seq[Expression])] = {
    val (ptSide, ivSide) = if (pointsLeft) (inL, inR) else (inR, inL)
    val keys = Seq.newBuilder[(Expression, Expression)]
    val residual = Seq.newBuilder[Expression]
    rest.foreach {
      case e if !e.deterministic => return None
      case e @ EqualTo(a, b)
          if a.references.subsetOf(ptSide) && b.references.subsetOf(ivSide) &&
            a.references.nonEmpty && b.references.nonEmpty =>
        keys += ((a, b))
      case e @ EqualTo(a, b)
          if b.references.subsetOf(ptSide) && a.references.subsetOf(ivSide) &&
            a.references.nonEmpty && b.references.nonEmpty =>
        keys += ((b, a))
      case e => residual += e
    }
    Some((keys.result(), residual.result()))
  }
}
