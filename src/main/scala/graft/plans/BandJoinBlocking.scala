package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite a naive BAND theta join — two conjuncts
  * bounding `X − Y` in a literal interval, the universal spelling of
  * as-of joins, windowed correlation, and tolerance matching —
  *
  *   views.join(purchases,
  *     v("ts") <= p("ts") && v("ts") >= p("ts") - T && ...)
  *
  * into a bucketed EQUI-join: the manual `ts div T` construction q261
  * builds by hand, promoted to an engine capability (the third member
  * of the family after [[HammingJoinBlocking]] and
  * [[GlobalRankRewrite]]). Eligibility: an INNER / LEFT OUTER / LEFT
  * SEMI / LEFT ANTI join whose condition
  * conjuncts bound `X − Y` from BOTH sides with literal offsets (after
  * normalizing `x ± c cmp y ± c'` in any of the four comparison
  * spellings, strict forms tightened by 1 base unit), X and Y
  * integral-, DATE-, or TIMESTAMP-typed from one side each,
  * deterministic, same ordering domain. Offsets follow the key's unit:
  * plain ± for integrals, `date_add/date_sub` DAYS for dates,
  * `ts ± INTERVAL` day-time MICROS for timestamps — so both the
  * epoch-micros BIGINT doctrine this repo uses and the native
  * `BETWEEN date_sub(d, 30) AND d` / `ts - INTERVAL '7' DAY` SQL
  * spellings all normalize.
  *
  * Rewrite: with `lo ≤ X − Y ≤ hi`, W = hi − lo, B = max(W, 1):
  * every qualifying Y lies in `[X − lo − B, X − lo]`, so
  * `floorDiv(Y, B)` equals `floorDiv(X − lo, B)` or that minus one — a
  * GUARANTEE, not an approximation. The right child gains a generated
  * `floorDiv(Y, B)` bucket column; the left child EXPLODES into its two
  * probe buckets; the join becomes an equi-join on the bucket with the
  * ORIGINAL condition kept as residual. The two probe buckets are
  * distinct, so every qualifying pair matches EXACTLY once — bag
  * semantics with no dedup pass and no canonical-match residual
  * (simpler than the hamming rule: the match bucket is a function of
  * the pair, not a choice among segments). floorDiv is implemented as
  * `(v − pmod(v, B)) div B`, exact for negative values too.
  *
  * Composition and stand-down mirror [[HammingJoinBlocking]]: existing
  * equi conjuncts (`v.user === p.user`) compose — ExtractEquiJoinKeys
  * collects (user, bucket) and the per-user nested loop becomes the
  * q261 hash-join shape automatically — and the rule stands down only
  * when equi keys exist AND a side is already broadcastable (a
  * BroadcastHashJoin on the user keys with the band as residual beats
  * paying the 2× explode).
  *
  * Scale: candidate fan-in per probe row is the 2-bucket event density
  * (the band width), not the partner side's cardinality — the measured
  * `ScaleLaw AsofScale` law, now engine-owned for any naive band spelling.
  *
  * Non-inner variants (round 8, [[RewriteSupport]] doctrine): LEFT
  * SEMI/ANTI gain a left row id and collapse the 2-bucket explode back
  * to left grain (anti: a row qualifies iff BOTH its probe rows found
  * nothing); LEFT OUTER runs the outer join at exploded grain — matched
  * rows are exactly-once already — and keeps one null-extended
  * representative (the idx-0 probe) for rids whose per-rid window match
  * count is zero.
  *
  * INTERVAL-OVERLAP arm (round 8): when the two bounds constrain
  * DIFFERENT base pairs — `Ls ≤ Re + u ∧ Rs ≤ Le − v`, the universal
  * overlap test of two intervals with INDEPENDENT endpoint columns
  * (validity windows, sessions, ranges; fixed-width intervals reduce
  * to the band arm above) — no single difference is banded, but the
  * join still blocks: fold the offsets into the endpoints
  * (L = [Ls−u, Le−v], R = [Rs, Re], all in the key's numeric space),
  * EXPLODE each side into the tiles its span
  * [min(start,end), max(start,end)] touches (`sequence(start div B,
  * end div B)` — the q256 construction, promoted), equi-join on the
  * tile, and keep each qualifying pair EXACTLY ONCE with the
  * canonical-tile residual `tile == floorDiv(max(Ls', Rs'), B)`:
  * max(Lstart, Rstart) lies in BOTH spans for every pair satisfying
  * the original conjuncts (case analysis covers reversed/empty
  * intervals, where the raw two-conjunct predicate can hold without a
  * common point — the max still lands inside both min/max spans), so
  * no dedup pass is needed. Point-in-variable-interval joins (`Rs ≤ X
  * ≤ Re`) are the degenerate L = [X, X] case and block the same way.
  * Replication is span⁄B + 1 per row — the tile width B is
  * `spark.graft.band.intervalBin` in base units (days for DATE keys
  * and TIMESTAMP keys, raw units for integrals) when that conf is
  * set; when UNSET (the default since r10) B is DERIVED FROM THE DATA
  * as a broadcast 1-row scalar — the geometric mean of the interval
  * spans rounded to a power of two (see [[adaptiveBin]] for the
  * determinism argument and the heavy-tail rationale).
  * Non-inner variants follow the [[RewriteSupport]] doctrine: LEFT
  * SEMI drops the canonical residual (any shared tile qualifies) and
  * regroups by rid; LEFT ANTI records each row's OWN tile count (the
  * fan-out is variable, unlike the band arm's fixed 2) and keeps rows
  * where all copies survived; LEFT OUTER keeps the canonical residual
  * for exactly-once matches and the pos-0 representative for
  * match-free rids. Stands down when either side is broadcastable (a
  * broadcast nested-loop beats paying both explodes at that size) and
  * whenever the endpoint quadruple is ambiguous.
  */
object BandJoinBlocking extends Rule[LogicalPlan]
    with BlockingJoinSupport {

  private val bandColName = "graft_band"

  private def integral(dt: DataType): Boolean =
    dt == IntegerType || dt == LongType || dt == ShortType || dt == ByteType

  /** Bandable key kinds; the offset unit follows the kind (days for
    * dates, micros for timestamps, the value itself for integrals). */
  private def bandable(dt: DataType): Boolean =
    integral(dt) || dt == DateType || dt == TimestampType

  /** Same ordering domain: exact type match for date/timestamp, any
    * integral pairing otherwise (comparison coercion widens anyway). */
  private def sameKind(a: DataType, b: DataType): Boolean = (a, b) match {
    case (DateType, DateType) => true
    case (TimestampType, TimestampType) => true
    case (x, y) => integral(x) && integral(y)
  }

  private def litLong(e: Expression): Option[Long] = e match {
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Short, ShortType) => Some(v.toLong)
    case Literal(v: Byte, ByteType) => Some(v.toLong)
    case _ => None
  }

  /** A day-time interval literal in MICROS (sign-folded or not — by
    * optimize time ConstantFolding usually has, but be tolerant). */
  private def litInterval(e: Expression): Option[Long] = e match {
    case Literal(v: Long, _: DayTimeIntervalType) => Some(v)
    case UnaryMinus(Literal(v: Long, _: DayTimeIntervalType), _) =>
      Some(-v)
    case _ => None
  }

  /** `e` as `base + offset` with a literal offset in the base's unit:
    * plain ± for integrals, date_add/date_sub days for dates,
    * `ts ± INTERVAL` micros for timestamps. */
  private def lin(e: Expression): (Expression, Long) = e match {
    case Add(a, l, _) if litLong(l).isDefined =>
      val (b, o) = lin(a); (b, o + litLong(l).get)
    case Add(l, a, _) if litLong(l).isDefined =>
      val (b, o) = lin(a); (b, o + litLong(l).get)
    case Subtract(a, l, _) if litLong(l).isDefined =>
      val (b, o) = lin(a); (b, o - litLong(l).get)
    case DateAdd(a, l) if litLong(l).isDefined =>
      val (b, o) = lin(a); (b, o + litLong(l).get)
    case DateSub(a, l) if litLong(l).isDefined =>
      val (b, o) = lin(a); (b, o - litLong(l).get)
    case TimestampAddInterval(a, l, _) if litInterval(l).isDefined =>
      val (b, o) = lin(a); (b, o + litInterval(l).get)
    case _ => (e, 0L)
  }

  /** The bucket-arithmetic form of a band base: dates as epoch days,
    * timestamps as epoch micros (matching [[lin]]'s offset units),
    * integrals widened to long. */
  private def asNum(e: Expression): Expression = e.dataType match {
    case DateType => Cast(UnixDate(e), LongType)
    case TimestampType => UnixMicros(e)
    case _ => Cast(e, LongType)
  }

  /** One-sided bound `lBase − rBase ≤ bound` (isUpper) or `≥ bound`,
    * with lBase over `left` and rBase over `right`, both integral and
    * deterministic. */
  private case class Bound(lBase: Expression, rBase: Expression,
      bound: Long, isUpper: Boolean)

  private def boundOf(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Bound] = {
    // a cmp b with strictness adjustment already folded into `adj`
    def mk(a: Expression, b: Expression, adj: Long,
        aLeqB: Boolean): Option[Bound] = {
      val (ab, ao) = lin(a)
      val (bb, bo) = lin(b)
      if (!bandable(ab.dataType) || !bandable(bb.dataType) ||
        !sameKind(ab.dataType, bb.dataType) ||
        !ab.deterministic || !bb.deterministic ||
        ab.references.isEmpty || bb.references.isEmpty) None
      else if (ab.references.subsetOf(left.outputSet) &&
        bb.references.subsetOf(right.outputSet)) {
        // a ≤ b: X − Y ≤ bo − ao − adj ; a ≥ b: X − Y ≥ bo − ao + adj
        if (aLeqB) Some(Bound(ab, bb, bo - ao - adj, isUpper = true))
        else Some(Bound(ab, bb, bo - ao + adj, isUpper = false))
      } else if (ab.references.subsetOf(right.outputSet) &&
        bb.references.subsetOf(left.outputSet)) {
        // a ≤ b with a on the right: X − Y ≥ ao − bo + adj
        if (aLeqB) Some(Bound(bb, ab, ao - bo + adj, isUpper = false))
        else Some(Bound(bb, ab, ao - bo - adj, isUpper = true))
      } else None
    }
    e match {
      case LessThanOrEqual(a, b) => mk(a, b, 0L, aLeqB = true)
      case LessThan(a, b) => mk(a, b, 1L, aLeqB = true)
      case GreaterThanOrEqual(a, b) => mk(a, b, 0L, aLeqB = false)
      case GreaterThan(a, b) => mk(a, b, 1L, aLeqB = false)
      case _ => None
    }
  }

  /** DIFFERENCE-spelled band conjuncts (round 8, second session):
    * `x − y cmp lit` (integrals), `datediff(a, b) cmp lit` (day
    * units), `ts1 − ts2 cmp INTERVAL` (micros), and the `abs(diff) ≤
    * lit` / `< lit` forms of each, in either literal position. Each is
    * REWRITTEN into the equivalent endpoint comparison(s) — `d ≤ L ⟺
    * a ≤ shift(b, L)` with the shift node [[lin]] already strips
    * (Add / DateAdd / TimestampAddInterval) — and fed back through
    * [[boundOf]]'s mk machinery. The synthetic comparisons are
    * ANALYSIS ARTIFACTS only (possibly type-sloppy, e.g. long literal
    * against int column): they exist to be decomposed by lin, never to
    * be evaluated — the rewritten join keeps the user's original
    * condition verbatim. An abs upper bound expands to both one-sided
    * bounds; abs LOWER bounds are disjunctive and not bands. */
  private def diffComparisons(e: Expression): Seq[Expression] = {
    // normalize trailing literal offsets off the difference itself
    // (`x − y − 500 ≤ L` ⟺ `x − y ≤ L + 500`) before matching the
    // subtract node, then fold them into the bound
    def pair(d0: Expression): Option[(Expression, Expression, Long)] = {
      val (d, off) = lin(d0)
      d match {
        case Subtract(a, b, _)
            if integral(a.dataType) && integral(b.dataType) =>
          Some((a, b, off))
        case DateDiff(a, b) => Some((a, b, off))
        case SubtractTimestamps(a, b, _, _)
            if a.dataType == TimestampType &&
              b.dataType == TimestampType => Some((a, b, off))
        case _ => None
      }
    }
    def shifted(b: Expression, l: Long): Expression = b.dataType match {
      case DateType => DateAdd(b, Literal(l))
      case TimestampType =>
        TimestampAddInterval(b, Literal(l, DayTimeIntervalType()))
      case _ => Add(b, Literal(l))
    }
    // the literal's unit must match the difference's kind: day count
    // (int/long) for datediff and integral subtraction, a day-time
    // INTERVAL for timestamp subtraction
    def litFor(d: Expression, l: Expression): Option[Long] =
      lin(d)._1 match {
        case SubtractTimestamps(_, _, _, _) => litInterval(l)
        case _ => litLong(l)
      }
    def cmp(d: Expression, l: Long, upper: Boolean,
        strict: Boolean): Seq[Expression] =
      pair(d).toSeq.map { case (a, b, off) =>
        (upper, strict) match {
          case (true, false) => LessThanOrEqual(a, shifted(b, l - off))
          case (true, true) => LessThan(a, shifted(b, l - off))
          case (false, false) => GreaterThanOrEqual(a, shifted(b, l - off))
          case (false, true) => GreaterThan(a, shifted(b, l - off))
        }
      }
    def absBoth(d: Expression, l: Long, strict: Boolean): Seq[Expression] =
      cmp(d, l, upper = true, strict) ++
        cmp(d, -l, upper = false, strict)
    e match {
      case LessThanOrEqual(Abs(d, _), l) =>
        litFor(d, l).toSeq.flatMap(absBoth(d, _, strict = false))
      case LessThan(Abs(d, _), l) =>
        litFor(d, l).toSeq.flatMap(absBoth(d, _, strict = true))
      case GreaterThanOrEqual(l, Abs(d, _)) =>
        litFor(d, l).toSeq.flatMap(absBoth(d, _, strict = false))
      case GreaterThan(l, Abs(d, _)) =>
        litFor(d, l).toSeq.flatMap(absBoth(d, _, strict = true))
      case LessThanOrEqual(d, l) if pair(d).isDefined =>
        litFor(d, l).toSeq.flatMap(cmp(d, _, upper = true, strict = false))
      case LessThan(d, l) if pair(d).isDefined =>
        litFor(d, l).toSeq.flatMap(cmp(d, _, upper = true, strict = true))
      case GreaterThanOrEqual(d, l) if pair(d).isDefined =>
        litFor(d, l).toSeq.flatMap(cmp(d, _, upper = false, strict = false))
      case GreaterThan(d, l) if pair(d).isDefined =>
        litFor(d, l).toSeq.flatMap(cmp(d, _, upper = false, strict = true))
      case LessThanOrEqual(l, d) if pair(d).isDefined =>
        litFor(d, l).toSeq.flatMap(cmp(d, _, upper = false, strict = false))
      case LessThan(l, d) if pair(d).isDefined =>
        litFor(d, l).toSeq.flatMap(cmp(d, _, upper = false, strict = true))
      case GreaterThanOrEqual(l, d) if pair(d).isDefined =>
        litFor(d, l).toSeq.flatMap(cmp(d, _, upper = true, strict = false))
      case GreaterThan(l, d) if pair(d).isDefined =>
        litFor(d, l).toSeq.flatMap(cmp(d, _, upper = true, strict = true))
      case _ => Nil
    }
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, jt, Some(cond), hint)
        // streaming interval joins ARE bands, but their state cleanup
        // hangs off the raw time-bound conjuncts the watermark analyzer
        // extracted — injecting a bucket key breaks
        // StreamingSymmetricHashJoin's state manager. Spark's native
        // interval join already IS the bounded-state plan there.
        if rewriteable(jt) && !j.isStreaming &&
          !left.output.exists(_.name == bandColName) &&
          !right.output.exists(_.name == bandColName) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val bounds = conjuncts.flatMap(c => boundOf(c, left, right).toSeq ++
        diffComparisons(c).flatMap(boundOf(_, left, right)))
      // first (lBase, rBase) pair bounded from BOTH sides
      val band = bounds.filter(_.isUpper).flatMap { u =>
        val lowers = bounds.filter(b => !b.isUpper &&
          b.lBase.semanticEquals(u.lBase) &&
          b.rBase.semanticEquals(u.rBase))
        if (lowers.isEmpty) None
        else {
          val lo = lowers.map(_.bound).max
          val his = bounds.filter(b => b.isUpper &&
            b.lBase.semanticEquals(u.lBase) &&
            b.rBase.semanticEquals(u.rBase)).map(_.bound)
          Some((u.lBase, u.rBase, lo, his.min))
        }
      }.find { case (_, _, lo, hi) => hi >= lo }
      val hasEqui = conjuncts.exists(isEqui(_, left, right))
      val bcastable = broadcastable(left, right)
      // an equi conjunct that CONTAINS a band base (e.g. the manual
      // `ts div T` bucket key q261 builds by hand) means the query is
      // already blocked on this band — a second bucket key would only
      // double the probe side. The manual bucket usually reaches the
      // join as a materialized attribute, so expand equi expressions
      // through child Project aliases before the containment check.
      lazy val aliasMap: AttributeMap[Expression] = AttributeMap(
        (left.collect { case Project(pl, _) => pl } ++
          right.collect { case Project(pl, _) => pl })
          .flatten.collect { case a: Alias => a.toAttribute -> a.child })
      def expand(e: Expression): Expression = {
        var cur = e
        var i = 0
        while (i < 4 && cur.exists {
          case a: Attribute => aliasMap.contains(a)
          case _ => false
        }) {
          cur = cur.transformUp {
            case a: Attribute if aliasMap.contains(a) => aliasMap(a)
          }
          i += 1
        }
        cur
      }
      // compare in the fully-expanded normal form on BOTH sides:
      // expansion rewrites the band base itself (p_ts → the arithmetic
      // that defined it), so the raw attribute would never be found
      def alreadyBlocked(x: Expression, y: Expression): Boolean = {
        val (ex, ey) = (expand(x), expand(y))
        def hits(a: Expression, b: Expression): Boolean =
          Seq(a, b).map(expand).exists(e =>
            e.exists(_.semanticEquals(ex)) ||
              e.exists(_.semanticEquals(ey)))
        conjuncts.exists {
          case EqualTo(a, b) => hits(a, b)
          case EqualNullSafe(a, b) => hits(a, b)
          case _ => false
        }
      }
      // interval-overlap arm: two bounds over DIFFERENT base pairs
      // forming L.start ≤ R.end ∧ R.start ≤ L.end (offsets folded into
      // the endpoints); INNER / LEFT SEMI / LEFT ANTI / LEFT OUTER,
      // neither side broadcastable
      lazy val interval: Option[LogicalPlan] =
        if (bcastable || band.isDefined) None
        else {
          // any (upper, lower) cross-pair is CORRECT (the canonical-
          // point proof is generic), but tiling quality follows the
          // picked endpoints — an `id < id2` antisymmetry tiebreaker
          // also parses as an upper bound, and tiling id-spans explodes
          // (row counts, not interval widths). The rule never GUESSES:
          // it fires only when exactly ONE endpoint quadruple remains
          // after the kind checks (a DATE-interval overlap next to an
          // integral tiebreaker stays unique because the kinds cannot
          // cross; all-integral conditions with extra bounds stand
          // down — a post-join filter does NOT steer, pushdown folds it
          // back into the condition; apply tiebreakers after the join
          // results materialize, or use DATE/TIMESTAMP endpoints).
          // Repeated bounds over the SAME quadruple keep the tightest.
          val cands = bounds.filter(_.isUpper).flatMap { u =>
            bounds.filter(l => !l.isUpper &&
              !(l.lBase.semanticEquals(u.lBase) &&
                l.rBase.semanticEquals(u.rBase)) &&
              sameKind(u.lBase.dataType, l.lBase.dataType) &&
              sameKind(u.rBase.dataType, l.rBase.dataType) &&
              sameKind(u.lBase.dataType, l.rBase.dataType))
              .map(l => (u, l))
          }
          val byQuad = cands.groupBy { case (u, l) =>
            (u.lBase.canonicalized, u.rBase.canonicalized,
              l.lBase.canonicalized, l.rBase.canonicalized)
          }
          val pick =
            if (byQuad.size != 1) None
            else {
              val quad = byQuad.head._2
              Some((quad.map(_._1).minBy(_.bound),
                quad.map(_._2).maxBy(_.bound)))
            }
          pick.map { case (u, l) =>
            // L = [Ls − u, Le − v] over left, R = [Rs, Re] over right
            val lStart = Subtract(asNum(u.lBase), Literal(u.bound))
            val lEnd = Subtract(asNum(l.lBase), Literal(l.bound))
            val rStart = asNum(l.rBase)
            val rEnd = asNum(u.rBase)
            // tile width: an EXPLICIT conf pins a static literal on
            // both sides; UNSET (the default since r10) derives the
            // width from the data itself — see [[adaptiveBin]]
            // conf parsing is LENIENT (the srpjoin doctrine): trimmed,
            // blank/non-numeric falls back to adaptive instead of
            // throwing NumberFormatException from inside the optimizer
            val (leftBase, rightBase, bLe, bRe) =
              scala.util.Try(
                conf.getConfString(intervalBinKey, "").trim.toLong)
                .toOption match {
                case None => adaptiveBin(left, lStart, lEnd,
                  right, rStart, rEnd, binFor(u.lBase.dataType, 64L))
                case Some(v) =>
                  val b = Literal(binFor(u.lBase.dataType, v))
                  (left, right, b: Expression, b: Expression)
              }
            def fdiv(v: Expression, b: Expression): Expression =
              IntegralDivide(Subtract(v, Pmod(v, b)), b)
            def lo(s: Expression, e: Expression, b: Expression) =
              fdiv(Least(Seq(s, e)), b)
            def hi(s: Expression, e: Expression, b: Expression) =
              fdiv(Greatest(Seq(s, e)), b)
            def tiles(s: Expression, e: Expression,
                b: Expression): Expression =
              // Sequence is TimeZoneAware — leaving the zone empty makes
              // the generated plan unresolved even for Long sequences
              Sequence(lo(s, e, b), hi(s, e, b),
                Some(Literal(1L)), Some(conf.sessionLocalTimeZone))
            val outR = AttributeReference(bandColName, LongType)()
            val newRight = Generate(Explode(tiles(rStart, rEnd, bRe)),
              Nil, outer = false, None, Seq(outR), rightBase)
            // canonical tile: max(Lstart, Rstart) lies in both spans
            // for every qualifying pair → exactly-once, no dedup
            def leftGen(child: LogicalPlan)
                : (LogicalPlan, Attribute, Attribute) = {
              val pos = AttributeReference(bandColName + "_i",
                IntegerType, nullable = false)()
              val outL = AttributeReference(bandColName, LongType)()
              (Generate(PosExplode(tiles(lStart, lEnd, bLe)),
                Nil, outer = false, None, Seq(pos, outL), child),
                pos, outL)
            }
            // the canonical recomputes the tile with the LEFT side's
            // width copy — both copies are value-identical by
            // adaptiveBin's determinism argument
            def canonOf(outL: Attribute): Expression =
              EqualTo(outL, fdiv(Greatest(Seq(lStart, rStart)), bLe))
            jt match {
              case Inner =>
                val (newLeft, _, outL) = leftGen(leftBase)
                val newCond =
                  And(And(EqualTo(outL, outR), canonOf(outL)), cond)
                Project(j.output,
                  Join(newLeft, newRight, Inner, Some(newCond), hint))
              case LeftSemi =>
                // any shared tile qualifies — no canonical residual
                // needed, the rid regroup dedups
                val (leftW, rid) = RewriteSupport.withRid(leftBase)
                val (newLeft, _, outL) = leftGen(leftW)
                val joined = Join(newLeft, newRight, LeftSemi,
                  Some(And(EqualTo(outL, outR), cond)), hint)
                RewriteSupport.regroupSemi(joined, rid, left.output,
                  j.output)
              case LeftAnti =>
                // variable fan-out: each row records its own tile count;
                // it qualifies iff ALL its tile copies found nothing
                val (leftW0, rid) = RewriteSupport.withRid(leftBase)
                val ntA = Alias(Add(Subtract(hi(lStart, lEnd, bLe),
                  lo(lStart, lEnd, bLe)), Literal(1L)),
                  bandColName + "_n")()
                val leftW = Project(leftW0.output :+ ntA, leftW0)
                val (newLeft, _, outL) = leftGen(leftW)
                val joined = Join(newLeft, newRight, LeftAnti,
                  Some(And(EqualTo(outL, outR), cond)), hint)
                RewriteSupport.regroupAntiCol(joined, rid, left.output,
                  j.output, ntA.toAttribute)
              case _ => // LeftOuter
                // matched rows are exactly-once (canonical tile);
                // match-free rids keep the pos=0 representative
                val (leftW, rid) = RewriteSupport.withRid(leftBase)
                val (newLeft, pos, outL) = leftGen(leftW)
                val newCond =
                  And(And(EqualTo(outL, outR), canonOf(outL)), cond)
                val joined = Join(newLeft, newRight, LeftOuter,
                  Some(newCond), hint)
                RewriteSupport.collapseOuter(joined, rid, outR,
                  EqualTo(pos, Literal(0)), j.output)
            }
          }
        }
      band match {
        case Some((x, y, lo, hi))
            if !(hasEqui && bcastable) && !alreadyBlocked(x, y) =>
          val b = Literal(math.max(hi - lo, 1L))
          def fdiv(v: Expression): Expression =
            IntegralDivide(Subtract(v, Pmod(v, b)), b)
          val bkR = Alias(fdiv(asNum(y)), bandColName + "_r")()
          val newRight = Project(right.output :+ bkR, right)
          val xAdj = Subtract(asNum(x), Literal(lo))
          val probe = fdiv(xAdj)
          jt match {
            case Inner =>
              val out = AttributeReference(bandColName, LongType)()
              val newLeft = Generate(
                Explode(CreateArray(Seq(probe,
                  Subtract(probe, Literal(1L))))),
                Nil, outer = false, None, Seq(out), left)
              val newCond = And(EqualTo(out, bkR.toAttribute), cond)
              Project(j.output,
                Join(newLeft, newRight, Inner, Some(newCond), hint))
            case LeftSemi | LeftAnti =>
              // per-left-row semantics — row id + collapse
              // (RewriteSupport doctrine). The two probe buckets are
              // distinct by construction, so the anti count is exactly 2.
              val (leftW, rid) = RewriteSupport.withRid(left)
              val out = AttributeReference(bandColName, LongType)()
              val newLeft = Generate(
                Explode(CreateArray(Seq(probe,
                  Subtract(probe, Literal(1L))))),
                Nil, outer = false, None, Seq(out), leftW)
              val newCond = And(EqualTo(out, bkR.toAttribute), cond)
              val joined = Join(newLeft, newRight, jt, Some(newCond), hint)
              if (jt == LeftSemi)
                RewriteSupport.regroupSemi(joined, rid, left.output,
                  j.output)
              else
                RewriteSupport.regroupAnti(joined, rid, left.output,
                  j.output, nSeg = 2)
            case _ => // LeftOuter
              // matched rows are exactly-once already (distinct probe
              // buckets); unmatched left rows keep one null-extended
              // representative — the idx=0 probe (collapseOuter). The
              // generated right bucket key is the null-on-unmatched
              // marker: it is non-null on every real match because the
              // equi-key rejects nulls.
              val (leftW, rid) = RewriteSupport.withRid(left)
              val probes = Seq(probe, Subtract(probe, Literal(1L)))
              val structs = probes.zipWithIndex.map { case (p, i) =>
                CreateNamedStruct(Seq(Literal("idx"), Literal(i),
                  Literal("bkt"), p))
              }
              val out = AttributeReference(bandColName,
                StructType(Seq(
                  StructField("idx", IntegerType, nullable = false),
                  StructField("bkt", LongType))))()
              val newLeft = Generate(Explode(CreateArray(structs)),
                Nil, outer = false, None, Seq(out), leftW)
              val idxL = GetStructField(out, 0, Some("idx"))
              val bktL = GetStructField(out, 1, Some("bkt"))
              val newCond = And(EqualTo(bktL, bkR.toAttribute), cond)
              val joined = Join(newLeft, newRight, LeftOuter,
                Some(newCond), hint)
              RewriteSupport.collapseOuter(joined, rid, bkR.toAttribute,
                EqualTo(idxL, Literal(0)), j.output)
          }
        case _ => interval.getOrElse(j)
      }
  }

  private val intervalBinKey = "spark.graft.band.intervalBin"

  /** Interval-overlap tile width in the key's numeric space:
    * `spark.graft.band.intervalBin` base units (days for DATE, DAYS for
    * TIMESTAMP too — converted to micros, the asNum unit — raw units
    * for integrals). Replication per row is span⁄B + 1. Used when the
    * conf is EXPLICITLY set, and as the empty-input fallback of the
    * adaptive path. */
  private def binFor(dt: DataType, v: Long): Long = {
    val base = math.max(1L, v)
    dt match {
      case TimestampType => base * 86400000000L
      case _ => base
    }
  }

  /** `(left', right', bLeft, bRight)`: each side cross-joined with a
    * broadcast 1-ROW tile width derived from the data — used when
    * `spark.graft.band.intervalBin` is UNSET (since r10 the default).
    * A static width has no right value: event/session corpora are
    * heavy-tailed, and a bin far below the typical span fans every
    * long interval into span⁄B tiles while a bin far above it piles
    * rows into few buckets and the verify term goes bucket-quadratic.
    * The derived width is `2^round(mean(floor(log₂(span))))` over BOTH
    * sides' spans — the geometric mean of spans rounded to a power of
    * two, log-damped against exactly that heavy tail.
    *
    * Soundness (the GlobalRankRewrite boundary doctrine): every step
    * is a DETERMINISTIC, ORDER-INDEPENDENT function of the data SET —
    * exact integral Sum/Count (no fp accumulation; log₂ is applied
    * per VALUE before the sum, and a pure function of a Long is stable
    * regardless of partitioning), so the two broadcast copies (one per
    * side, distinct exprIds over the shared aggregate subtree) agree
    * even if executed separately — the tile keys they feed can never
    * diverge. And the width only shapes the PLAN: any B produces
    * identical results (the kept original condition verifies every
    * candidate), so data-derived width does not violate the
    * firing-is-pure-(query, conf) doctrine — firing itself still is.
    * Σ floor(log₂(span)) ≤ 63·n, so the sum cannot overflow below
    * ~1.4e17 rows. Empty inputs fall back to the static default. */
  private def adaptiveBin(left: LogicalPlan,
      lS: Expression, lE: Expression, right: LogicalPlan,
      rS: Expression, rE: Expression, dflt: Long)
      : (LogicalPlan, LogicalPlan, Expression, Expression) = {
    def spanBkt(s: Expression, e: Expression): Expression =
      Cast(Floor(Log2(Cast(Greatest(Seq(Literal(1L),
        Add(Subtract(Greatest(Seq(s, e)), Least(Seq(s, e))),
          Literal(1L)))), DoubleType))), LongType)
    def agg(child: LogicalPlan, s: Expression, e: Expression,
        tag: String) = {
      val w = Alias(AggregateExpression(Sum(spanBkt(s, e)), Complete,
        isDistinct = false), s"graft_band_w$tag")()
      val n = Alias(AggregateExpression(Count(Seq(Literal(1))), Complete,
        isDistinct = false), s"graft_band_c$tag")()
      (Aggregate(Nil, Seq(w, n), child), w.toAttribute, n.toAttribute)
    }
    val (aL, wL, nL) = agg(left, lS, lE, "l")
    val (aR, wR, nR) = agg(right, rS, rE, "r")
    // both sides are 1-row aggregates; the hint keeps the 1×1 combine
    // off CartesianProduct even under autoBroadcastJoinThreshold = -1
    val comb = Join(aL, aR, Cross, None,
      JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
    val n = Add(nL, nR)
    val w = Add(Coalesce(Seq(wL, Literal(0L))),
      Coalesce(Seq(wR, Literal(0L))))
    // round-half-up mean exponent, clamped to [0, 40]; If guards the
    // n = 0 division (ANSI throws on ÷0, and If is lazy per branch)
    val ex = Cast(Least(Seq(Literal(40L), Greatest(Seq(Literal(0L),
      IntegralDivide(Add(w, IntegralDivide(n, Literal(2L))), n))))),
      IntegerType)
    val bVal = If(LessThanOrEqual(n, Literal(0L)), Literal(dflt),
      ShiftLeft(Literal(1L), ex))
    def attach(child: LogicalPlan, tag: String)
        : (LogicalPlan, Expression) = {
      val a = Alias(bVal, s"graft_band_b$tag")()
      (Join(child, Project(Seq(a), comb), Cross, None,
        JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST))))),
        a.toAttribute)
    }
    val (lB, bL) = attach(left, "l")
    val (rB, bR) = attach(right, "r")
    (lB, rB, bL, bR)
  }
}
