package graft.plans

import graft.functions.{DotProduct, SrpSignature}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import scala.util.Try

/** Optimizer rule (OPT-IN, default OFF): plan a naive COSINE /
  * INNER-PRODUCT theta join on embedding columns
  *
  *   a.join(b, graft_dot(a("v"), b("v")) >= tau && ...)
  *   a.join(b, graft_dot(av, bv) / (sqrt(graft_dot(av, av)) *
  *             sqrt(graft_dot(bv, bv))) >= tau && ...)
  *
  * through signed-random-projection blocking — the q260 hand-built
  * SRP-LSH construction promoted to an engine capability, the eighth
  * member of the blocking family.
  *
  * UNLIKE the other seven rules, THIS REWRITE IS APPROXIMATE, and that
  * is a theorem, not a shortcut: a sub-quadratic EXACT plan for
  * `dot(a, b) ≥ τ` over arbitrary dense real vectors would solve exact
  * maximum inner product search in sub-quadratic time — no pigeonhole
  * exists because a single coordinate can carry the whole product.
  * SRP gives the standard probabilistic contract (Charikar 2002 /
  * Goemans–Williamson): P[sig bit p differs] = θ/π for angle θ, so a
  * high-cosine pair's signatures land within a small hamming ball
  * WITH HIGH PROBABILITY, not certainly. The rewrite therefore:
  *
  *   - NEVER fires by default. `spark.graft.srpjoin.segments = 0`
  *     (off) keeps every query exact; the rule only rewrites when the
  *     user sets segments m ∈ [2, 8] — an explicit, documented opt-in
  *     to `recall < 1`.
  *   - When ON, ANDs `bit_count(sig_l XOR sig_r) ≤ m − 1` into the
  *     join condition, keeping the ORIGINAL condition verbatim: the
  *     result is exactly { pairs | original ∧ hamming ≤ m−1 } — a
  *     DETERMINISTIC subset (seeded md5 hyperplanes, sequential-fold
  *     sign dots), reproducible across runs, engines (the DuckDB
  *     oracle recomputes identical signatures — [[SrpSignature]]
  *     parity contract), and cluster sizes. For INNER and LEFT SEMI,
  *     precision is exact (the residual verifies every candidate);
  *     only recall is < 1. For LEFT ANTI and LEFT OUTER the
  *     approximation INVERTS direction: a recall miss on the match
  *     set ADDS spurious output — an anti join KEEPS a left row whose
  *     only matches were missed (e.g. decontamination retains a
  *     contaminated document), and an outer join null-extends a row
  *     that had a true match. The contract set
  *     { pairs | original ∧ hamming ≤ m−1 } is still exactly what is
  *     computed — deterministic and oracle-reproducible — but users
  *     opting in for anti/outer shapes are accepting extra rows, not
  *     missing ones (q343 pins this direction deliberately).
  *   - Delegates the blocking to [[HammingJoinBlocking]]: the added
  *     bound is precisely that rule's scalar spelling, so the next
  *     fixed-point iteration plans the (m-segment pigeonhole)
  *     equi-join with all of its inner/semi/anti/outer machinery and
  *     its exactly-once canonical — this rule only manufactures the
  *     bound and the per-side signature projections.
  *
  * Recall tuning (the contract the spec pins numerically): miss
  * probability per pair ≈ C(w, ≥m) over per-bit flip prob θ/π with
  * w = `spark.graft.srpjoin.bits` sig bits — at τ = 0.95
  * (θ/π ≈ 0.102), w = 24, m = 3: P[miss] ≈ 2.3%; raising m widens the
  * ball (more recall, more candidates), raising w sharpens selectivity
  * at fixed m∕w. `spark.graft.srpjoin.seed` namespaces the hyperplanes.
  *
  * Spellings: `graft_dot(a, b) cmp τ` ([[DotProduct]]), the HOF
  * sum-product `aggregate(zip_with(a, b, *), 0.0, +)`, and the cosine
  * quotient `dot(a,b) ∕ (sqrt(dot(a,a)) · sqrt(dot(b,b)))` (norm
  * factors in either order); τ a literal (casts stripped) with τ > 0 —
  * a non-positive bound admits near-orthogonal pairs, where angular
  * blocking has no selectivity and the miss model is void. Raw-dot
  * bounds carry one further caveat the user owns by opting in: SRP
  * blocks by ANGLE, so high-dot pairs reached via large NORMS at
  * middling angles miss more often — the contract is calibrated for
  * normalized or near-normalized embeddings (the cosine spelling is
  * norm-free). Setting `spark.graft.srpjoin.maxNorm = M` (stats
  * supplied out-of-band, the stopTokens doctrine) composes a NORM
  * BAND into raw-dot contracts: dot ≥ τ ∧ ‖·‖ ≤ M implies
  * |‖a‖−‖b‖| ≤ M − τ/M, so the rule ANDs the milli-scaled band
  * `|⌊1000‖a‖⌋ − ⌊1000‖b‖⌋| ≤ K` (+1 floor slack) and
  * [[BandJoinBlocking]] tiles it alongside the hamming segments —
  * pruning exactly the large-norm candidate mass, which buys a wider
  * hamming ball (m+1) at the same candidate budget: more recall, same
  * cost (measured by `ScaleLaw SrpNormBand`). If M truly
  * bounds the norms the band costs zero recall (theorem above); if it
  * does not, the contract is still exactly the deterministic,
  * oracle-reproducible {original ∧ ham ∧ band} set.
  *
  * Stand-downs: conf off (the default), non-literal or ≤ 0 bounds,
  * mixed-side operands, streaming joins. Deliberately NOT the
  * family's equi+broadcastable doctrine: this rule changes RESULT
  * semantics, so its firing decision must be a pure function of
  * (query, conf) — never of size statistics, which vary across
  * scales, runs, and composition order (a sibling blocking rule's
  * generated bucket key must not flip the contract off). Plan-shape
  * adaptation stays where it belongs: [[HammingJoinBlocking]] still
  * applies ITS stand-down to the manufactured bound, so an
  * equi-keyed broadcastable join keeps the hash-join shape with the
  * signature gate as a residual — same contract result, best plan.
  */
object CosineJoinBlocking extends Rule[LogicalPlan]
    with BlockingJoinSupport {

  private val sigLName = "graft_csigl"
  private val sigRName = "graft_csigr"
  private val nrmLName = "graft_cnrml"
  private val nrmRName = "graft_cnrmr"

  private def litTau(e: Expression): Option[Double] = stripCast(e) match {
    case Literal(d: Double, DoubleType) => Some(d)
    case Literal(f: Float, FloatType) => Some(f.toDouble)
    case Literal(d: Decimal, _) => Some(d.toDouble)
    case Literal(k: Int, IntegerType) => Some(k.toDouble)
    case Literal(k: Long, LongType) => Some(k.toDouble)
    case _ => None
  }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def sameVar(e: Expression, v: NamedLambdaVariable): Boolean =
    stripCast(e) match {
      case n: NamedLambdaVariable => n.exprId == v.exprId
      case _ => false
    }

  /** `(a, b)` when `e` is a dot product in either the native
    * [[DotProduct]] form or the HOF sum-product
    * `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0,
    * (acc, v) -> acc + v)` (casts tolerated, args in either order,
    * identity finish — the [[graft.functions.Vectors.dotHof]]
    * spelling). */
  private def dotPair(e: Expression): Option[(Expression, Expression)] =
    stripCast(e) match {
      case DotProduct(a, b) => Some((a, b))
      case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(zbody,
            Seq(xv: NamedLambdaVariable, yv: NamedLambdaVariable), _)),
          zero,
          LambdaFunction(mbody,
            Seq(acc: NamedLambdaVariable, mv: NamedLambdaVariable), _),
          finish) =>
        val okZip = stripCast(zbody) match {
          case Multiply(p, q, _) =>
            (sameVar(p, xv) && sameVar(q, yv)) ||
              (sameVar(p, yv) && sameVar(q, xv))
          case _ => false
        }
        val okZero = zero match {
          case Literal(0.0, DoubleType) => true
          case _ => false
        }
        val okMerge = stripCast(mbody) match {
          case Add(p, q, _) =>
            (sameVar(p, acc) && sameVar(q, mv)) ||
              (sameVar(p, mv) && sameVar(q, acc))
          case _ => false
        }
        val okFinish = finish match {
          case LambdaFunction(fb, Seq(fv: NamedLambdaVariable), _) =>
            sameVar(fb, fv)
          case _ => false
        }
        if (okZip && okZero && okMerge && okFinish) Some((a, b))
        else None
      case _ => None
    }

  /** `x` is `sqrt(dot(y, y))` for some `y` — a norm factor. */
  private def normOf(x: Expression): Option[Expression] =
    stripCast(x) match {
      case Sqrt(d) => dotPair(d).collect {
        case (p, q) if p.semanticEquals(q) => p
      }
      case _ => None
    }

  /** The similarity's `(a, b)` when `x` is a dot product or a cosine
    * quotient whose norm factors match the numerator's operands. */
  private def simPair(x: Expression): Option[(Expression, Expression)] =
    dotPair(x).orElse(stripCast(x) match {
      case Divide(num, den, _) =>
        for {
          (a, b) <- dotPair(num)
          norms <- stripCast(den) match {
            case Multiply(l, r, _) =>
              for { nl <- normOf(l); nr <- normOf(r) } yield (nl, nr)
            case _ => None
          }
          if (norms._1.semanticEquals(a) && norms._2.semanticEquals(b)) ||
            (norms._1.semanticEquals(b) && norms._2.semanticEquals(a))
        } yield (a, b)
      case _ => None
    })

  /** One matched similarity bound: the oriented `(a, b)` plus, for
    * the RAW-DOT spelling only, the literal τ — the norm-band
    * composition needs it (a cosine quotient's norms cancel, so no
    * norm bound is implied there and `rawTau` stays None). */
  private case class SimBound(a: Expression, b: Expression,
      rawTau: Option[Double])

  /** One matched similarity bound — `sim(a, b) ≥ τ` with τ > 0, or
    * the DISTANCE spelling `1 − sim(a, b) ≤ δ` with δ < 1 (⟺ sim ≥
    * 1 − δ > 0 — the "cosine distance below δ" form near-dup
    * pipelines write); each in all four comparison directions,
    * oriented left/right. The bound value never affects the hamming
    * ball (the ball size is conf), so the δ↔τ conversion needs no FP
    * care beyond the positivity gate; only the raw-dot τ is kept, for
    * the norm band. */
  private def boundOf(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[SimBound] = {
    def eligible(x: Expression, tau: Option[Double]): Option[SimBound] =
      for {
        (a, b) <- simPair(x)
        if isDoubleArray(a) && isDoubleArray(b)
        oriented <- orient(a, b, left, right)
      } yield SimBound(oriented._1, oriented._2,
        if (dotPair(stripCast(x)).isDefined) tau else None)
    def simArm(x: Expression, l: Expression): Option[SimBound] =
      litTau(l).filter(_ > 0.0).flatMap(t => eligible(x, Some(t)))
    // `1 − sim(a, b)` with the literal 1 (casts tolerated); the inner
    // sim is a quotient in every distance pipeline, but even a raw
    // `1 − dot` spelling implies dot ≥ 1 − δ, so the converted τ is
    // passed through
    def distArm(x: Expression, l: Expression): Option[SimBound] =
      litTau(l).filter(_ < 1.0).flatMap { d =>
        stripCast(x) match {
          case Subtract(one, inner, _) if litTau(one).contains(1.0) =>
            eligible(inner, Some(1.0 - d))
          case _ => None
        }
      }
    e match {
      case GreaterThanOrEqual(x, l) => simArm(x, l).orElse(distArm(l, x))
      case GreaterThan(x, l) => simArm(x, l).orElse(distArm(l, x))
      case LessThanOrEqual(l, x) => simArm(x, l).orElse(distArm(l, x))
      case LessThan(l, x) => simArm(x, l).orElse(distArm(l, x))
      case _ => None
    }
  }

  /** milli-scaled norm: `floor(1000 · √(v·v))` as a Long — a pure
    * per-value IEEE function, identical on every executor and engine
    * (the DuckDB oracle recomputes it verbatim). */
  private def normMilli(v: Expression): Expression =
    Cast(Floor(Multiply(Sqrt(DotProduct(v, v)), Literal(1000.0))),
      LongType)

  def apply(plan: LogicalPlan): LogicalPlan = {
    val m = Try(conf.getConfString("spark.graft.srpjoin.segments", "0")
      .trim.toInt).getOrElse(0)
    val bits = Try(conf.getConfString("spark.graft.srpjoin.bits", "24")
      .trim.toInt).getOrElse(24)
    val seed = conf.getConfString("spark.graft.srpjoin.seed", "graft")
    val maxNorm = Try(conf.getConfString("spark.graft.srpjoin.maxNorm",
      "").trim.toDouble).toOption.filter(_ > 0.0)
    if (m < 2 || m > 8 || bits < m || bits > 63 ||
      !seed.matches("[A-Za-z0-9_.-]+")) plan
    else plan.transform {
      case j @ Join(left, right, jt, Some(cond), hint)
          if rewriteable(jt) && !j.isStreaming &&
            !(left.output ++ right.output).exists(a =>
              a.name == sigLName || a.name == sigRName ||
                a.name == nrmLName || a.name == nrmRName) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val pair = conjuncts.flatMap(c => boundOf(c, left, right))
          .headOption
        pair match {
          case Some(SimBound(a, b, rawTau)) =>
            val sl = Alias(SrpSignature(a, bits, seed), sigLName)()
            val sr = Alias(SrpSignature(b, bits, seed), sigRName)()
            // NORM-BAND composition (raw-dot bounds + opt-in maxNorm
            // conf M): dot ≥ τ ∧ ‖·‖ ≤ M ⇒ both norms ∈ [τ/M, M] ⇒
            // |‖a‖−‖b‖| ≤ M − τ/M — SRP blocks by ANGLE only, so the
            // band prunes the large-norm/middling-angle candidates the
            // documented raw-dot caveat names. In milli-units with a
            // +1 floor slack the implication is exact whenever M truly
            // bounds the norms; M is user-supplied stats (the
            // stopTokens doctrine) and the CONTRACT stays exactly
            // {original ∧ ham ≤ m−1 ∧ band} — deterministic and
            // oracle-reproducible regardless of whether M was right.
            // τ > M² admits no pairs through dot ≤ ‖a‖‖b‖ ≤ M²; the
            // rule still only gates, never rejects, so that corner
            // just keeps the band (width < 0 ⇒ K could go negative —
            // clamped to 0, the tightest honest band).
            val band = for {
              tau <- rawTau; mx <- maxNorm
            } yield {
              val k = math.max(0L,
                math.floor(1000.0 * (mx - tau / mx)).toLong + 1L)
              (Alias(normMilli(a), nrmLName)(),
                Alias(normMilli(b), nrmRName)(), k)
            }
            // the band's correctness rests on M truly bounding the
            // norms — a wrong stats value silently drops true pairs
            // even for INNER joins, so firing is always loud
            band.foreach { case (_, _, k) =>
              if (k == 0L)
                logWarning("graft SRP norm-band clamps to K=0 " +
                  "(tau > maxNorm^2 admits no pairs): if " +
                  "spark.graft.srpjoin.maxNorm understates the true " +
                  "max vector norm, qualifying pairs are dropped")
              else
                logWarning(s"graft SRP norm-band active (K=$k " +
                  "milli-units): exact only if " +
                  "spark.graft.srpjoin.maxNorm bounds every vector norm")
            }
            val nl = Project(left.output ++ (sl +: band.map(_._1).toSeq),
              left)
            val nr = Project(right.output ++ (sr +: band.map(_._2).toSeq),
              right)
            // the contract conjunct — exactly HammingJoinBlocking's
            // scalar spelling; the next fixed-point iteration plans
            // the m-segment pigeonhole equi-join from it (and
            // BandJoinBlocking tiles the norm band the same way —
            // the q345 composition path)
            val ham = LessThanOrEqual(
              BitwiseCount(BitwiseXor(sl.toAttribute, sr.toAttribute)),
              Literal(m - 1))
            val cond2 = band match {
              case Some((bl, br, k)) =>
                And(ham, And(LessThanOrEqual(
                  Abs(Subtract(bl.toAttribute, br.toAttribute)),
                  Literal(k)), cond))
              case None => And(ham, cond)
            }
            Project(j.output, Join(nl, nr, jt, Some(cond2), hint))
          case _ => j
        }
    }
  }
}
