package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: rewrite a naive SET-SIMILARITY theta join into a
  * prefix-filtered token EQUI-join — the SSJoin/PPJoin prefix filter
  * (Chaudhuri, Ganti & Kaushik, ICDE 2006; Xiao, Wang, Lin & Yu, WWW
  * 2008) promoted to an engine capability, and the q65/q107 manual
  * construction the engine now owns. A user WRITES the natural plan
  *
  *   a.join(b, try_divide(size(array_intersect(ta, tb)),
  *               size(array_union(ta, tb))) >= 0.6 && ...)    // Jaccard
  *   a.join(b, size(array_intersect(ta, tb)) >=
  *               0.6 * size(array_union(ta, tb)) && ...)      // ÷-free
  *   a.join(b, size(array_intersect(ta, tb)) >= 3 && ...)     // overlap
  *
  * and the engine plans candidate generation linearly instead of
  * |L|·|R| intersect/union evaluations.
  *
  * Prefix-filter lemma (value order, no frequency statistics needed):
  * sort each side's DISTINCT tokens by their natural order; if
  * |X∩Y| ≥ α ≥ 1, then e = min(X∩Y) sits inside BOTH prefixes of
  * length |X|−α+1 and |Y|−α+1. Proof: every element of X smaller than
  * e is outside X∩Y (e is the minimum), so if e fell beyond X's
  * prefix, X would hold ≥ |X|−α+1 non-shared elements — but it has at
  * most |X|−α. Contradiction; symmetric for Y. So candidates meet on
  * a prefix token, and the MINIMAL shared token is itself a guaranteed
  * meeting point — the canonical residual
  * `token = array_min(array_intersect(a, b))` keeps every qualifying
  * pair EXACTLY once (bag semantics, no dedup pass) while the ORIGINAL
  * condition (kept verbatim, so user equi keys compose) re-verifies
  * the exact similarity.
  *
  * Per-side α (must lower-bound |X∩Y| for EVERY qualifying partner):
  *   - overlap ≥ t: α = t (literal);
  *   - Jaccard ≥ s: |X∩Y| ≥ s·|X∪Y| ≥ s·|X|, so
  *     α = max(1, ⌈s·|X| − ε⌉) with ε = 1e−9 — the epsilon guards the
  *     FP product landing a hair above an exact integer (0.8·5 →
  *     4.0000000000000002, whose ceil would shorten the prefix below
  *     the lemma's requirement and silently drop pairs); erring low
  *     only lengthens the prefix (more candidates, never fewer).
  *
  * Eligibility: array columns with NON-NULLABLE elements of one atomic
  * type on both sides (`containsNull = false` — a null element would
  * break both the value-order prefix and the array_min canonical;
  * provable at plan time from the array type), threshold s ∈ (0, 1]
  * (s ≤ 0 is not a similarity join — disjoint pairs qualify) or t ≥ 1.
  * Duplicate-laden inputs are fine: prefixes come from
  * sort_array(array_distinct(x)) and intersect/union are set ops
  * either way. Stand-downs: the [[HammingJoinBlocking]] doctrine (user
  * equi conjuncts + a broadcastable side), streaming joins.
  *
  * LEFT SEMI / LEFT ANTI / LEFT OUTER collapse to left grain per
  * [[RewriteSupport]] with OUTER explode (a row whose prefix is empty
  * still yields one null-token row, which no equi key matches): semi =
  * one group per matched rid; anti = all its explode rows survived
  * (per-row variable fan-out via [[RewriteSupport.regroupAntiCol]]);
  * outer keeps the canonical residual plus one representative
  * (`token <=> sorted_distinct[1]`) for match-free rids. Fuzzy-set
  * semi/anti are the token-level decontamination shapes.
  *
  * Two degenerate spellings ride the same machinery (round 8, second
  * session): `arrays_overlap(a, b)` is the overlap join at α = 1
  * (full sorted-distinct explode — under non-nullable elements its
  * null-vs-false corner cannot arise), and the MEMBERSHIP join
  * `array_contains(arr, v)` with the scalar on the other child
  * explodes only the array side with `token = v` as the equi key — a
  * pair meets through at most one distinct element, so no canonical
  * is needed, and with the array on the RIGHT of a left
  * semi/anti/outer join the left grain is untouched and no regroup is
  * needed either.
  */
object SetSimilarityJoinBlocking extends Rule[LogicalPlan]
    with BlockingJoinSupport {

  private val arrColName = "graft_ssa"
  private val tokColName = "graft_sst"
  private val posColName = "graft_ssp"
  private val cntColName = "graft_ssn"
  private val markColName = "graft_ssm"

  private def interPair(e: Expression): Option[(Expression, Expression)] =
    stripCast(e) match {
      case Size(ArrayIntersect(a, b), _) => Some((a, b))
      case _ => None
    }

  private def unionPair(e: Expression): Option[(Expression, Expression)] =
    stripCast(e) match {
      case Size(ArrayUnion(a, b), _) => Some((a, b))
      case _ => None
    }

  private def samePairs(p: (Expression, Expression),
      q: (Expression, Expression)): Boolean =
    (p._1.semanticEquals(q._1) && p._2.semanticEquals(q._2)) ||
      (p._1.semanticEquals(q._2) && p._2.semanticEquals(q._1))

  /** Integral threshold literal, casts stripped — the analyzer may
    * wrap the user's literal to unify comparison types. Stripping is
    * value-faithful here: only int/long literals are accepted after
    * the strip, and a widening cast of those never changes the
    * compared value (a narrowing cast's operand is a non-integral
    * literal, which the match rejects). */
  private def litInt(e: Expression): Option[Int] = stripCast(e) match {
    case Literal(k: Int, IntegerType) => Some(k)
    case Literal(k: Long, LongType) if k.isValidInt => Some(k.toInt)
    case _ => None
  }

  /** Fractional threshold literal, casts stripped, integer literals
    * accepted (`jaccard >= 1` arrives as an int literal the analyzer
    * casts to double — semantically s = 1.0). Every accepted form
    * evaluates to exactly the double the runtime comparison uses, so
    * the α math stays lossless. */
  private def litFrac(e: Expression): Option[Double] = stripCast(e) match {
    case Literal(d: Double, DoubleType) => Some(d)
    case Literal(f: Float, FloatType) => Some(f.toDouble)
    case Literal(d: Decimal, _) => Some(d.toDouble)
    case Literal(k: Int, IntegerType) => Some(k.toDouble)
    case Literal(k: Long, LongType) => Some(k.toDouble)
    case _ => None
  }

  /** One matched similarity bound: the two array sides, the α
    * builders, and whether an EMPTY×EMPTY pair satisfies the
    * predicate (the ÷ spellings are empty-false — ∅∕∅ → null → false
    * — and so are overlap ≥ t ≥ 1 and arrays_overlap; the ÷-free
    * `size(intersect) ≥ s·size(union)` is TRUE on two empties under a
    * non-strict comparison, so [[explodePrefix]] goes OUTER on both
    * sides, the token key and canonical become null-safe, ∅ meets ∅
    * through the null token exactly once, and null-ARRAY rows form
    * the same candidates but die on the kept original condition).
    *
    * `alpha`: sorted-distinct size → required overlap (the prefix
    * length driver, floored at 1). `lenAlpha`: the same bound WITHOUT
    * the 1-floor, used by the cheap length filter (a qualifying
    * partner of a size-n set has ≥ ⌈s·n⌉ elements; ∅ partners need
    * ≥ 0 so the emptyTrue pairs survive). `ovlAlpha`: the TWO-SIDED
    * required-overlap lower bound (PPJoin: Jaccard ≥ s ⟹ |X∩Y| ≥
    * s∕(1+s)·(|X|+|Y|); overlap ≥ t ⟹ t), used by the positional
    * filter. */
  private case class SetSim(aL: Expression, aR: Expression,
      alpha: Expression => Expression,
      lenAlpha: Expression => Expression,
      ovlAlpha: (Expression, Expression) => Expression,
      emptyTrue: Boolean)

  private def eligibleArrays(a: Expression, b: Expression): Boolean =
    (a.dataType, b.dataType) match {
      case (ArrayType(ea, false), ArrayType(eb, false)) =>
        ea == eb && (ea match {
          case ByteType | ShortType | IntegerType | LongType |
            DateType | TimestampType => true
          case _: StringType => true
          case _ => false
        })
      case _ => false
    }

  private def setSimOf(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[SetSim] = {
    // overlap spelling: size(array_intersect) bounded below by t ≥ 1
    def overlap(x: Expression, l: Expression): Option[SetSim] =
      for {
        (a, b) <- interPair(x)
        t <- litInt(l)
        if t >= 1 && eligibleArrays(a, b)
        (al, ar) <- orient(a, b, left, right)
      } yield SetSim(al, ar, _ => Literal(t.toLong),
        _ => Literal(t.toLong), (_, _) => Literal(t.toLong),
        emptyTrue = false)
    def jacAlpha(s: Double, ip: (Expression, Expression),
        emptyTrue: Boolean): Option[SetSim] =
      if (s > 0.0 && s <= 1.0 && eligibleArrays(ip._1, ip._2))
        orient(ip._1, ip._2, left, right).map { case (al, ar) =>
          def sCeil(sz: Expression): Expression =
            Ceil(Subtract(Multiply(Literal(s),
              Cast(sz, DoubleType)), Literal(1e-9)))
          // s∕(1+s) in plain double: the ε (wider than alpha's — two
          // roundings × up to ~1e6-element sizes) only ever WEAKENS
          // the filter, never the lemma
          val f = s / (1.0 + s)
          SetSim(al, ar,
            sz => Greatest(Seq(Literal(1L), sCeil(sz))),
            sCeil,
            (a2, b2) => Ceil(Subtract(Multiply(Literal(f),
              Cast(Add(a2, b2), DoubleType)), Literal(1e-6))),
            emptyTrue)
        }
      else None
    // Jaccard ÷ spelling: size(intersect)/size(union) bounded below by
    // s ∈ (0, 1]. ANSI-mode division is NOT eligible: the naive plan
    // RAISES on an empty∕empty union (two empty sets meeting), and the
    // rewrite never evaluates such pairs — erasing a user-visible
    // error is a semantic change. try_divide and legacy division
    // yield null → false there, which the rewrite preserves exactly.
    def jaccard(x: Expression, l: Expression): Option[SetSim] =
      stripCast(x) match {
        // NB: Divide's third unapply field is a NumericEvalContext in
        // Spark 4.1 — comparing IT against EvalMode.ANSI is always
        // true and silently voids the guard; test d.evalMode
        case d @ Divide(num, den, _) if d.evalMode != EvalMode.ANSI =>
          for {
            ip <- interPair(num)
            up <- unionPair(den)
            if samePairs(ip, up)
            s <- litFrac(l)
            sim <- jacAlpha(s, ip, emptyTrue = false)
          } yield sim
        case _ => None
      }
    // division-free Jaccard spelling (the ANSI-safe form):
    // size(intersect) ≥ s · size(union). The multiplier-free
    // `size(intersect) ≥ size(union)` is s = 1 — both the direct
    // spelling and what ConstantFolding leaves of `1 · size(union)`.
    def jaccardMul(x: Expression, r: Expression,
        strict: Boolean): Option[SetSim] = {
      def sTimesUnion(e: Expression): Option[(Double,
          (Expression, Expression))] = stripCast(e) match {
        case Multiply(a, b, _) =>
          (litFrac(a), unionPair(b)) match {
            case (Some(s), Some(up)) => Some((s, up))
            case _ => (litFrac(b), unionPair(a)) match {
              case (Some(s), Some(up)) => Some((s, up))
              case _ => None
            }
          }
        case u if unionPair(u).isDefined => unionPair(u).map((1.0, _))
        case _ => None
      }
      for {
        ip <- interPair(x)
        (s, up) <- sTimesUnion(r)
        if samePairs(ip, up)
        // non-strict: 0 ≥ s·0 holds — two EMPTY sets qualify and the
        // rewrite must route them through the null-token machinery
        sim <- jacAlpha(s, ip, emptyTrue = !strict)
      } yield sim
    }
    def bound(x: Expression, l: Expression,
        strict: Boolean): Option[SetSim] =
      overlap(x, l).orElse(jaccard(x, l)).orElse(jaccardMul(x, l, strict))
    e match {
      // strict bounds imply the non-strict ones the α math uses — the
      // kept original condition enforces the exact strictness
      case GreaterThanOrEqual(x, l) => bound(x, l, strict = false)
      case GreaterThan(x, l) => bound(x, l, strict = true)
      case LessThanOrEqual(l, x) => bound(x, l, strict = false)
      case LessThan(l, x) => bound(x, l, strict = true)
      // arrays_overlap(a, b) ⟺ overlap ≥ 1 under non-nullable
      // elements (its null-vs-false subtlety only exists for null
      // elements, which eligibility excludes)
      case ArraysOverlap(a, b) if eligibleArrays(a, b) =>
        orient(a, b, left, right).map { case (al, ar) =>
          SetSim(al, ar, _ => Literal(1L), _ => Literal(1L),
            (_, _) => Literal(1L), emptyTrue = false)
        }
      case _ => None
    }
  }

  /** One matched CONTAINMENT conjunct — `size(array_except(a, b)) = 0`
    * (also `≤ 0`, `< 1`, literal on either side), i.e. distinct(a) ⊆
    * distinct(b), in EITHER orientation (`subOnLeft` records which
    * child holds the subset — the natural "is this row covered" probe
    * direction, or the mirrored "does this row cover" audit
    * direction). Blocking: a
    * qualifying pair must share a's MINIMAL distinct element, so the
    * left projects that single token as a scalar key (no explode) and
    * the right explodes its full sorted-distinct set — per pair the
    * key matches AT MOST once (distinct explode), exactly-once with no
    * canonical. The ∅ ⊆ anything corner (an empty `a` satisfies the
    * predicate against EVERY non-null partner) cannot flow through a
    * token key at all: the rewrite UNIONs a second branch —
    * σ(|distinct(a)| = 0) ⨝ right with the containment conjunct
    * respelled as |a∩b| = |distinct(a)| (the matcher-proof
    * equivalent; see the rewrite-site comment) — whose
    * nested-loop shape is the honest cost of an output that is
    * |L∅|·|R| by definition (null arrays die on the kept condition in
    * either branch). Inner, left semi, left anti, AND left outer
    * joins in both orientations: subset-on-left semi/anti/outer stay
    * at left grain with no explode; the mirrored superset-on-left
    * semi/anti explode the left tokens under a rid and collapse back;
    * the mirrored outer decomposes as Inner ∪ (anti × nulls) — see
    * the rewrite site. */
  private def containOf(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Contain] = {
    def zero(l: Expression): Boolean = stripCast(l) match {
      case Literal(0, IntegerType) | Literal(0L, LongType) => true
      case _ => false
    }
    def one(l: Expression): Boolean = stripCast(l) match {
      case Literal(1, IntegerType) | Literal(1L, LongType) => true
      case _ => false
    }
    def pairOf(x: Expression): Option[(Expression, Expression, Boolean)] =
      stripCast(x) match {
        case Size(ArrayExcept(a, b), _)
            if a.deterministic && b.deterministic &&
              eligibleArrays(a, b) =>
          if (a.references.subsetOf(left.outputSet) &&
            b.references.subsetOf(right.outputSet))
            Some((a, b, true))
          else if (a.references.subsetOf(right.outputSet) &&
            b.references.subsetOf(left.outputSet))
            Some((a, b, false))
          else None
        case _ => None
      }
    (e match {
      case EqualTo(x, l) if zero(l) => pairOf(x)
      case EqualTo(l, x) if zero(l) => pairOf(x)
      case LessThanOrEqual(x, l) if zero(l) => pairOf(x)
      case GreaterThanOrEqual(l, x) if zero(l) => pairOf(x)
      case LessThan(x, l) if one(l) => pairOf(x)
      case GreaterThan(l, x) if one(l) => pairOf(x)
      case _ => None
    }).map { case (a, b, subLeft) => Contain(e, a, b, subLeft) }
  }

  /** One matched containment: the conjunct, the SUBSET-side and
    * SUPERSET-side arrays, and which child holds the subset. */
  private case class Contain(conjunct: Expression, sub: Expression,
      sup: Expression, subOnLeft: Boolean)

  /** One matched MEMBERSHIP conjunct `array_contains(arr, v)` with the
    * array and the scalar on opposite children — the tag-membership
    * join. Only the ARRAY side explodes (full sorted-distinct — α = 1
    * needs the whole set) and the equi key is `token = v` directly: a
    * pair can meet through at most ONE exploded row (the distinct
    * element equal to v), so bag semantics hold with NO canonical
    * residual, and when the array sits on the RIGHT of a left
    * semi/anti/outer join no regroup is needed either (left grain is
    * untouched and per-right-row match multiplicity is at most one). */
  private case class Member(arr: Expression, v: Expression,
      arrOnLeft: Boolean)

  private def memberOf(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Member] = e match {
    case ArrayContains(arr, v)
        if v.deterministic && arr.deterministic &&
          v.references.nonEmpty && arr.references.nonEmpty =>
      arr.dataType match {
        case ArrayType(et, false) if et == v.dataType && (et match {
          case ByteType | ShortType | IntegerType | LongType |
            DateType | TimestampType => true
          case _: StringType => true
          case _ => false
        }) =>
          if (arr.references.subsetOf(left.outputSet) &&
            v.references.subsetOf(right.outputSet))
            Some(Member(arr, v, arrOnLeft = true))
          else if (arr.references.subsetOf(right.outputSet) &&
            v.references.subsetOf(left.outputSet))
            Some(Member(arr, v, arrOnLeft = false))
          else None
        case _ => None
      }
    case _ => None
  }

  /** The exploded prefix plus what the downstream filters read: the
    * token, its 0-based POSITION in the sorted-distinct array (prefix
    * positions ARE full-array positions — a prefix is a prefix), the
    * sorted-distinct array attribute itself (its Size feeds the
    * length/positional filters), and the optional anti fan-out count. */
  private case class Exploded(plan: LogicalPlan, tok: Attribute,
      pos: Attribute, sx: Attribute, cnt: Option[Attribute])

  /** Optional FREQUENCY-AWARE prefix order (the PPJoin refinement,
    * stats supplied out-of-band): `spark.graft.setsim.stopTokens` — a
    * comma-separated list of the corpus's highest-frequency tokens
    * ([[graft.tools.TokenStats]] computes it) — demotes those tokens
    * to the END of the prefix order on STRING-element arrays, so
    * prefixes fill with RARE tokens and hot-token buckets drain. The
    * prefix lemma holds for ANY total order applied consistently to
    * both sides; the order here is (is-stop, token): non-stop tokens
    * first by value, stop tokens last by value. Purely an ordering
    * change — empty conf (default), non-string elements, and the
    * membership arm keep plain value order. */
  private def stopTokens: Seq[String] =
    conf.getConfString("spark.graft.setsim.stopTokens", "")
      .split(",").filter(_.nonEmpty).toSeq

  /** `t → struct(s: t ∈ stops, t)` — the order-key surrogate. In(…)
    * over the literal list optimizes to an InSet hash probe. */
  private def orderKey(t: Expression, stops: Seq[String]): Expression =
    CreateNamedStruct(Seq(
      Literal("s"), In(t, stops.map(s => Literal(UTF8String.fromString(s),
        StringType))),
      Literal("t"), t))

  /** The side's canonical-order array: sorted-distinct raw tokens, or
    * their (is-stop, token) surrogates when frequency ordering is on. */
  private def orderedDistinct(arr: Expression,
      stops: Seq[String]): Expression = {
    val distinct = ArrayDistinct(arr)
    if (stops.isEmpty) new SortArray(distinct)
    else {
      val ArrayType(et, cn) = arr.dataType: @unchecked
      val x = NamedLambdaVariable("graft_sso", et, cn)
      new SortArray(ArrayTransform(distinct,
        LambdaFunction(orderKey(x, stops), Seq(x))))
    }
  }

  /** Whether frequency ordering applies to this array expression. */
  private def ordering(arr: Expression): Seq[String] = arr.dataType match {
    case ArrayType(_: StringType, _) => stopTokens
    case _ => Nil
  }

  /** `child` + projected order-sorted distinct array (and, when
    * `withCnt`, the explode fan-out count for anti regrouping) + the
    * prefix explode. `outer` keeps zero-prefix rows as one null-token
    * row. Prefix length = max(0, |sx| − α(|sx|) + 1). The count alias
    * is a pure function of `arr` (aliases in one Project cannot
    * reference each other); the Generate's slice recomputes the length
    * from the projected attribute. */
  private def explodePrefix(child: LogicalPlan, arr: Expression,
      alpha: Expression => Expression, outer: Boolean,
      withCnt: Boolean, stops: Seq[String] = Nil): Exploded = {
    def lenP(sz: Expression): Expression = Greatest(Seq(Literal(0L),
      Subtract(sz, Subtract(alpha(sz), Literal(1L)))))
    val sx = Alias(orderedDistinct(arr, stops), arrColName)()
    val cnt =
      if (withCnt) {
        val szRaw = Cast(Size(ArrayDistinct(arr)), LongType)
        Some(Alias(Greatest(Seq(Literal(1L), lenP(szRaw))), cntColName)())
      } else None
    val proj = Project(child.output ++ Seq(sx) ++ cnt.toSeq, child)
    val szSx = Cast(Size(sx.toAttribute), LongType)
    val prefix = Slice(sx.toAttribute, Literal(1),
      Cast(lenP(szSx), IntegerType))
    val et = sx.dataType match {
      case ArrayType(t, _) => t
      case t => t
    }
    val posOut = AttributeReference(posColName, IntegerType)()
    val out = AttributeReference(tokColName, et)()
    Exploded(
      Generate(PosExplode(prefix), Nil, outer = outer, None,
        Seq(posOut, out), proj),
      out, posOut, sx.toAttribute, cnt.map(_.toAttribute))
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, jt, Some(cond), hint)
        if rewriteable(jt) && !j.isStreaming &&
          !(left.output ++ right.output).exists(a =>
            a.name == arrColName || a.name == tokColName ||
              a.name == posColName || a.name == cntColName ||
              a.name == markColName) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val sim = conjuncts.flatMap(c => setSimOf(c, left, right)).headOption
      val member =
        if (sim.isEmpty)
          conjuncts.flatMap(c => memberOf(c, left, right)).headOption
        else None
      val contain =
        if (sim.isEmpty && member.isEmpty)
          conjuncts.flatMap(c => containOf(c, left, right)).headOption
        else None
      val standDown = equiBroadcastStandDown(conjuncts, left, right)
      if (contain.isDefined && !standDown) {
        // containment sub ⊆ sup: the SUBSET side probes with its
        // minimal distinct element as a SCALAR key (it never
        // explodes), the SUPERSET side explodes array_distinct
        // DIRECTLY — no sorted-copy projection: the probe needs no
        // prefix slice, and an sx duplicate would square an already
        // |sup|-per-row payload (a 600-element set amplified to
        // ~3 MB/row and an OOM before this comment). The ∅ ⊆ *
        // pairs cannot flow through a token key, so a second branch
        // handles σ(|distinct(sub)| = 0) rows against the other side
        // wholesale — its idempotence guard is the CONJUNCT ITSELF,
        // respelled as the equivalent |sub∩sup| = |distinct(sub)|
        // (same truth table incl. null arrays), which this matcher
        // deliberately does not match. A marker column would not
        // survive: ColumnPruning strips unused columns every
        // fixed-point iteration and the branch join was re-matched
        // into a ~100-branch Union before this guard.
        val c0 = contain.get
        val (sub, sup) = (c0.sub, c0.sup)
        val ArrayType(supEt, _) = sup.dataType: @unchecked
        val tok = AttributeReference(tokColName, supEt)()
        // The probe key is SOME deterministic element of distinct(sub)
        // — any total order works, because the sup side explodes its
        // FULL distinct set (for a qualifying pair every element of
        // sub, in particular the chosen one, appears in sup's explode
        // exactly once). Plain value order concentrates on frequency-
        // skewed vocabularies: token ids are assigned by frequency,
        // so the ubiquitous smallest id is the minimal element of
        // MOST sets and its bucket goes quadratic (measured in
        // `ScaleLaw ContainSkew`). `spark.graft.setsim.stopTokens` (the
        // PPJoin stats-out-of-band doctrine, STRING elements) demotes
        // the listed hot tokens to the END of the order, so the probe
        // key becomes the RAREST available element and the hot bucket
        // drains — soundness unchanged.
        val stops = ordering(sub)
        val minTok =
          if (stops.isEmpty) ArrayMin(ArrayDistinct(sub))
          else {
            val ArrayType(subEt, subCn) = sub.dataType: @unchecked
            val x = NamedLambdaVariable("graft_ssc", subEt, subCn)
            GetStructField(ArrayMin(ArrayTransform(ArrayDistinct(sub),
              LambdaFunction(orderKey(x, stops), Seq(x)))), 1, Some("t"))
          }
        val altC = EqualTo(Size(ArrayIntersect(sub, sup)),
          Size(ArrayDistinct(sub)))
        val cond2 = conjuncts.map(c => if (c eq c0.conjunct) altC else c)
          .reduceLeft[Expression](And)
        // null-safe emptiness split: null-array rows belong to the
        // NON-empty branch (their probe key is null and never
        // matches — exactly the naive outcome, where the condition
        // evaluates null ⇒ no match)
        val isEmpty = EqualNullSafe(Size(ArrayDistinct(sub)), Literal(0))
        // the ∅ branch carries a BROADCAST hint on the filtered
        // (sub) side: the join is key-less, and once the Filter's
        // SIZE ESTIMATE outgrows the broadcast threshold the
        // planner falls to CartesianProduct — a full |L|·|R| loop
        // for a branch that is almost always EMPTY at runtime
        // (measured: 15× cliff at 236k rows in `ScaleLaw ContainScale`
        // before this hint). ∅-set rows are rare by nature; were
        // they numerous, the branch's output is |L∅|·|R| by
        // definition and no plan shape saves it.
        val bcast = Some(HintInfo(strategy = Some(BROADCAST)))
        // the MIRRORED ANTI shape at left grain (superset on the
        // left, "which orders cover NO other order") — used by the
        // mirrored LeftAnti directly and as the null-extension
        // source of the mirrored LeftOuter. Two successive anti
        // joins on one tree: first drop left rows covered by an ∅
        // sub (left grain, no explode), then OUTER-explode the
        // survivors' distinct tokens and anti-join the covering-sub
        // probes — a row survives iff ALL its exploded rows survived
        // (count(*) == fan-out, the regroupAntiCol pigeonhole;
        // null/empty sups explode to one null-token row that no equi
        // key can claim, so they survive with fan-out 1 — exactly
        // the naive verdict, where they match nothing). The token
        // attribute is FRESH per call: the outer shape instantiates
        // this next to an inner branch that has its own explode, and
        // sibling subtrees must not share generated exprIds.
        def mirroredAnti(out: Seq[Attribute]): LogicalPlan = {
          val tokA = AttributeReference(tokColName, supEt)()
          val (leftR, rid) = RewriteSupport.withRid(left)
          val a2 = Join(leftR, Filter(isEmpty, right), LeftAnti,
            Some(cond2), hint)
          val dsz = Size(ArrayDistinct(sup))
          val cntA = Alias(Cast(If(
            GreaterThan(Coalesce(Seq(dsz, Literal(0))),
              Literal(0)), dsz, Literal(1)), LongType),
            cntColName)()
          val leftC = Project(a2.output :+ cntA, a2)
          val leftE = Generate(Explode(ArrayDistinct(sup)), Nil,
            outer = true, None, Seq(tokA), leftC)
          val a1 = Join(leftE, right, LeftAnti,
            Some(And(EqualTo(tokA, minTok), cond)), hint)
          RewriteSupport.regroupAntiCol(a1, rid, left.output, out,
            cntA.toAttribute)
        }
        jt match {
          case Inner =>
            val (nl, nr) =
              if (c0.subOnLeft)
                (left, Generate(Explode(ArrayDistinct(sup)), Nil,
                  outer = false, None, Seq(tok), right))
              else
                (Generate(Explode(ArrayDistinct(sup)), Nil,
                  outer = false, None, Seq(tok), left), right)
            val u1 = Project(j.output, Join(nl, nr, Inner,
              Some(And(EqualTo(minTok, tok), cond)), hint))
            val (l2, r2, h2) =
              if (c0.subOnLeft)
                (Filter(isEmpty, left), right, hint.copy(leftHint = bcast))
              else
                (left, Filter(isEmpty, right), hint.copy(rightHint = bcast))
            val u2 = Project(j.output, Join(l2, r2, Inner, Some(cond2),
              h2))
            Union(Seq(u1, u2))
          case LeftOuter if c0.subOnLeft =>
            // LEFT OUTER, subset on the LEFT ("annotate each order
            // with its covering orders, if any" — the enrichment
            // spelling): the probe side never explodes, so left grain
            // IS the join's grain and null-extension composes per
            // branch. The ∅-sub rows split DISJOINTLY by a
            // deterministic function of the left row, so a two-branch
            // Union cannot double-emit or lose a row — no rid needed
            // (unlike the mirrored shapes, nothing nondeterministic
            // crosses branches; the same argument as the
            // subset-on-left semi/anti Unions). Null-sub rows ride
            // branch 1: their probe key is null, matches nothing, and
            // null-extend — the naive outcome. Branch 2 is key-less
            // with LeftOuter semantics, so the planner can only build
            // right and the FULL right child broadcasts — the
            // semi/anti scale note applies verbatim (pre-filter ∅
            // subs when right is huge).
            val nr = Generate(Explode(ArrayDistinct(sup)), Nil,
              outer = false, None, Seq(tok), right)
            val condK = And(EqualTo(minTok, tok), cond)
            Union(Seq(
              Project(j.output, Join(Filter(Not(isEmpty), left), nr,
                LeftOuter, Some(condK), hint)),
              Project(j.output, Join(Filter(isEmpty, left), right,
                LeftOuter, Some(cond2), hint))))
          case LeftOuter =>
            // MIRRORED LEFT OUTER — superset on the LEFT ("annotate
            // each order with the orders it covers, if any"):
            // LeftOuter ≡ Inner ∪ (unmatched × nulls). The matched
            // part is the mirrored Inner machinery verbatim
            // (exactly-once per pair through the min-token key; the
            // ∅-sub branch with the broadcast-pinned key-less join);
            // the null-extension part is [[mirroredAnti]] at left
            // grain with the right columns as typed null literals
            // under the ORIGINAL exprIds, so every Union branch lines
            // up with j.output positionally and by id. Reading `left`
            // in several branches is sound for the same reason the
            // subset-on-left Unions are: nothing nondeterministic
            // crosses branches — the anti's rid lives and dies inside
            // its own subtree.
            val nl = Generate(Explode(ArrayDistinct(sup)), Nil,
              outer = false, None, Seq(tok), left)
            val u1 = Project(j.output, Join(nl, right, Inner,
              Some(And(EqualTo(minTok, tok), cond)), hint))
            val u2 = Project(j.output, Join(left, Filter(isEmpty, right),
              Inner, Some(cond2), hint.copy(rightHint = bcast)))
            val nulls = right.output.map(a =>
              Alias(Literal(null, a.dataType), a.name)(exprId = a.exprId))
            val u3 = Project(left.output ++ nulls,
              mirroredAnti(left.output))
            Union(Seq(u1, u2, u3))
          case _ if c0.subOnLeft =>
            // LeftSemi | LeftAnti, subset on the LEFT: the
            // probe side never explodes, so left grain is untouched
            // and no regroup is needed. The ∅ rows split DISJOINTLY
            // into their own branch (probe keys are null there and
            // can never match through branch 1). Scale note: that
            // branch is key-less with the ∅ rows on the STREAM side,
            // so the planner broadcasts the FULL right child (semi/
            // anti cannot build left) — unavoidable for "∃ partner
            // for an ∅ set" unless cond carries its own equi keys
            // (then the planner hash-joins it); corpora where ∅ sets
            // are possible and right is huge should pre-filter them,
            // as every dedup-ingest pipeline does.
            val nr = Generate(Explode(ArrayDistinct(sup)), Nil,
              outer = false, None, Seq(tok), right)
            val condK = And(EqualTo(minTok, tok), cond)
            if (jt == LeftSemi)
              Union(Seq(
                Project(j.output,
                  Join(left, nr, LeftSemi, Some(condK), hint)),
                Project(j.output,
                  Join(Filter(isEmpty, left), right, LeftSemi,
                    Some(cond2), hint))))
            else
              Union(Seq(
                Project(j.output,
                  Join(Filter(Not(isEmpty), left), nr, LeftAnti,
                    Some(condK), hint)),
                Project(j.output,
                  Join(Filter(isEmpty, left), right, LeftAnti,
                    Some(cond2), hint))))
          case _ =>
            // MIRRORED LeftSemi | LeftAnti — SUPERSET on the LEFT
            // ("which orders cover some other order", the coverage
            // audit direction): the left side must explode its
            // distinct tokens to meet the right probes' min-token
            // keys, so left grain needs the family's rid machinery.
            // Both shapes are ONE LINEAR TREE over a single evaluation
            // of the left child: the rid is nondeterministic, so a
            // two-branch plan reading `left` twice (the inner shape's
            // Union) would assign DISAGREEING rids across branches and
            // the collapse would dedup nothing / double-emit rows
            // matched by both branches (see [[RewriteSupport]]).
            if (jt == LeftSemi) {
              val (leftR, rid) = RewriteSupport.withRid(left)
              // a left row is kept iff SOME right sub ⊆ its sup.
              // Evidence from either branch is marked WITHOUT fan-out
              // by ExistenceJoin bits — a LeftOuter mark would
              // multiply the grain by the per-row match count, the
              // exact cost semi joins exist to avoid, and a plain
              // LeftSemi at token grain would LOSE the unmatched rows
              // branch 2 still has to see. Branch 2 (∅ subs cover
              // every non-null sup) marks BELOW the explode at left
              // grain against only the ∅-sub right rows; branch 1
              // marks at token grain through the hash-joinable
              // `tok = min(sub)` equi key. Only evidence rows reach
              // the rid collapse (the Or-filter precedes it).
              val e2 = AttributeReference("graft_sse2", BooleanType,
                nullable = false)()
              val j2 = Join(leftR, Filter(isEmpty, right),
                ExistenceJoin(e2), Some(cond2), hint)
              val leftE = Generate(Explode(ArrayDistinct(sup)), Nil,
                outer = true, None, Seq(tok), j2)
              val e1 = AttributeReference("graft_sse1", BooleanType,
                nullable = false)()
              val j1 = Join(leftE, right, ExistenceJoin(e1),
                Some(And(EqualTo(tok, minTok), cond)), hint)
              RewriteSupport.regroupSemi(Filter(Or(e1, e2), j1), rid,
                left.output, j.output)
            } else {
              // ANTI: see [[mirroredAnti]] — the double-anti chain
              // with the regroupAntiCol pigeonhole, at left grain.
              mirroredAnti(j.output)
            }
        }
      } else (sim, member) match {
        case (None, Some(m)) if !standDown && !m.arrOnLeft =>
          // membership with the array on the RIGHT: explode only the
          // right side — the left grain is untouched, so EVERY join
          // type goes through structurally (per right row at most one
          // exploded copy equals v)
          val er = explodePrefix(right, m.arr,
            _ => Literal(1L), outer = false, withCnt = false)
          val joined = Join(left, er.plan, jt,
            Some(And(EqualTo(m.v, er.tok), cond)), hint)
          Project(j.output, joined)
        case (None, Some(m)) if !standDown =>
          // membership with the array on the LEFT: the α = 1 explode
          // with the scalar itself as the equi key (no canonical — a
          // pair meets through at most one distinct element)
          val nonInner = jt != Inner
          val (leftBase, rid) =
            if (nonInner) {
              val (p, a) = RewriteSupport.withRid(left); (p, Some(a))
            } else (left, None)
          val el = explodePrefix(leftBase, m.arr,
            _ => Literal(1L), outer = nonInner, withCnt = jt == LeftAnti)
          val (newLeft, tokL) = (el.plan, el.tok)
          val newCond = And(EqualTo(tokL, m.v), cond)
          jt match {
            case Inner =>
              Project(j.output, Join(newLeft, right, jt, Some(newCond),
                hint))
            case LeftSemi =>
              RewriteSupport.regroupSemi(
                Join(newLeft, right, jt, Some(newCond), hint),
                rid.get, left.output, j.output)
            case LeftAnti =>
              RewriteSupport.regroupAntiCol(
                Join(newLeft, right, jt, Some(newCond), hint),
                rid.get, left.output, j.output, el.cnt.get)
            case _ =>
              // LeftOuter: a constant right-side marker distinguishes
              // null-extension (the right child has no generated col)
              val mark = Alias(Literal(true), markColName)()
              val marked = Project(right.output :+ mark, right)
              RewriteSupport.collapseOuter(
                Join(newLeft, marked, jt, Some(newCond), hint),
                rid.get, mark.toAttribute,
                EqualNullSafe(tokL, ArrayMin(el.sx)), j.output)
          }
        case (Some(f), _) if !standDown =>
          val nonInner = jt != Inner
          val (leftBase, rid) =
            if (nonInner) {
              val (p, a) = RewriteSupport.withRid(left); (p, Some(a))
            } else (left, None)
          // emptyTrue spellings route ∅×∅ pairs through the null
          // token: OUTER explode on BOTH sides, null-safe key and
          // canonical (see [[SetSim]]); all other spellings keep the
          // tighter inner-explode plan
          val stops = ordering(f.aL)
          val el = explodePrefix(leftBase, f.aL,
            f.alpha, outer = nonInner || f.emptyTrue,
            withCnt = jt == LeftAnti, stops = stops)
          val (newLeft, tokL) = (el.plan, el.tok)
          val er = explodePrefix(right, f.aR,
            f.alpha, outer = f.emptyTrue, withCnt = false,
            stops = stops)
          val tokR = er.tok
          // under emptyTrue a MATCHED right row can carry a null token
          // (the ∅×∅ match), so the outer-collapse marker must be a
          // generated constant instead of the token itself
          val mark =
            if (f.emptyTrue && jt == LeftOuter)
              Some(Alias(Literal(true), markColName)())
            else None
          val newRight = mark match {
            case Some(m) => Project(er.plan.output :+ m, er.plan)
            case None => er.plan
          }
          def key(a: Expression, b: Expression): Expression =
            if (f.emptyTrue) EqualNullSafe(a, b) else EqualTo(a, b)
          // PPJoin-style CHEAP kills, evaluated before the array-op
          // residuals. Length filter: a qualifying pair has
          // |X| ≥ ⌈s·|Y|⌉ and |Y| ≥ ⌈s·|X|⌉ (overlap ≤ min size,
          // union ≥ max size) — valid for EVERY candidate row.
          // Positional filter: all common tokens sit at positions ≥
          // the MINIMAL common token's, so overlap ≤ min(|X|−pL,
          // |Y|−pR) there, and a qualifying pair needs overlap ≥
          // ovlAlpha — valid AT the minimal-common-token row, which is
          // the only row that must survive: inner/outer keep exactly
          // that row (canonical), semi needs any row, and anti only
          // needs every TRULY matching pair to kill ≥ 1 row (the
          // minimal row passes the filter and dies). Null pos (the
          // emptyTrue ∅ rows) falls through to the residual.
          val szL = Cast(Size(el.sx), LongType)
          val szR = Cast(Size(er.sx), LongType)
          val lenF = And(
            GreaterThanOrEqual(szL, f.lenAlpha(szR)),
            GreaterThanOrEqual(szR, f.lenAlpha(szL)))
          val posF = Or(IsNull(el.pos), Or(IsNull(er.pos),
            GreaterThanOrEqual(
              Least(Seq(Subtract(szL, Cast(el.pos, LongType)),
                Subtract(szR, Cast(er.pos, LongType)))),
              f.ovlAlpha(szL, szR))))
          // canonical over the PROJECTED order arrays (raw sorted
          // tokens, or (is-stop, token) surrogates under frequency
          // ordering): ArrayMin = first common element in the active
          // order, provably inside both prefixes for any total order —
          // and reusing the projected attributes avoids recomputing
          // array_distinct per candidate
          val canonical = key(tokL, ArrayMin(ArrayIntersect(el.sx, er.sx)))
          val needCanon = jt == Inner || jt == LeftOuter
          val newCond = (Seq(key(tokL, tokR), lenF, posF, cond) ++
            (if (needCanon) Seq(canonical) else Nil))
            .reduceLeft[Expression](And)
          val joined = Join(newLeft, newRight, jt, Some(newCond), hint)
          jt match {
            case Inner => Project(j.output, joined)
            case LeftSemi =>
              RewriteSupport.regroupSemi(joined, rid.get, left.output,
                j.output)
            case LeftAnti =>
              RewriteSupport.regroupAntiCol(joined, rid.get, left.output,
                j.output, el.cnt.get)
            case _ =>
              // one representative for match-free rids: the row whose
              // token null-safe-equals the MINIMAL sorted-distinct
              // token (= the first; array_min never throws on empties,
              // and null <=> null keeps the ∅-array row) — OR the
              // null-token row itself. The disjunct is load-bearing
              // for EMPTY PREFIXES over NON-empty arrays (overlap
              // t > |X|: prefix length 0, the outer explode emits ONE
              // null-token row, but ArrayMin(sx) is non-null, so the
              // <=> alone dropped the row's null extension — a silent
              // wrong answer found by EdgeMatrixSpec's outer audit;
              // safe because a rid has a null-token row only when it
              // exploded NOTHING else, so at most one row passes)
              RewriteSupport.collapseOuter(joined, rid.get,
                mark.map(_.toAttribute).getOrElse(tokR),
                Or(EqualNullSafe(tokL, ArrayMin(el.sx)), IsNull(tokL)),
                j.output)
          }
        case _ => j
      }
  }
}
