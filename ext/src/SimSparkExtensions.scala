// Compiled Catalyst extension closing SURVEY.md §4.3's deferred item: the
// one band-join implementation in sim_spark. A naive band predicate plans
// as BroadcastNestedLoopJoin; these optimizer rules run inside Catalyst
// itself (installed via spark.experimental.extraOptimizations — the
// "User Provided Optimizers" batch), so SQL strings and DataFrame joins
// are covered alike:
//
//  * SqlBandJoinRewrite — inner joins whose condition is a bounded band
//    over INTEGRAL, TIMESTAMP, DATE, or (r9) DOUBLE/FLOAT/DECIMAL
//    attributes (lo <= r.x - l.y <= hi, written as any conjunction of
//    two attr±literal inequalities; for timestamps the offsets are
//    day-time INTERVAL literals, for dates date_add/date_sub day counts,
//    for fractional axes plain numeric literals) with no equi conjunct
//    are replanned as bucket-explode + equi-join + exact refine with the
//    ORIGINAL predicate (candidate superset — row-identical by
//    construction). Timestamp/date axes reduce to the integral machinery
//    through their exact epoch mappings (unix_micros / unix_date) in
//    saturating long bucket arithmetic; fractional axes use double
//    floor-division with a ±1 bucket margin.
//    (r10) YEAR-MONTH INTERVAL offsets get their own exact bucket
//    space: add_months arithmetic is variable-width in microseconds but
//    EXACT in month-index space (year*12 + month), so `ts BETWEEN
//    ts2 - INTERVAL '2' MONTH AND ts2` buckets both sides on the month
//    index with whole-month offsets — the same integral machinery, one
//    more axis mapping. Wide DECIMALs (integral digits > 15) ride the
//    fractional path: the ±2^50 bucket-id clamp caps the double
//    floor-division quotient inside its accuracy horizon with per-side
//    rounding ≤~0.375 buckets — the TWO-SIDED sum stays under the ±1
//    margin at ANY axis magnitude (r10 ADVICE: a 2^51 clamp let
//    adversarially aligned per-side roundings sum past 1 bucket).
//    A join that already has an equi conjunct is left alone: its hash
//    key is usually selective, and adding a bucket key to it measured
//    slower (stream_join_purchase_view 0.33 vs 0.24 s at sf0.1).
//  * NaiveBandJoinWarning — any remaining non-equi cross-side
//    comparison join (exotic arithmetic over attributes, mixed
//    month + day-time offsets on one axis pair) logs a loud warning
//    and bumps a counter tests can read.
//
// Scope (documented, honest): a year-month offset mixed with a NONZERO
// day-time/day offset on the same attribute pair has no common exact
// bucket unit and still warns rather than rewrites.
//
// Counter semantics: the optimizer applies extraOptimizations inside a
// fixed-point batch and re-runs them on AQE re-optimization, so a naive
// per-visit increment over-counts (r7 ADVICE). BandDiagnostics therefore
// dedupes on the condition's semanticHash — one count per distinct join
// condition instance (new spark.sql() calls mint new ExprIds and count
// again, which is correct: they ARE new queries).
package simspark

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

object BandDiagnostics {
  @volatile var naiveBandWarnings: Long = 0L
  @volatile var bandRewrites: Long = 0L
  // Dedupe sets: fixed-point batches and AQE re-optimization re-visit the
  // same condition; count each distinct condition once. Keys are the full
  // canonicalized-condition strings (collision-free — a 32-bit hash key
  // could silently suppress a genuinely new query); bounded as an
  // access-ordered LRU so a long-lived session can never leak. Eviction
  // is oldest-first (r8 ADVICE: a full clear-when-full recounted every
  // in-flight condition and discarded dedupe state AQE was still using;
  // LRU shrinks the worst case to re-counting only the evicted oldest —
  // still never a miss). mark() callers hold the object monitor: the
  // increment is a read-modify-write, optimizer invocations can be
  // concurrent, and LinkedHashMap is not thread-safe.
  private val MaxSeen = 8192
  private def lruSet(): java.util.Set[String] =
    java.util.Collections.newSetFromMap(
      new java.util.LinkedHashMap[String, java.lang.Boolean](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
          size() > MaxSeen
      })
  private val seenWarnings = lruSet()
  private val seenRewrites = lruSet()

  // callers hold the object monitor
  private def mark(set: java.util.Set[String], k: String): Boolean =
    set.add(k)
  def markRewrite(k: String): Boolean = synchronized {
    val fresh = mark(seenRewrites, k)
    if (fresh) bandRewrites += 1
    fresh
  }
  def markWarning(k: String): Boolean = synchronized {
    val fresh = mark(seenWarnings, k)
    if (fresh) naiveBandWarnings += 1
    fresh
  }
  def reset(): Unit = synchronized {
    naiveBandWarnings = 0L; bandRewrites = 0L
    seenWarnings.clear(); seenRewrites.clear()
  }
  def warnings: Long = naiveBandWarnings
  def rewrites: Long = bandRewrites
}

/** Shared predicate algebra for both rules.
  *
  * Axis kinds: 'i' = integral (bucket on the value), 't' = timestamp
  * (bucket on unix_micros, offsets in microseconds), 'd' = date (bucket
  * on unix_date, offsets in days), 'm' = year-month (bucket on the
  * month index year*12+month, offsets in whole months — exact because
  * add_months always lands exactly `n` month indexes away regardless of
  * day clamping, and the month index is monotone in the axis value) —
  * each an EXACT integral mapping —
  * plus 'f' = fractional (DOUBLE/FLOAT/DECIMAL axes, r9): the
  * bucket function there is double floor-division with a ±1 bucket
  * margin (the margin absorbs any ulp disagreement between the bucket
  * arithmetic and the refine predicate's own arithmetic; the refine
  * restores exactness either way). Offsets are carried as BigDecimal so the
  * exact kinds never round-trip through a double (a snowflake-scale
  * long offset near 2^60 would quantize to 256-unit steps).
  */
trait BandAlgebra extends PredicateHelper {
  private val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  /** Fractional axes bucket through a cast to double. ANY decimal width
    * is safe (r10): the cast is monotone and applied identically to both
    * sides, and the ±2^50 bucket-id clamp keeps the floor-division
    * quotient inside the 53-bit accuracy horizon with ≤~0.375 buckets
    * of rounding PER SIDE, so the two-sided sum of left-id and
    * right-id drift stays under the ±1 bucket margin at any magnitude
    * (beyond the horizon both sides co-bucket at the saturation id and
    * the exact refine restores naive semantics). */
  private def fractionalAxis(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case _: DecimalType => true
    case _ => false
  }

  protected def attrSide(
      a: Attribute, left: LogicalPlan, right: LogicalPlan): Option[Char] =
    if (left.outputSet.contains(a)) Some('l')
    else if (right.outputSet.contains(a)) Some('r')
    else None

  /** A band-axis base term: a bare attribute, or an analyzer-inserted
    * numeric cast of one (decimal promotion / int-vs-double mixing).
    * Integral-to-integral casts stay exact ('i'); any fractional attr
    * or cast target is the double path ('f'). */
  private def baseTerm(e: Expression): Option[(AttributeReference, Char)] = e match {
    case a: AttributeReference if integral.contains(a.dataType) => Some((a, 'i'))
    case a: AttributeReference if a.dataType == TimestampType => Some((a, 't'))
    case a: AttributeReference if a.dataType == DateType => Some((a, 'd'))
    // NTZ has no exact epoch-micros expression here, so it never joined
    // the 't' space; its wall-clock month index IS exact (Cast to date
    // is tz-free), so a bare NTZ attr is a month-space axis (r10).
    case a: AttributeReference if a.dataType == TimestampNTZType => Some((a, 'm'))
    case a: AttributeReference if fractionalAxis(a.dataType) => Some((a, 'f'))
    case Cast(a: AttributeReference, t, _, _)
        if integral.contains(t) && integral.contains(a.dataType) =>
      Some((a, 'i'))
    case Cast(a: AttributeReference, t, _, _)
        if fractionalAxis(t) &&
          (integral.contains(a.dataType) || fractionalAxis(a.dataType)) =>
      Some((a, 'f'))
    case _ => None
  }

  /** attr ± fixed-width literal → (attr, offset-in-axis-units, kind). */
  protected def parseSide(
      e: Expression): Option[(AttributeReference, BigDecimal, Char)] = e match {
    case Add(x, Literal(v, t), _) if isNum(t) && finiteLit(v) =>
      baseTerm(x).flatMap { case (a, k) => combine(a, k, lit2dec(v, t), t) }
    case Add(Literal(v, t), x, _) if isNum(t) && finiteLit(v) =>
      baseTerm(x).flatMap { case (a, k) => combine(a, k, lit2dec(v, t), t) }
    case Subtract(x, Literal(v, t), _) if isNum(t) && finiteLit(v) =>
      baseTerm(x).flatMap { case (a, k) => combine(a, k, -lit2dec(v, t), t) }
    // ts ± INTERVAL '…' (day-time): the analyzer folds both signs into
    // TimestampAddInterval(attr, literal-micros).
    case t: TimestampAddInterval =>
      (t.children(0), t.children(1)) match {
        case (a: AttributeReference, Literal(v: Long, _: DayTimeIntervalType))
            if a.dataType == TimestampType =>
          Some((a, BigDecimal(v), 't'))
        case _ => None
      }
    // ts/date ± INTERVAL '…' MONTH/YEAR (r10): variable-width in micros
    // but EXACT in month-index units — the literal carries whole months.
    case t: TimestampAddYMInterval =>
      (t.children(0), t.children(1)) match {
        case (a: AttributeReference, Literal(v: Int, _: YearMonthIntervalType))
            if a.dataType == TimestampType || a.dataType == TimestampNTZType =>
          Some((a, BigDecimal(v), 'm'))
        case _ => None
      }
    case d: DateAddYMInterval =>
      (d.children(0), d.children(1)) match {
        case (a: AttributeReference, Literal(v: Int, _: YearMonthIntervalType))
            if a.dataType == DateType =>
          Some((a, BigDecimal(v), 'm'))
        case _ => None
      }
    // date_add / date_sub with a literal day count.
    case DateAdd(a: AttributeReference, Literal(v, t)) if integral.contains(t) =>
      Some((a, lit2dec(v, t), 'd'))
    case DateSub(a: AttributeReference, Literal(v, t)) if integral.contains(t) =>
      Some((a, -lit2dec(v, t), 'd'))
    case other => baseTerm(other).map { case (a, k) => (a, BigDecimal(0), k) }
  }

  /** Constant folding can mint non-finite double/float literals (e.g.
    * 1e308 * 10); BigDecimal.valueOf would throw inside the optimizer —
    * reject the side instead (the join stays naive, which is what a
    * ±Infinity band means anyway). */
  private def finiteLit(v: Any): Boolean = v match {
    case d: Double => !d.isNaN && !d.isInfinite
    case f: Float => !f.isNaN && !f.isInfinite
    case _ => true
  }

  /** Attach a numeric-literal offset to a base term: time axes only take
    * their dedicated interval/day forms (a bare numeric offset on a
    * timestamp attr is unit-ambiguous — reject); an integral base with a
    * fractional offset promotes the whole side to the double path. */
  private def combine(a: AttributeReference, kind: Char, off: BigDecimal,
      litType: DataType): Option[(AttributeReference, BigDecimal, Char)] =
    kind match {
      case 't' | 'd' | 'm' => None
      case 'i' if integral.contains(litType) => Some((a, off, 'i'))
      case _ => Some((a, off, 'f'))
    }

  private def isNum(t: DataType): Boolean =
    integral.contains(t) || t == DoubleType || t == FloatType ||
      t.isInstanceOf[DecimalType]

  private def lit2dec(v: Any, t: DataType): BigDecimal = v match {
    case b: Byte => BigDecimal(b.toLong)
    case s: Short => BigDecimal(s.toLong)
    case i: Int => BigDecimal(i.toLong)
    case l: Long => BigDecimal(l)
    case f: Float => BigDecimal(java.math.BigDecimal.valueOf(f.toDouble))
    case d: Double => BigDecimal(java.math.BigDecimal.valueOf(d))
    case d: Decimal => BigDecimal(d.toJavaBigDecimal)
    case other => throw new IllegalStateException(s"non-numeric literal $other: $t")
  }

  /** Bare-attribute equi conjunct across the two sides? */
  protected def isEqui(c: Expression, l: LogicalPlan, r: LogicalPlan): Boolean = c match {
    case EqualTo(a: Attribute, b: Attribute) =>
      (attrSide(a, l, r), attrSide(b, l, r)) match {
        case (Some(x), Some(y)) => x != y
        case _ => false
      }
    case _ => false
  }

  /** One conjunct → Some((lAttr, rAttr, kind, isLower, delta)): the bound
    * `r - l >= delta` (isLower) or `r - l <= delta` in axis units, with
    * strictness widened away (the refine re-applies the original
    * predicate). Sides must share an axis kind, except that an integral
    * side paired with a fractional one promotes to 'f' (both axes get
    * cast to double — exact for integrals within 2^53, which 'i' attrs
    * narrower than LongType always are; a LongType-vs-double pairing
    * only arises when the analyzer already compared them as doubles). */
  protected def classifyBound(
      c: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[(AttributeReference, AttributeReference, Char, Boolean, BigDecimal)] = {
    val (a, b, op) = c match {
      case GreaterThanOrEqual(x, y) => (x, y, ">=")
      case GreaterThan(x, y) => (x, y, ">=") // widen: superset only
      case LessThanOrEqual(x, y) => (x, y, "<=")
      case LessThan(x, y) => (x, y, "<=")
      case _ => return None
    }
    for {
      (attrA, offA, kindA) <- parseSide(a)
      (attrB, offB, kindB) <- parseSide(b)
      kind <- unifyKinds(kindA, offA, kindB, offB)
      sa <- attrSide(attrA, l, r)
      sb <- attrSide(attrB, l, r)
      if sa != sb
    } yield {
      // normalize so the RIGHT-plan attr is on the comparison's left
      val (lt, rt, normOp) =
        if (sa == 'l') ((attrA, offA), (attrB, offB), if (op == ">=") "<=" else ">=")
        else ((attrB, offB), (attrA, offA), op)
      // rt.attr + rt.off (op) lt.attr + lt.off  =>  r - l (op) delta
      val delta = lt._2 - rt._2
      (lt._1, rt._1, kind, normOp == ">=", delta)
    }
  }

  private def unifyKinds(
      a: Char, offA: BigDecimal, b: Char, offB: BigDecimal): Option[Char] =
    if (a == b) Some(a)
    else if (Set(a, b) == Set('i', 'f')) Some('f')
    // A bare (offset-0) timestamp/date term is a valid month-space axis
    // too — its month index is exact and offset-free — so `r <= addYM(l,
    // k)` unifies. A NONZERO micros/day offset mixed with a month offset
    // in one conjunct has no common exact unit: reject (falls to the
    // warning rule).
    else if (Set(a, b) == Set('t', 'm') || Set(a, b) == Set('d', 'm')) {
      val bareOff = if (a == 'm') offB else offA
      if (bareOff == BigDecimal(0)) Some('m') else None
    } else None
}

/** Replan `SELECT ... FROM a JOIN b ON lo <= b.x - a.y <= hi` (no equi
  * conjunct; integral, timestamp, or date axes) as bucket-explode
  * equi-join + exact refine. */
class SqlBandJoinRewrite extends Rule[LogicalPlan] with BandAlgebra {
  private val BUCKET = "__sql_band_bucket"

  private def toLong(e: Expression): Expression = Cast(e, LongType)

  /** The exact integral image of the axis attribute, per kind. */
  private def axisExpr(a: AttributeReference, kind: Char): Expression =
    kind match {
      case 'i' => toLong(a)
      case 't' => UnixMicros(a)          // exact epoch micros
      case 'd' => toLong(UnixDate(a))    // exact epoch days
      case 'm' =>
        // month index year*12 + month: monotone in the axis value, and
        // add_months lands exactly `n` indexes away (day clamping only
        // moves days WITHIN the target month). Timestamps reduce through
        // the session-tz date — the same zone TimestampAddYMInterval
        // itself evaluates in, so both sides of the superset argument
        // use one calendar.
        val d: Expression =
          if (a.dataType == DateType) a
          else Cast(a, DateType, Option(conf.sessionLocalTimeZone))
        toLong(Add(Multiply(Year(d), Literal(12)), Month(d)))
    }

  /** `e + off` saturated at the long limits, never overflowing: clamp
    * `e` first so the add stays in range (min(e, MAX - off) + off is
    * min(e + off, MAX)). Saturation is monotone, so a true match
    * `l + lo <= r <= l + hi` (r itself a long) keeps
    * `sat(l + lo) <= r <= sat(l + hi)`: no match leaves the candidate
    * range. An unguarded add would ANSI-abort on axes near the limits
    * (e.g. timestamp_micros(9223372036854775000)) where the naive join
    * returns rows. */
  private def satAdd(e: Expression, off: Long): Expression =
    if (off == 0) e
    else if (off > 0) Add(Least(Seq(e, Literal(Long.MaxValue - off))), Literal(off))
    else Add(Greatest(Seq(e, Literal(Long.MinValue - off))), Literal(off))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !j.output.exists(_.name.startsWith(BUCKET)) =>
      val conjuncts = splitConjunctivePredicates(cond)
      if (conjuncts.exists(isEqui(_, left, right))) j
      else {
        // accumulate lo/hi per (lAttr, rAttr, UNIT SPACE): max of lower
        // bounds, min of upper bounds.
        // 'i' and 'f' share the value space (a pair bounded by one exact
        // and one fractional conjunct buckets on doubles); 't', 'd' and
        // 'm' are each their own unit — merging a micros delta with a
        // month delta would be unit salad, so they accumulate apart and
        // only a space holding BOTH bounds rewrites. A ZERO-delta
        // timestamp/date bound (`r <= l`) is additionally a valid
        // month-space bound (the month index is monotone), which is
        // what completes the canonical `r BETWEEN addYM(l, -k) AND l`.
        def space(k: Char): Char = if (k == 'i' || k == 'f') 'v' else k
        val bounds = scala.collection.mutable.LinkedHashMap
          .empty[(ExprId, ExprId, Char), (AttributeReference, AttributeReference,
            Char, Option[BigDecimal], Option[BigDecimal])]
        conjuncts.foreach { c =>
          classifyBound(c, left, right).foreach {
            case (la, ra, kind0, isLower, d) =>
              def deposit(kindD: Char, dd: BigDecimal): Unit = {
                val k = (la.exprId, ra.exprId, space(kindD))
                val (_, _, kindPrev, lo, hi) =
                  bounds.getOrElse(k, (la, ra, kindD, None, None))
                val kind = if (kindD == 'f' || kindPrev == 'f') 'f' else kindD
                val nlo = if (isLower) Some(lo.fold(dd)(_.max(dd))) else lo
                val nhi = if (!isLower) Some(hi.fold(dd)(_.min(dd))) else hi
                bounds(k) = (la, ra, kind, nlo, nhi)
              }
              deposit(kind0, d)
              if ((kind0 == 't' || kind0 == 'd') && d == BigDecimal(0)) {
                deposit('m', BigDecimal(0))
              }
          }
        }
        bounds.values.collectFirst {
          // exact kinds: bounds must fit Long arithmetic with headroom
          // (|offset| ≤ 2^61 keeps the width hi - lo inside Long;
          // BigDecimal offsets are whole there by construction).
          // 'f' instead requires a non-denormal band width: a width
          // < ~1e-300 makes the double Divide yield ±Infinity with
          // OPPOSITE signs when the band straddles zero, so lob/hib
          // clamp to opposite saturation ids and Sequence would try to
          // explode ~2^52 elements — fall to the naive plan (r9
          // ADVICE).
          case (la, ra, kind, Some(lo), Some(hi))
              if hi >= lo && (if (kind == 'f')
                hi == lo || (hi - lo).doubleValue >= 1e-300
              else
                lo.abs <= BigDecimal(1L << 61) &&
                  hi.abs <= BigDecimal(1L << 61)) =>
            (la, ra, kind, lo, hi)
        } match {
          case None => j
          case Some((lAttr, rAttr, kind, loD, hiD)) =>
            // Per-kind bucket triple (left-lo, left-hi, right-bucket),
            // every expression LongType-valued.
            val (lob, hib, rBucket): (Expression, Expression, Expression) =
              if (kind == 'f') {
                // Fractional axes: double floor-division with a ±1
                // bucket margin — a value one ulp across a bucket edge
                // relative to the refine's own arithmetic still lands
                // in a candidate bucket;
                // fanout is at most 4 ids, refine restores exactness.
                // Width is the actual band width (a 1.0 floor would
                // over-fetch ~1/width for sub-unit bands — r9 review);
                // the floor only guards the hi == lo degenerate case.
                val w =
                  if (hiD > loD) (hiD - loD).doubleValue else 1.0
                // Clamp bucket ids to ±2^50 BEFORE the ±1 margin. Two
                // hazards share this clamp: (a) an Infinity / |v|≥2^63
                // axis value saturates Floor to Long.MaxValue and the
                // +1 overflows (ANSI abort / illegal Sequence bounds)
                // where the naive plan returned rows; (b) double
                // floor-division rounding (cast + offset add + divide)
                // drifts the computed id on BOTH sides independently,
                // and the two drifts SUM across the comparison — the
                // per-side budget must stay < 0.5 buckets for the ±1
                // margin to cover the pair. At 2^50 the quotient keeps
                // ≥3 mantissa bits below the bucket unit: per-side
                // error ≤~0.375 buckets, two-sided ≤0.75 < 1 (r10
                // ADVICE: a 2^51 clamp let per-side error reach
                // ~0.5–0.75 near saturation so aligned roundings could
                // sum past 1; the old 2^62 clamp was multiple buckets
                // off — r9 ADVICE, e.g. epoch-ns-scale DOUBLE axes with
                // a narrow band). Clamping co-buckets every quotient
                // beyond the accuracy horizon at the saturation id.
                // Clamping the POST-division bucket id is monotone AND
                // offset-consistent (an axis-space clamp would shift
                // the two sides by the band offset and drop matches
                // for bands away from zero), so the bucket-overlap
                // superset holds; the saturated rows just co-bucket
                // and the exact refine keeps naive semantics (NaN axes
                // floor to bucket 0 on both sides and the refine drops
                // them, as naive does); the refine there costs what
                // the pre-rewrite BNLJ cost anyway.
                val bound = 1L << 50
                def clamp(e: Expression): Expression =
                  Least(Seq(Greatest(Seq(e, Literal(-bound))), Literal(bound)))
                def litD(x: Double) = Literal(x, DoubleType)
                val lAxis = Cast(lAttr, DoubleType)
                val rAxis = Cast(rAttr, DoubleType)
                (Subtract(clamp(Floor(Divide(
                   Add(lAxis, litD(loD.doubleValue)), litD(w)))), Literal(1L)),
                 Add(clamp(Floor(Divide(
                   Add(lAxis, litD(hiD.doubleValue)), litD(w)))), Literal(1L)),
                 clamp(Floor(Divide(rAxis, litD(w)))))
              } else {
                val lo = loD.toLongExact
                val hi = hiD.toLongExact
                val w = math.max(hi - lo, 1L)
                // exact integer axes need no margin: fanout at most
                // ceil((hi-lo)/w)+1 = 2. Long arithmetic end to end:
                // saturating add of the offset (|offset| ≤ 2^61, see
                // satAdd), then integer `div` by the width. `div`
                // truncates toward zero rather than flooring, but any
                // monotone bucket function applied to both sides keeps
                // the superset, and truncating division by a positive
                // width is monotone.
                def bucket(e: Expression): Expression = IntegralDivide(e, Literal(w))
                val lAxis = axisExpr(lAttr, kind)
                (bucket(satAdd(lAxis, lo)),
                 bucket(satAdd(lAxis, hi)),
                 bucket(axisExpr(rAttr, kind)))
              }
            // Sequence is TimeZoneAwareExpression: without an explicit
            // timeZoneId it reports unresolved and fails plan validation
            val seq = new Sequence(
              lob, hib, Some(Literal(1L)), Some(conf.sessionLocalTimeZone))
            val seqType = seq.dataType.asInstanceOf[ArrayType]
            val bucketL = AttributeReference(
              BUCKET + "_l", LongType, nullable = seqType.containsNull)()
            val gen = Generate(
              Explode(seq), Nil, outer = false, None, Seq(bucketL), left)
            val rAlias = Alias(rBucket, BUCKET + "_r")()
            val proj = Project(right.output :+ rAlias, right)
            val newJoin = Join(
              gen, proj, Inner,
              Some(And(EqualTo(bucketL, rAlias.toAttribute), cond)), hint)
            if (BandDiagnostics.markRewrite(cond.canonicalized.toString)) {
              logInfo(s"sim_spark: rewrote naive band join on " +
                s"(${lAttr.name}, ${rAttr.name}) [kind=$kind lo=$loD hi=$hiD] " +
                "to bucket-equi + refine")
            }
            Project(j.output, newJoin)
        }
      }
  }
}

/** Loud fence for the shapes the rewrite does not cover: an inner join
  * whose only cross-side conjuncts are non-equi comparisons will plan
  * as BNLJ/cartesian — tell the user which band spellings rewrite. */
class NaiveBandJoinWarning extends Rule[LogicalPlan] with BandAlgebra with Logging {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case j @ Join(left, right, Inner, Some(cond), _)
          if !j.output.exists(_.name.startsWith("__sql_band_bucket")) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val hasEqui = conjuncts.exists(isEqui(_, left, right))
        val crossCmp = conjuncts.exists {
          case c: BinaryComparison =>
            val sides = c.references.toSeq.flatMap(a =>
              attrSide(a.asInstanceOf[Attribute], left, right))
            sides.contains('l') && sides.contains('r')
          case _ => false
        }
        if (!hasEqui && crossCmp &&
            BandDiagnostics.markWarning(cond.canonicalized.toString)) {
          logWarning(
            "sim_spark: inner join with a non-equi cross-side predicate " +
              s"(${cond.sql}) will plan as BroadcastNestedLoopJoin/" +
              "CartesianProduct. Bounded bands written as attr ± literal " +
              "inequalities over one integral/timestamp/date/month-" +
              "interval/decimal/double axis pair are rewritten " +
              "automatically; as-of shapes: sim_spark.ops.asof.auto_asof.")
        }
      case _ =>
    }
    plan
  }
}

/** Installer called from Python (sim_spark.ops.sqlband) — builds the
  * Scala Seq JVM-side so py4j never has to. Idempotent per session. */
object Install {
  def apply(spark: org.apache.spark.sql.classic.SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[SqlBandJoinRewrite])) {
      spark.experimental.extraOptimizations =
        existing ++ Seq(new SqlBandJoinRewrite, new NaiveBandJoinWarning)
    }
  }
}
