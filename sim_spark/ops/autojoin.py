"""Automatic bucket-rewrite of plain range/band join predicates.

SURVEY §4.3 deferred injecting the range-join rewrite as a Catalyst
optimizer rule (``SparkSessionExtensions.injectOptimizerRule`` needs a
compiled Scala rule). This module closes the ergonomic gap from the
Python side instead: :func:`auto_join` takes the SAME call shape as
``DataFrame.join`` — a plain boolean ``Column`` condition — walks the
condition's ColumnNode tree, and when it finds a *bounded band*
``lo <= right.x - left.y <= hi`` (written any of the usual ways:
``BETWEEN``, two inequalities, timestamp ± INTERVAL), it plans the join
as bucket-equi-join + exact refine instead of letting Catalyst fall
back to BroadcastNestedLoopJoin / CartesianProduct.

Semantics are NEVER changed: the rewrite joins on a conservative
bucket-overlap superset and re-applies the ORIGINAL predicate as the
refine filter, so the output is row-identical to the naive join
(property-tested in tests/test_ops_properties.py). Conditions the
walker cannot classify fall back to ``left.join(right, on, how)``
untouched.

Scale: the rewrite turns an O(n·m) nested loop into one shuffle on an
integer bucket key with a bounded (≤4 bucket ids) left-side explode — the same
plan ops/rangejoin.py builds by hand, now derived from the predicate.
At 100 TB the bucket key is also an AQE skew-split handle.

Limitations (documented, loud): inner joins only; left/right column
names must be disjoint (the refine filter re-resolves by name); the
band must relate ONE left attribute to ONE right attribute with
literal / simple-INTERVAL offsets.

Platform: classic PySpark only. The walker reads the condition through
``on._jc.node()``; if that read fails (PySpark internals drift), the
join degrades to the plain ``left.join`` with a ``RuntimeWarning``.
SQL-string band joins go through the compiled Catalyst rule that
:mod:`sim_spark.ops.sqlband` installs into the live JVM.
"""

from __future__ import annotations

import re
import warnings
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sim_spark.ops.asof import asof_join_backward

_BUCKET = "__aj_bucket"

_INTERVAL_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


# --- ColumnNode tree readers (classic PySpark 4.x internal nodes) ----------


def _cls(n) -> str:
    return n.getClass().getSimpleName()


def _children(n) -> list:
    ch = n.children()
    return [ch.apply(i) for i in range(ch.size())]


def _attr_name(n) -> str | None:
    if _cls(n) != "UnresolvedAttribute":
        return None
    parts = n.nameParts()
    return parts.apply(parts.size() - 1)  # unqualified tail


def _interval_us(text: str) -> int | None:
    """Parse simple ``INTERVAL <n> <unit>`` forms to microseconds."""
    m = re.fullmatch(
        r"\s*INTERVAL\s+'?(-?\d+)'?\s+(\w+?)S?\s*", text, flags=re.IGNORECASE
    )
    if not m:
        return None
    unit = m.group(2).lower()
    if unit not in _INTERVAL_US:
        return None
    return int(m.group(1)) * _INTERVAL_US[unit]


def _interval_months(text: str) -> int | None:
    """Parse ``INTERVAL <n> MONTH|YEAR`` forms to whole months (r10):
    variable-width in microseconds but exact in month-index space."""
    m = re.fullmatch(
        r"\s*INTERVAL\s+'?(-?\d+)'?\s+(MONTH|YEAR)S?\s*",
        text,
        flags=re.IGNORECASE,
    )
    if not m:
        return None
    n = int(m.group(1))
    return n * 12 if m.group(2).lower() == "year" else n


def _offset_value(n) -> tuple[float, str] | None:
    """A literal offset node → (value, unit). Numeric literals carry the
    axis-native unit; SqlExpression INTERVALs are microseconds (day-time
    forms) or whole months (year-month forms). Non-finite numeric
    literals (a folded 1e308*10, a NaN) are rejected — an infinite band
    bound has no bucket arithmetic; the caller falls back to the naive
    join, which is what such a bound means anyway."""
    import math

    c = _cls(n)
    if c == "Literal":
        v = n.value()
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        if not math.isfinite(v):
            return None
        return (float(v), "native")
    if c == "SqlExpression":
        us = _interval_us(n.expression())
        if us is not None:
            return (float(us), "us")
        months = _interval_months(n.expression())
        if months is not None:
            return (float(months), "months")
        return None
    return None


@dataclass
class _Term:
    """attr ± offset: one comparison side, normalized. ``unit`` is
    "none" for a bare attribute (zero offset — unit-neutral), "native"
    for plain numeric literals, "us" for INTERVALs, "days" for
    date_add/date_sub arguments."""

    attr: str
    offset: float
    unit: str


def _parse_side(n) -> _Term | None:
    name = _attr_name(n)
    if name is not None:
        return _Term(name, 0.0, "none")
    if _cls(n) == "UnresolvedFunction" and n.functionName() in (
        "+", "-", "date_add", "date_sub", "dateadd",
    ):
        a, b = _children(n)
        base = _attr_name(a)
        off = _offset_value(b)
        if base is None or off is None:
            return None
        fn = n.functionName()
        if fn not in ("+", "-"):
            if off[1] != "native":
                return None  # date_add with an INTERVAL arg: unsupported
            unit = "days"  # date_add/date_sub arguments are day counts
        else:
            unit = off[1]
        sign = -1.0 if fn in ("-", "date_sub") else 1.0
        return _Term(base, sign * off[0], unit)
    return None


def _conjuncts(n) -> list:
    if _cls(n) == "UnresolvedFunction" and n.functionName() == "and":
        out = []
        for c in _children(n):
            out.extend(_conjuncts(c))
        return out
    return [n]


# --- classification ---------------------------------------------------------


def _abs_band(n, lcols: set[str], rcols: set[str]):
    """``ABS(x - y) < c`` / ``c > ABS(x - y)`` → symmetric band
    ("bound", l, r, -c, c, False), or None. A LOWER bound on |diff|
    (``ABS(..) > c`` / ``c < ABS(..)``) is not a band and returns None."""
    fn = n.functionName()
    a, b = _children(n)
    if fn in (">", ">="):
        # c > abs(..): literal on the left — same band, operands swapped
        a, b = b, a
    elif fn not in ("<", "<="):
        return None
    if not (_cls(a) == "UnresolvedFunction" and a.functionName() == "abs"):
        return None
    lit = _offset_value(b)
    if lit is None or lit[0] < 0:
        return None
    (inner,) = _children(a)
    if not (_cls(inner) == "UnresolvedFunction" and inner.functionName() == "-"):
        return None
    x, y = _children(inner)
    nx, ny = _attr_name(x), _attr_name(y)
    if nx is None or ny is None:
        return None
    for la, ra in ((nx, ny), (ny, nx)):
        if la in lcols and la not in rcols and ra in rcols and ra not in lcols:
            # |r - l| bounded ⇒ -c <= r - l <= c (symmetric, side-free)
            return ("bound", la, ra, -lit[0], lit[0], {lit[1]})
    return None


def _classify(n, lcols: set[str], rcols: set[str]):
    """One conjunct → ("eq", lname, rname) | ("bound", l, r, lo, hi,
    interval?) with the bound meaning lo <= r - l (hi=None) or
    r - l <= hi (lo=None) | None (unknown)."""
    if _cls(n) != "UnresolvedFunction":
        return None
    fn = n.functionName()
    if fn not in ("=", "==", ">=", "<=", ">", "<"):
        return None
    ab = _abs_band(n, lcols, rcols)
    if ab is not None:
        return ab
    a, b = _children(n)
    ta, tb = _parse_side(a), _parse_side(b)
    if ta is None or tb is None:
        return None

    def side(t: _Term):
        if t.attr in lcols and t.attr not in rcols:
            return "l"
        if t.attr in rcols and t.attr not in lcols:
            return "r"
        return None

    sa, sb = side(ta), side(tb)
    if sa is None or sb is None or sa == sb:
        return None
    # normalize to (l term, r term, op with r on the left of op)
    if sa == "l":
        lt, rt, op = ta, tb, {"=": "=", "==": "=", ">=": "<=", "<=": ">=", ">": "<", "<": ">"}[fn]
    else:
        lt, rt, op = tb, ta, fn  # r already on the left: no operator flip
    if op in ("=", "=="):
        if lt.offset == 0 and rt.offset == 0:
            return ("eq", lt.attr, rt.attr)
        return None
    # op now relates rt to lt:  rt.attr + rt.offset  (op)  lt.attr + lt.offset
    # → rt.attr - lt.attr (op) lt.offset - rt.offset
    delta = lt.offset - rt.offset
    units = {lt.unit, rt.unit} - {"none"}
    if op in (">=", ">"):
        return ("bound", lt.attr, rt.attr, delta, None, units)
    return ("bound", lt.attr, rt.attr, None, delta, units)


def auto_join(
    left: DataFrame, right: DataFrame, on: Column, how: str = "inner"
) -> DataFrame:
    """``left.join(right, on, how)`` with automatic band-bucket rewrite.

    Row-identical to the naive join by construction (candidate superset
    + original-predicate refine). Falls back to the plain join whenever
    the condition isn't a recognizable bounded band or ``how`` isn't
    inner."""
    lcols, rcols = set(left.columns), set(right.columns)
    if (
        how != "inner"
        or (lcols & rcols)
        or {_BUCKET, "__aj_ax"} & (lcols | rcols)
    ):
        return left.join(right, on, how)

    try:
        # `on._jc.node()` and the node readers above are PySpark
        # internals that may shift between Spark versions; a failed read
        # degrades to the plain join, loudly.
        parsed = [_classify(c, lcols, rcols) for c in _conjuncts(on._jc.node())]
    except (Py4JError, AttributeError):
        warnings.warn(
            "auto_join could not read the Column expression tree "
            "(PySpark internals drift): falling back to the plain join. "
            "If the simspark SQL-band extension is active "
            "(sim_spark.ops.sqlband.install_sql_band_extension), band "
            "conditions are still bucket-rewritten JVM-side; otherwise "
            "expect a BroadcastNestedLoopJoin.",
            RuntimeWarning,
            stacklevel=2,
        )
        return left.join(right, on, how)
    # collect bounds per (l_attr, r_attr) pair; [lo, hi, offset-unit set]
    bounds: dict[tuple[str, str], list] = {}
    for p in parsed:
        if p is not None and p[0] == "bound":
            _, la, ra, lo, hi, units = p
            cur = bounds.setdefault((la, ra), [None, None, set()])
            if lo is not None:
                cur[0] = lo if cur[0] is None else max(cur[0], lo)
            if hi is not None:
                cur[1] = hi if cur[1] is None else min(cur[1], hi)
            cur[2] |= units
    band = next(
        ((k, v) for k, v in bounds.items() if v[0] is not None and v[1] is not None),
        None,
    )
    if band is None:
        return left.join(right, on, how)
    (l_attr, r_attr), (lo, hi, units) = band
    if hi < lo:
        return left.join(right, on, how)  # contradictory band: let Spark emit empty

    session_tz = left.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")

    def axis(df: DataFrame, name: str) -> Column | None:
        dt = df.schema[name].dataType
        if isinstance(dt, T.TimestampNTZType) and session_tz not in (
            "UTC", "Etc/UTC", "GMT", "Z", "+00:00",
        ):
            # NTZ bucketing would go through a session-tz cast while the
            # refine predicate compares wall-clock values — a DST gap can
            # distort differences by an hour and push a true match out of
            # the exploded bucket range. Rewriting is only safe when the
            # cast is the identity mapping (UTC session).
            return None
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return F.unix_micros(F.col(name).cast("timestamp"))
        if isinstance(dt, T.DateType):
            # days since epoch: date ± int offsets are day-granular, and
            # unix_date is timezone-free (no DST hazard)
            return F.unix_date(F.col(name)).cast("long")
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return F.col(name).cast("long")  # exact: no double round-trip
        if isinstance(dt, T.NumericType):
            # DECIMALs of ANY width ride the double path (r10): the cast
            # is monotone and identical on both sides, and the ±2^50
            # bucket-id clamp keeps the floor-division quotient inside
            # the 53-bit accuracy horizon, so the ±1 margin provably
            # covers the rounding at any magnitude.
            return F.col(name).cast("double")
        return None  # strings/other types: don't guess an axis — fall back

    def axis_unit(df: DataFrame, name: str) -> str:
        dt = df.schema[name].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return "us"
        if isinstance(dt, T.DateType):
            return "days"
        return "native"

    # Year-month offsets (r10) get their own exact bucket space: the
    # month index year*12+month is monotone in the axis value and
    # add_months lands exactly `n` indexes away (day clamping only moves
    # days WITHIN the target month), so pure-month bands bucket on the
    # month index with whole-month offsets through the exact integral
    # machinery. A month offset MIXED with a nonzero micros/day offset
    # on the same pair has no common exact unit — fall back. Timestamp
    # month indexes are session-tz (the same zone ts ± INTERVAL MONTH
    # evaluates in); NTZ/date indexes are tz-free — month boundaries
    # have no DST hazard either way.
    months_band = "months" in units
    if months_band:
        if units != {"months"} or not all(
            isinstance(
                df.schema[n].dataType,
                (T.DateType, T.TimestampType, T.TimestampNTZType),
            )
            for df, n in ((left, l_attr), (right, r_attr))
        ):
            return left.join(right, on, how)
        l_val = (F.year(l_attr) * 12 + F.month(l_attr)).cast("long")
        r_val = (F.year(r_attr) * 12 + F.month(r_attr)).cast("long")
    else:
        # Every non-zero offset's unit must agree with the shared axis
        # unit: a µs axis accepts only INTERVAL offsets (a day-granular
        # date_add offset on a timestamp axis would shrink the band
        # 86400e6x and silently DROP matches — found by review, repro
        # 63 -> 0 rows); a date axis counts days (plain ints resolve to
        # date arithmetic, so "native" means days there); numeric axes
        # take plain numbers.
        _AXIS_OK = {
            "us": {"us"}, "days": {"days", "native"}, "native": {"native"},
        }
        l_val, r_val = axis(left, l_attr), axis(right, r_attr)
        if (
            l_val is None
            or r_val is None
            # a mixed-unit band (date vs timestamp) would bucket µs
            # against days — internally inconsistent, could strand true
            # matches
            or axis_unit(left, l_attr) != axis_unit(right, r_attr)
            or not units <= _AXIS_OK[axis_unit(left, l_attr)]
        ):
            return left.join(right, on, how)

    eq_pairs = [(p[1], p[2]) for p in parsed if p is not None and p[0] == "eq"]

    # ±1 bucket margin: exact-integer axes never need it, but double
    # axes can sit one ulp across a bucket edge relative to the refine
    # predicate's own arithmetic — widening the candidate range (4 ids
    # max instead of 2) removes the edge entirely; refine restores
    # exactness either way.
    integral_axes = not isinstance(
        left.schema[l_attr].dataType, (T.FloatType, T.DoubleType, T.DecimalType)
    ) and not isinstance(
        right.schema[r_attr].dataType, (T.FloatType, T.DoubleType, T.DecimalType)
    )
    if integral_axes:
        # Integer `div` end to end: a double division would quantize a
        # long axis to 256-unit steps near 2^60 (snowflake-style ids)
        # and strand a true match outside the margin. `div` truncates
        # toward zero rather than flooring, but any monotone bucket
        # function applied consistently to both sides preserves the
        # superset property, and trunc-div by a positive width is
        # monotone.
        import math

        lo_i, hi_i = int(math.floor(lo)), int(math.ceil(hi))
        if max(abs(lo_i), abs(hi_i)) > (1 << 61):
            return left.join(right, on, how)  # absurd band: stay naive
        w_int = max(hi_i - lo_i, 1)
        # DECIMAL(38,0) axis: the band offset addition can overflow a
        # long for values near Long.MAX/MIN (ANSI abort where the naive
        # join succeeds); decimal headroom makes the ADD total, the
        # quotient is a DECIMAL floor-division, and the BUCKET ID
        # clamps to ±2^62 before the long cast (r9, corrected by
        # review: clamping in bucket space is offset-consistent — an
        # axis-space clamp shifts the two sides by the band offset and
        # silently drops matches for bands away from zero). Extreme
        # values co-bucket at the saturation boundary and the exact
        # refine restores naive semantics at the pre-rewrite BNLJ's
        # own cost.
        _B = 1 << 62

        def _bucket(expr: str) -> str:
            return (
                f"CAST(least(greatest(floor(({expr}) / {w_int}), {-_B}),"
                f" {_B}) AS BIGINT)"
            )

        l2 = left.withColumn("__aj_ax", l_val.cast("decimal(38,0)"))
        lo_b = F.expr(_bucket(f"__aj_ax + {lo_i}") + " - 1")
        hi_b = F.expr(_bucket(f"__aj_ax + {hi_i}") + " + 1")
        l_exp = l2.withColumn(_BUCKET, F.explode(F.sequence(lo_b, hi_b))).drop(
            "__aj_ax"
        )
        r_bkt = (
            right.withColumn("__aj_ax", r_val.cast("decimal(38,0)"))
            .withColumn(_BUCKET, F.expr(_bucket("__aj_ax")))
            .drop("__aj_ax")
        )
    else:
        # Actual band width (a 1.0 floor over-fetched ~1/width candidates
        # for sub-unit bands — r9 review); 1.0 only for the hi == lo
        # degenerate band. A denormal/near-zero width (pathological
        # literal band narrower than ~1e-300) would make the double
        # Divide yield ±Infinity with opposite signs when the band
        # straddles zero, clamping lo_b/hi_b to opposite saturation ids
        # and exploding a ~2^52-element Sequence — stay naive instead
        # (r9 ADVICE).
        width = (hi - lo) if hi > lo else 1.0
        if width < 1e-300:
            return left.join(right, on, how)
        # Bucket ids clamp to ±2^50 BEFORE the ±1 margin. Two hazards
        # share this clamp: (a) an Infinity / huge axis value saturates
        # floor-to-long and the ±1 overflows where the naive join
        # returned rows; (b) double floor-division accumulates rounding
        # error (axis cast + offset add + divide, each ≤0.5 ulp) that
        # must stay under the margin. The error budget applies to BOTH
        # sides independently — the left id (with offset) and the right
        # id (no offset) each drift, and adversarially aligned roundings
        # SUM across the comparison — so the per-side budget must be
        # < 0.5 buckets for the ±1 margin to cover the pair (r10
        # ADVICE: at a 2^51 clamp the per-side budget reaches ~0.5–0.75
        # buckets near saturation and the two-sided sum can cross 1; the
        # even older 2^62 clamp was multiple buckets off, r9 ADVICE).
        # At 2^50 the quotient keeps ≥3 mantissa bits below the bucket
        # unit, bounding each side's error ≤~0.375 buckets and the
        # two-sided sum ≤0.75 < 1. Quotients beyond the horizon
        # co-bucket at the saturation id; clamping is monotone, so the
        # bucket-overlap superset survives and the exact refine
        # restores naive semantics.
        bound = 1 << 50

        def _clamp(c: Column) -> Column:
            return F.least(F.greatest(c, F.lit(-bound)), F.lit(bound))

        lo_b = _clamp(F.floor((l_val + F.lit(lo)) / F.lit(width))) - 1
        hi_b = _clamp(F.floor((l_val + F.lit(hi)) / F.lit(width))) + 1
        l_exp = left.withColumn(
            _BUCKET, F.explode(F.sequence(lo_b.cast("long"), hi_b.cast("long")))
        )
        r_bkt = right.withColumn(
            _BUCKET, _clamp(F.floor(r_val / F.lit(width))).cast("long")
        )

    if eq_pairs:
        # bucket + every equi conjunct as join keys (all reach the hash)
        jcond = l_exp[_BUCKET] == r_bkt[_BUCKET]
        for la, ra in eq_pairs:
            jcond = jcond & (l_exp[la] == r_bkt[ra])
        joined = l_exp.join(r_bkt, jcond, "inner").drop(r_bkt[_BUCKET])
    else:
        joined = l_exp.join(r_bkt, on=[_BUCKET], how="inner")
    # exact refine with the ORIGINAL predicate — the rewrite can only
    # over-generate candidates, never drop a true match
    return joined.filter(on).drop(_BUCKET)


def _asof_parse(n, lcols: set[str], rcols: set[str]):
    """One conjunct of an as-of eligibility predicate →
    ``("eq", l_attr, r_attr)`` | ``("ineq", l_ts, r_ts, direction)`` |
    ``None``. Only bare attributes (no offsets) and the NON-strict
    comparators are recognized: the asof composite's boundary semantics
    are at-or-before / at-or-after, so a strict ``<``/``>`` predicate
    would silently change tie behavior — reject instead."""
    if _cls(n) != "UnresolvedFunction":
        return None
    fn = n.functionName()
    if fn not in ("=", "==", "<=", ">="):
        return None
    a, b = _children(n)
    ta, tb = _parse_side(a), _parse_side(b)
    if ta is None or tb is None or ta.offset != 0 or tb.offset != 0:
        return None

    def side(t: _Term):
        if t.attr in lcols and t.attr not in rcols:
            return "l"
        if t.attr in rcols and t.attr not in lcols:
            return "r"
        return None

    sa, sb = side(ta), side(tb)
    if sa is None or sb is None or sa == sb:
        return None
    if sa == "r":  # normalize so ta is the LEFT attribute
        ta, tb = tb, ta
        fn = {"<=": ">=", ">=": "<=", "=": "=", "==": "=="}[fn]
    if fn in ("=", "=="):
        return ("eq", ta.attr, tb.attr)
    # l_ts >= r_ts: right rows at-or-before the left row → backward scan;
    # l_ts <= r_ts: right rows at-or-after → forward scan.
    return ("ineq", ta.attr, tb.attr, "backward" if fn == ">=" else "forward")


def auto_asof(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    right_order: str,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """As-of join derived from the NAIVE eligibility predicate.

    ``on`` is the predicate a user would hand to a plain join — exactly
    one equi conjunct ``l.key == r.key`` plus one non-strict inequality
    ``r.ts <= l.ts`` (backward: latest eligible right row) or
    ``r.ts >= l.ts`` (forward: earliest) — and the per-key argmax is
    what makes it an *as-of* join rather than a band join. The walker
    classifies the conjuncts and delegates to
    :func:`sim_spark.ops.asof.asof_join_backward` (union-tag + one keyed
    window — one shuffle, no BNLJ, no per-row subquery).

    Ties on the right timestamp resolve via ``right_order`` exactly as
    the composite documents (backward: greatest; forward: smallest).
    ``payload_cols`` defaults to every right column except the join key.
    Output: all left columns + ``asof_<payload>`` string columns (the
    composite's schema-generic contract; callers re-cast).

    Unlike :func:`auto_join` there is NO plain-join fallback — a plain
    join has different semantics — so an unrecognizable predicate (or
    Column internals that cannot be read) raises ``ValueError`` loudly
    instead of guessing.
    """
    lcols, rcols = set(left.columns), set(right.columns)
    if lcols & rcols:
        raise ValueError(
            f"auto_asof requires disjoint column names; shared: "
            f"{sorted(lcols & rcols)}"
        )
    try:
        parsed = [_asof_parse(c, lcols, rcols) for c in _conjuncts(on._jc.node())]
    except (Py4JError, AttributeError) as exc:  # node-API drift: no fallback
        raise ValueError(
            "auto_asof could not read the join condition's Column tree "
            "(classic PySpark only); build the as-of join explicitly via "
            "sim_spark.ops.asof.asof_join_backward"
        ) from exc
    eqs = [p for p in parsed if p is not None and p[0] == "eq"]
    ineqs = [p for p in parsed if p is not None and p[0] == "ineq"]
    if None in parsed or len(eqs) != 1 or len(ineqs) != 1:
        raise ValueError(
            "auto_asof expects exactly `l.key == r.key AND r.ts <= l.ts` "
            f"(or >=); got {len(eqs)} equi conjunct(s), {len(ineqs)} "
            f"non-strict inequality conjunct(s), "
            f"{parsed.count(None)} unrecognized"
        )
    _, l_key, r_key = eqs[0]
    _, l_ts, r_ts, direction = ineqs[0]
    if payload_cols is None:
        payload_cols = [c for c in right.columns if c != r_key]
    # The composite unions both sides on a shared key name; rename the
    # right key to the left's (names are disjoint, so no collision).
    return asof_join_backward(
        left,
        right.withColumnRenamed(r_key, l_key),
        key=l_key,
        left_ts=l_ts,
        right_ts=r_ts,
        payload_cols=payload_cols,
        right_order=right_order,
        direction=direction,
    )
