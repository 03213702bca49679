"""Backward as-of join as a DataFrame composition (SURVEY.md §4.3).

Spark has no as-of join in SQL/DataFrame (pandas-on-Spark ``merge_asof``
routes through a different API). The union-tag formulation costs one
shuffle on the key plus one in-partition sort — O(n log n), the same
shape as a sort-merge join, so it scales like any keyed window:

  1. tag right rows 1, left rows 0; union on (key, ts, payload);
  2. window per key ordered by (ts, right-first-at-ties, right order col);
  3. ``last(payload, ignoreNulls)`` over the preceding frame gives each
     left row the most recent right payload with right.ts <= left.ts.

Determinism: ties on right.ts resolve to the greatest ``right_order``
value (caller supplies a unique column, e.g. event_id) — matching an
ORDER BY ts DESC, right_order DESC LIMIT 1 correlated subquery exactly.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Integral only: __asof_order is carried as long in the union leg, so a
# fractional order column would truncate (1.2 vs 1.9 tie alias) and the
# "total tie-break" guarantee would silently break.
_ORDER_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

_PAYLOAD = "__asof_payload"
_IS_RIGHT = "__asof_is_right"


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    right_order: str,
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach the latest right row (same ``key``) with
    ``right_ts`` <= ``left_ts``; payload columns are NULL when no such row
    exists (left-outer semantics).

    ``direction='forward'`` flips the scan: the EARLIEST right row with
    ``right_ts`` >= ``left_ts`` (ties to the smallest ``right_order``,
    matching ORDER BY ts ASC, order ASC LIMIT 1) — same single
    shuffle+sort, just a descending window order.

    NULL semantics match the correlated-subquery contract exactly:
    right rows with NULL key or NULL ts can never satisfy
    ``r.key = l.key AND r.ts <= l.ts`` (three-valued logic) and are
    filtered out; left rows with NULL ts are pinned FIRST in the window
    order so no right row precedes them — they get NULL payloads rather
    than a phantom match. ``right_order`` must be integral (it travels as
    long in the union leg) — a non-integral column would cast lossily or
    to NULL and silently destroy the tie-break, so it is rejected loudly."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward': {direction!r}")
    if not isinstance(right.schema[right_order].dataType, _ORDER_TYPES):
        raise TypeError(
            f"right_order column {right_order!r} must be an integral type "
            f"(byte/short/int/long) for a lossless total tie-break; got "
            f"{right.schema[right_order].dataType.simpleString()}"
        )
    lcols = left.columns
    l_tag = left.withColumn(_IS_RIGHT, F.lit(0)).withColumn(_PAYLOAD, F.lit(None).cast(
        "struct<" + ",".join(f"{c}:string" for c in payload_cols) + ">"
    ))
    # Payload travels as a struct of strings: one column, one last() call;
    # callers re-cast on the way out. Keeps the helper schema-generic.
    r_payload = F.struct(*[F.col(c).cast("string").alias(c) for c in payload_cols])
    r_tag = (
        right.filter(F.col(key).isNotNull() & F.col(right_ts).isNotNull())
        .select(
            F.col(key),
            F.col(right_ts).alias(left_ts),
            F.lit(1).alias(_IS_RIGHT),
            r_payload.alias(_PAYLOAD),
            F.col(right_order).cast("long").alias("__asof_order"),
        )
    )
    l_tag = l_tag.select(
        *lcols, _IS_RIGHT, _PAYLOAD, F.lit(None).cast("long").alias("__asof_order")
    )
    unioned = l_tag.unionByName(r_tag, allowMissingColumns=True)

    # Right rows sort before left rows at equal ts (<=/>= include the
    # boundary); among right ties, last() keeps whichever it sees last:
    # backward wants the greatest right_order (asc order), forward the
    # smallest (desc order).
    # NULL-ts left rows pin FIRST in both directions (no preceding right
    # rows -> NULL payload), matching the unknown-comparison SQL result.
    if direction == "forward":
        order = [
            F.col(left_ts).desc_nulls_first(),
            F.col(_IS_RIGHT).desc(),
            F.col("__asof_order").desc_nulls_first(),
        ]
    else:
        order = [
            F.col(left_ts).asc_nulls_first(),
            F.col(_IS_RIGHT).desc(),
            F.col("__asof_order").asc_nulls_first(),
        ]
    w = (
        W.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = unioned.withColumn(_PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w))
    out = matched.filter(F.col(_IS_RIGHT) == 0).select(
        *lcols, *[F.col(f"{_PAYLOAD}.{c}").alias(f"asof_{c}") for c in payload_cols]
    )
    return out


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


def _conjuncts(n) -> list:
    if _cls(n) == "UnresolvedFunction" and n.functionName() == "and":
        out = []
        for c in _children(n):
            out.extend(_conjuncts(c))
        return out
    return [n]


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
    na, nb = (_attr_name(c) for c in _children(n))

    def side(name: str | None):
        if name in lcols and name not in rcols:
            return "l"
        if name in rcols and name not in lcols:
            return "r"
        return None

    sa, sb = side(na), side(nb)
    if sa is None or sb is None or sa == sb:
        return None
    if sa == "r":  # normalize so na is the LEFT attribute
        na, nb = nb, na
        fn = {"<=": ">=", ">=": "<=", "=": "=", "==": "=="}[fn]
    if fn in ("=", "=="):
        return ("eq", na, nb)
    # l_ts >= r_ts: right rows at-or-before the left row → backward scan;
    # l_ts <= r_ts: right rows at-or-after → forward scan.
    return ("ineq", na, nb, "backward" if fn == ">=" else "forward")


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
    :func:`asof_join_backward` (union-tag + one keyed window — one
    shuffle, no BNLJ, no per-row subquery).

    Ties on the right timestamp resolve via ``right_order`` exactly as
    the composite documents (backward: greatest; forward: smallest).
    ``payload_cols`` defaults to every right column except the join key.
    Output: all left columns + ``asof_<payload>`` string columns (the
    composite's schema-generic contract; callers re-cast).

    There is NO plain-join fallback — a plain join has different
    semantics — so an unrecognizable predicate (or Column internals that
    cannot be read) raises ``ValueError`` loudly instead of guessing.
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
