"""Temporal joins: as-of join (latest right row at-or-before each
left row's time, per key) — the standard event-to-state attachment
(prices, profiles, config versions) that plain equi-joins cannot
express and naive range joins explode on.

Spark-first shape (the scalable pattern, not a per-key loop): UNION
the tagged sides, ONE shuffle+sort by (key, time, tag), and a
running ``last(ignorenulls)`` window carries the most recent right
payload forward onto each left row. Cost is a single exchange +
sort — O(n log n) per key group, no range-join blowup, AQE-skew-
handleable like any other sort-merge shape. (A per-key hot spot can
additionally be range-bucketed by time before the union; the window
then runs per (key, bucket) with a carried boundary row.)
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _epoch_seconds(col: F.Column, dtype: str) -> F.Column:
    """Fractional epoch seconds from a numeric or timestamp column.
    Spark 4 (ANSI) refuses TIMESTAMP_NTZ -> DOUBLE directly; going
    through TIMESTAMP_LTZ keeps the microsecond fraction (differences
    are tz-shift-invariant, which is all the gap/tolerance math
    needs)."""
    if dtype.startswith("timestamp"):
        return col.cast("timestamp_ltz").cast("double")
    return col.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Union[str, Sequence[str], None] = None,
    suffix: str = "_right",
    tolerance: Optional[float] = None,
) -> DataFrame:
    """For every left row, attach the LATEST right row whose ``on``
    time is <= the left row's (per ``by`` key). Left join semantics:
    left rows with no prior right row keep nulls. Right columns that
    clash with left names get ``suffix``; the matched right time is
    always emitted as ``{on}{suffix}``.

    ``tolerance``: optional max age in the units of ``on`` (seconds
    for timestamps) — an older match is nulled out, matching pandas
    ``merge_asof(tolerance=...)``.

    Ties: a right row AT the left row's exact time matches (>=
    semantics, same as DuckDB ASOF JOIN — the oracle replays this
    operator 1:1). The right side should be unique per (key, time) —
    with several right rows at the SAME instant, which one wins is an
    arbitrary (stable-sort) tie; pre-aggregate to one state per
    (key, time) for deterministic output (asof_join_events does).

    With ``by=None`` there is no partition key: the single global
    window funnels every row through ONE partition (a deliberate,
    documented cost — fine for a small reference table, wrong for a
    large one; give it a key or pre-bucket by time range).
    """
    keys: List[str] = [by] if isinstance(by, str) else list(by or [])
    if on in keys:
        raise ValueError(
            f"asof_join: on={on!r} cannot also be a 'by' key — the "
            "match time would be constant within every group"
        )
    reserved = {"__t", "__tag", "__l", "__r", "__m"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"asof_join: input columns {sorted(clash)} collide with "
            "reserved working names — rename them first"
        )
    lcols = left.columns
    rpayload = [c for c in right.columns if c not in keys]

    lstruct = F.struct(*[F.col(c) for c in lcols]).alias("__l")
    rfields = []
    for c in rpayload:
        out_name = f"{c}{suffix}" if (c in lcols or c == on) else c
        rfields.append(F.col(c).alias(out_name))
    rstruct = F.struct(*rfields).alias("__r")

    lt = left.select(
        *[F.col(k) for k in keys],
        F.col(on).alias("__t"),
        F.lit(1).alias("__tag"),
        lstruct,
    )
    rt = right.select(
        *[F.col(k) for k in keys],
        F.col(on).alias("__t"),
        F.lit(0).alias("__tag"),
        rstruct,
    )
    ltype = dict(zip(lt.columns, (f.dataType for f in lt.schema)))["__l"]
    rtype = dict(zip(rt.columns, (f.dataType for f in rt.schema)))["__r"]
    u = lt.withColumn("__r", F.lit(None).cast(rtype)).unionByName(
        rt.withColumn("__l", F.lit(None).cast(ltype))
    )

    # right rows (__tag 0) sort BEFORE left rows at the same time ->
    # >= match semantics; last(ignorenulls) carries the newest right
    # payload forward within the key group
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        if keys
        else Window.orderBy(F.col("__t").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("__r", ignorenulls=True).over(w)
    if tolerance is not None:
        tdtype = dict(
            (f.name, f.dataType.simpleString()) for f in u.schema
        )["__t"]
        age = _epoch_seconds(F.col("__t"), tdtype) - _epoch_seconds(
            matched[f"{on}{suffix}"], tdtype
        )
        matched = F.when(age <= tolerance, matched)
    out = (
        u.withColumn("__m", matched)
        .filter(F.col("__tag") == 1)
        .select("__l.*", *[F.col(f"__m.{f.name}") for f in rtype.fields])
    )
    return out


def sessionize(
    events: DataFrame,
    on: str = "ts",
    by: Union[str, Sequence[str]] = "user_id",
    gap: int = 1800,
    order_tiebreak: Optional[str] = None,
) -> DataFrame:
    """Gap-based sessionization: events of a key belong to the same
    session while consecutive gaps stay <= ``gap`` seconds; a larger
    gap (or the key's first event) starts a new session. Returns the
    input plus ``session_start`` (0/1) and ``session_id`` (1-based
    per key, dense).

    Shape: one shuffle+sort per key group and two stacked window
    functions (lag + running sum), deterministic and oracle-replayable
    because lag/cumsum is plain ANSI SQL. ``order_tiebreak``: optional
    column making the within-key order total when timestamps collide
    (e.g. an event id), so session ids are reproducible run-to-run."""
    keys: List[str] = [by] if isinstance(by, str) else list(by)
    order = [F.col(on).asc()] + (
        [F.col(order_tiebreak).asc()] if order_tiebreak else []
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    dtype = dict(
        (f.name, f.dataType.simpleString()) for f in events.schema
    )[on]
    t = _epoch_seconds(F.col(on), dtype)
    prev = F.lag(t).over(w)
    start = F.when(
        prev.isNull() | ((t - prev) > F.lit(float(gap))), 1
    ).otherwise(0)
    running = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = events.withColumn("session_start", start)
    return out.withColumn(
        "session_id", F.sum("session_start").over(running).cast("long")
    )


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start: str = "w_start",
    end: str = "w_end",
    by: Union[str, Sequence[str], None] = None,
    bucket: int = 1800,
) -> DataFrame:
    """Interval (range) join at scale: each point row joins every
    interval row of the same key whose [start, end) contains its time.

    Spark's native plan for ``p.ts >= i.start AND p.ts < i.end`` is a
    broadcast-nested-loop / cartesian refine — O(|P|x|I|) per key, the
    classic range-join blowup. The scalable shape instead buckets time
    into fixed ``bucket``-second bins: every interval is EXPLODED onto
    each bin it overlaps (short intervals -> 1-2 rows), every point
    maps to exactly ONE bin, and the join becomes a plain shuffled
    equi-join on (key, bin) + an exact containment refine. Each
    (point, interval) pair meets in exactly one bin — the point's —
    so no post-join dedup is needed. Cost: one shuffle each side on
    (key, bin); works with AQE skew splitting like any equi-join.

    Bin width trades replication for selectivity: ~the median interval
    length is a good default (intervals replicate ~2x; each bin pairs
    only co-located rows).
    """
    keys: List[str] = [by] if isinstance(by, str) else list(by or [])
    reserved = {"__bin", "__t", "__s", "__e"}
    clash = reserved & (set(points.columns) | set(intervals.columns))
    if clash:
        raise ValueError(
            f"range_join_bucketed: input columns {sorted(clash)} collide "
            "with reserved working names — rename them first"
        )
    pdtype = dict(
        (f.name, f.dataType.simpleString()) for f in points.schema
    )[point_ts]
    idtype = dict(
        (f.name, f.dataType.simpleString()) for f in intervals.schema
    )
    pt = _epoch_seconds(F.col(point_ts), pdtype)
    ist = _epoch_seconds(F.col(start), idtype[start])
    ien = _epoch_seconds(F.col(end), idtype[end])

    p = points.withColumn(
        "__t", pt
    ).withColumn("__bin", F.floor(pt / F.lit(float(bucket))))
    # half-open [start, end): the last covered bin is the one holding
    # end - epsilon, i.e. floor((end - 1microsecond)/bucket) — computed
    # as floor(start/bucket)..floor(end/bucket) then refined exactly,
    # which over-covers by at most one empty bin per interval.
    i = (
        intervals.withColumn("__s", ist)
        .withColumn("__e", ien)
        .withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(ist / F.lit(float(bucket))),
                    F.floor(ien / F.lit(float(bucket))),
                )
            ),
        )
    )
    joined = p.join(i, keys + ["__bin"]).filter(
        (F.col("__t") >= F.col("__s")) & (F.col("__t") < F.col("__e"))
    )
    return joined.drop("__bin", "__t", "__s", "__e")
