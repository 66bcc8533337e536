"""As-of (temporal) join: for each left row, the latest right row at or
before it (``backward``) or the earliest at or after it (``forward``),
per key.

Spark has no built-in as-of join; the crawl data model needs one
constantly — "which robots snapshot governed this fetch", "which capture
was current when this citation was emitted", "latest click before each
purchase". The reference resolves these with CDX best-capture scans
keyed by timestamp (see `plans/frontier.py` W2, reference ia.py:371-390)
— this operator is the general form.

Two physical strategies, same semantics:

* **union-window** (default): tag both sides, union, one window per key
  ordered by (time, side) with ``last(payload, ignorenulls)`` carrying
  the right payload forward. ONE shuffle total (the window exchange) —
  no range-condition join, which Catalyst would execute as a
  BroadcastNestedLoop/cartesian and explode at scale.
* **bucketed** (``bucket_s=...``): the union-window serializes each
  key's full history through one task; a hot key (a crawl host with
  10^8 fetches) becomes a straggler. Bucketing windows over
  (key, time-bucket) instead — parallel across buckets — then resolves
  rows with no in-bucket match via a second, bucket-granularity as-of
  over the per-bucket LAST right rows (keys × buckets rows, tiny).
  Exactly equal to the plain path (pytest-pinned), survives single-key
  skew.

Right-side rows must be unique per (key, time) — at equal timestamps
"the" latest row is undefined; callers dedupe first (e.g. last-wins by
id, operators A8). Matching is inclusive at equal time, like DuckDB
``ASOF JOIN`` (``l.t >= r.t``) and pandas ``merge_asof``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

_T = "__asof_t"
_SIDE = "__asof_side"
_B = "__asof_b"
_PFX = "__asof_r_"
_RT = "__asof_rt"
_SUFFIX = "_right"  # matched right payload column ``<col>_right``


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_cols: list[str],
):
    """Unified (keys, time, side, left-payload, right-payload) relation
    over the ``left_time`` column both sides carry.

    side 0 = right, 1 = left: at equal time the right row sorts first,
    so the inclusive (>=) match falls out of plain (time, side) order.
    """
    left_payload = [c for c in left.columns if c not in on and c != left_time]
    l = left.select(
        *on,
        F.col(left_time).alias(_T),
        F.lit(1).alias(_SIDE),
        *[F.col(c) for c in left_payload],
        *[F.lit(None).cast(right.schema[c].dataType).alias(_PFX + c)
          for c in right_cols],
    )
    r = right.select(
        *on,
        F.col(left_time).alias(_T),
        F.lit(0).alias(_SIDE),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left_payload],
        *[F.col(c).alias(_PFX + c) for c in right_cols],
    )
    return l.unionByName(r), left_payload


def _carry(cols: list[str], w) -> list:
    return [
        F.last(F.col(_PFX + c), ignorenulls=True).over(w).alias(_PFX + c)
        for c in cols
    ]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_time: str,
    right_cols: list[str] | None = None,
    direction: str = "backward",
    bucket_s: int | None = None,
    tolerance_s: float | None = None,
) -> DataFrame:
    """Left as-of join on the ``left_time`` column both sides carry.
    Returns every left row plus the matched right payload columns
    renamed ``<col>_right`` (null when no match).

    ``bucket_s`` switches to the skew-proof two-phase plan (bucket
    width in seconds over the time column); semantics are identical.

    ``tolerance_s`` nulls out matches further than that many seconds
    from the left time (pandas ``merge_asof(tolerance=...)``): a
    robots snapshot older than 24h is not "the governing snapshot",
    it's stale — the null-match row is the refetch signal.

    ``direction="nearest"`` picks whichever of the backward/forward
    candidates is closer in time (ties → backward, like pandas). Both
    carries are computed in ONE pass — two windows over the same
    partitioning, so still a single shuffle.
    """
    on = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in on]
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest: {direction}"
        )
    if bucket_s is not None and direction != "backward":
        raise ValueError("bucketed path implements direction='backward'")
    public_right = list(right_cols)
    if tolerance_s is not None or direction == "nearest":
        # carry the matched right time as a hidden payload column so
        # the gap to the left time can be computed after the carry
        right = right.withColumn(_RT, F.col(left_time))
        right_cols = [*right_cols, _RT]

    u, left_payload = _tagged_union(left, right, on, left_time, right_cols)

    if direction == "nearest":
        return _nearest(
            u, on, left, right, left_time, left_payload,
            public_right, right_cols, tolerance_s,
        )
    t_order = F.asc(_T) if direction == "backward" else F.desc(_T)

    if bucket_s is None:
        w = (
            Window.partitionBy(*on)
            .orderBy(t_order, F.asc(_SIDE))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = u.select(*on, _T, _SIDE, *left_payload, *_carry(right_cols, w))
    else:
        u = u.withColumn(_B, F.floor(F.unix_timestamp(_T) / F.lit(bucket_s)))
        # phase 1: in-bucket carry — parallel across (key, bucket)
        wb = (
            Window.partitionBy(*on, _B)
            .orderBy(F.asc(_T), F.asc(_SIDE))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        staged = u.select(
            *on, _T, _SIDE, _B, *left_payload, *_carry(right_cols, wb)
        )
        # phase 2: per-(key, bucket) LAST right row — keys × buckets rows
        wr = (
            Window.partitionBy(*on, _B)
            .orderBy(F.desc(_T), F.desc(_SIDE))
        )
        rp = (
            u.filter(F.col(_SIDE) == 0)
            .withColumn("__asof_rn", F.row_number().over(wr))
            .filter(F.col("__asof_rn") == 1)
            .select(*on, _B, *[_PFX + c for c in right_cols])
        )
        # bucket-granularity as-of: left buckets (side 0 here, so a
        # bucket's own rp — whose rows are all LATER than any in-bucket
        # miss — stays invisible) vs rp buckets (side 1)
        lb = staged.select(*on, _B).distinct().select(
            *on, _B, F.lit(0).alias(_SIDE),
            *[F.lit(None).cast(right.schema[c].dataType).alias(_PFX + c)
              for c in right_cols],
        )
        rb = rp.select(*on, _B, F.lit(1).alias(_SIDE),
                       *[_PFX + c for c in right_cols])
        wc = (
            Window.partitionBy(*on)
            .orderBy(F.asc(_B), F.asc(_SIDE))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carry = (
            lb.unionByName(rb)
            .select(*on, _B, _SIDE, *_carry(right_cols, wc))
            .filter(F.col(_SIDE) == 0)
            .select(
                *on, _B,
                *[F.col(_PFX + c).alias("__asof_c_" + c) for c in right_cols],
            )
        )
        matched = staged.join(carry, on=[*on, _B], how="left").select(
            *on, _T, _SIDE, *left_payload,
            *[
                F.coalesce(F.col(_PFX + c), F.col("__asof_c_" + c))
                .alias(_PFX + c)
                for c in right_cols
            ],
        )

    if tolerance_s is None:
        out_right = [F.col(_PFX + c).alias(c + _SUFFIX) for c in public_right]
    else:
        lt = _epoch_col(F.col(_T), left.schema[left_time].dataType)
        rt = _epoch_col(F.col(_PFX + _RT), right.schema[left_time].dataType)
        ok = F.abs(lt - rt) <= F.lit(float(tolerance_s))
        out_right = [
            F.when(ok, F.col(_PFX + c)).alias(c + _SUFFIX)
            for c in public_right
        ]
    return (
        matched.filter(F.col(_SIDE) == 1)
        .select(*on, F.col(_T).alias(left_time), *left_payload, *out_right)
    )


def _epoch_col(col: Column, dt_) -> Column:
    if isinstance(dt_, TimestampNTZType):
        # NTZ has no epoch; read it in the session TZ — a uniform shift,
        # and both sides go through the same mapping, so the overlap
        # comparisons are unaffected
        col = col.cast("timestamp")
        dt_ = TimestampType()
    if isinstance(dt_, TimestampType):
        # microseconds-as-double is exact (|unix_micros| < 2^53)
        return F.unix_micros(col) / F.lit(1e6)
    return col.cast("double")


def _epoch(col: Column, df: DataFrame, name: str) -> Column:
    return _epoch_col(col, df.schema[name].dataType)


def _nearest(
    u, on, left, right, left_time, left_payload,
    public_right, right_cols, tolerance_s,
):
    """direction='nearest': both carries from one shuffle (the two
    windows share the partitioning; only the sort differs), then a
    row-local pick of the closer side (ties → backward)."""
    wb = (
        Window.partitionBy(*on)
        .orderBy(F.asc(_T), F.asc(_SIDE))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*on)
        .orderBy(F.desc(_T), F.asc(_SIDE))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry_b = [
        F.last(F.col(_PFX + c), ignorenulls=True).over(wb).alias(f"__b_{c}")
        for c in right_cols
    ]
    carry_f = [
        F.last(F.col(_PFX + c), ignorenulls=True).over(wf).alias(f"__f_{c}")
        for c in right_cols
    ]
    m = u.select(*on, _T, _SIDE, *left_payload, *carry_b, *carry_f).filter(
        F.col(_SIDE) == 1
    )
    lt = _epoch_col(F.col(_T), left.schema[left_time].dataType)
    rdt = right.schema[left_time].dataType
    gap_b = lt - _epoch_col(F.col(f"__b_{_RT}"), rdt)
    gap_f = _epoch_col(F.col(f"__f_{_RT}"), rdt) - lt
    if tolerance_s is not None:
        tol = F.lit(float(tolerance_s))
        gap_b = F.when(gap_b <= tol, gap_b)
        gap_f = F.when(gap_f <= tol, gap_f)
    use_b = gap_b.isNotNull() & (gap_f.isNull() | (gap_b <= gap_f))
    use_f = gap_f.isNotNull() & ~use_b
    out_right = [
        F.when(use_b, F.col(f"__b_{c}"))
        .when(use_f, F.col(f"__f_{c}"))
        .alias(c + _SUFFIX)
        for c in public_right
    ]
    return m.select(
        *on, F.col(_T).alias(left_time), *left_payload, *out_right
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_span: tuple[str, str],
    right_span: tuple[str, str],
    bucket_s: float = 3600.0,
) -> DataFrame:
    """Overlap (range) join without the nested-loop trap: pairs of rows
    whose [start, end] intervals intersect (closed ends), per key.
    Right payload columns are renamed ``<col>_right``.

    Catalyst executes ``l.start <= r.end AND r.start <= l.end`` as a
    BroadcastNestedLoopJoin — quadratic, dead at scale. Here each
    interval fans out to its covering ``bucket_s``-wide time buckets
    (`sequence` + `explode`, bounded by interval length / bucket_s),
    the join is a plain equi-join on (key, bucket), and each
    overlapping pair is kept ONLY in the canonical bucket containing
    ``greatest(l.start, r.start)`` — the overlap's first instant — so
    no dedup/distinct pass is needed. Pick ``bucket_s`` near the
    typical interval length: fan-out stays O(1) per row while bucket
    populations stay small.

    Timestamp columns are compared at microsecond precision (epoch
    seconds as double); numeric columns compare as-is."""
    on = [on] if isinstance(on, str) else list(on)
    ls, le = left_span
    rs, re_ = right_span

    def prep(df: DataFrame, s: str, e: str, tag: str):
        start = _epoch(F.col(s), df, s).alias(f"__iv_s{tag}")
        end = _epoch(F.col(e), df, e).alias(f"__iv_e{tag}")
        payload = [c for c in df.columns if c not in on]
        return df.select(*on, start, end, *payload)

    l = prep(left, ls, le, "l")
    r = prep(right, rs, re_, "r")
    for c in [c for c in right.columns if c not in on]:
        r = r.withColumnRenamed(c, c + _SUFFIX)

    def burst(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "__iv_b",
            F.explode(
                F.sequence(
                    F.floor(F.col(s) / F.lit(bucket_s)),
                    F.floor(F.col(e) / F.lit(bucket_s)),
                )
            ),
        )

    lb, rb = burst(l, "__iv_sl", "__iv_el"), burst(r, "__iv_sr", "__iv_er")
    canon = F.floor(
        F.greatest(F.col("__iv_sl"), F.col("__iv_sr")) / F.lit(bucket_s)
    )
    return (
        lb.join(rb, on=[*on, "__iv_b"], how="inner")
        .filter(
            (F.col("__iv_sl") <= F.col("__iv_er"))
            & (F.col("__iv_sr") <= F.col("__iv_el"))
            & (F.col("__iv_b") == canon)
        )
        .drop("__iv_b", "__iv_sl", "__iv_el", "__iv_sr", "__iv_er")
    )
