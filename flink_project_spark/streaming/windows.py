"""Streaming window aggregations — T1-T8.

Because F.window()/watermark semantics are identical over batch and
streaming DataFrames, the batch operators in operators/windows.py run
unchanged on a readStream input; this module adds the streaming-only
concerns: watermarks (late-data drop), per-resolution query fan-out, and
UV (distinct users) per window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_project_spark.operators.windows import tumbling_counts


def with_watermark(stream: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """T3/T4/T6: bounded-out-of-orderness watermark.

    Ref: EventTimeWindow.java:23-29 (BoundedOutOfOrdernessTimestampExtractor,
    10 s), MyPeriodicAssigner.scala:10-21 (custom maxTs - bound assigner —
    Spark computes exactly max-event-time - delay internally, so the
    custom assigner needs no port), ActionLogJob.java:38,180-183 (10 min
    allowed lateness: rows older than watermark are dropped and windows
    finalize — identical semantics in append mode).
    """
    return stream.withWatermark(ts_col, delay)


def tumbling_stream(
    stream: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    watermark: str = "10 seconds",
    value_col: str | None = "value",
) -> DataFrame:
    """T1/T2: tumbling event-time window + count/sum over a stream.

    Ref: WindowDemo.scala:14 (processing-time 10 s), EventTimeWindow.java:39-44
    (event-time 5 s reduce). Event-time is the only mode exposed — the
    reference's processing-time windows are a special case (ingest time
    as event time). ``value_col=None`` gives count-only windows for
    streams with no numeric payload (the batch twin supports the same).
    """
    return tumbling_counts(
        with_watermark(stream, ts_col, watermark),
        ts_col,
        duration,
        keys,
        value_col=value_col,
    )


def multi_resolution_streams(
    stream: DataFrame,
    ts_col: str,
    keys: list[str],
    watermark: str = "10 minutes",
    resolutions: dict[str, str] | None = None,
    day_offset_hours: int = 8,
) -> dict[str, DataFrame]:
    """T5: the 5m/15m/1h/1d multi-resolution aggregation, one streaming
    DataFrame per resolution.

    Ref: ActionLogJobSecond.java:207-231. Returned as separate streams —
    Structured Streaming forbids unioning independent stateful
    aggregations into one query, and operationally each resolution is
    its own writeStream (own trigger cadence, own state store), which is
    also how the reference deploys (separate MapState per resolution).
    The +8h day alignment matches the reference's UTC+8 dashboard day
    (java:226).
    """
    resolutions = resolutions or {
        "5m": "5 minutes",
        "15m": "15 minutes",
        "1h": "1 hour",
        "1d": "1 day",
    }
    from flink_project_spark.operators.windows import _duration_seconds

    wm = with_watermark(stream, ts_col, watermark)
    out = {}
    for label, dur in resolutions.items():
        # day alignment keys on the DURATION, matching the batch twin
        # multi_resolution_counts — a custom dict naming its 1-day
        # entry anything else still gets the +8h grid, and a '1d'
        # label on a non-day duration gets none
        start = (
            f"-{day_offset_hours} hours"
            if _duration_seconds(dur) == 86400
            else None
        )
        win = (
            F.window(F.col(ts_col), dur, startTime=start)
            if start
            else F.window(F.col(ts_col), dur)
        )
        out[label] = (
            wm.groupBy(win.alias("w"), *keys)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.lit(label).alias("resolution"),
                F.col("w.start").alias("window_start"),
                *keys,
                "cnt",
            )
        )
    return out


def windowed_uv(
    stream: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    user_col: str = "user_id",
    watermark: str = "10 minutes",
    exact: bool = False,
) -> DataFrame:
    """T8: per-window distinct users.

    Ref: ActionLogJob.java:255-257,285-329 — the reference pushes user
    ids into an HBase set and reads the size back. Default is
    approx_count_distinct (HLL — the 100 TB answer, no per-user state);
    exact mode dedups (window,keys,user) first, keeping each key until
    the watermark passes its window's end, matching the reference's
    exact HBase-set semantics across micro-batches.
    SURVEY §4 documents this deviation-by-default.
    """
    # only EXACT mode inflates the watermark to cover the window; the
    # approx path honors the caller's bound — inflating it there would
    # both admit ~window-duration-late rows and delay append-mode
    # emission by a full window for no benefit.
    # DOCUMENTED trade-off: exact mode therefore admits rows up to
    # ~duration late where approx mode drops them past `watermark` —
    # the two modes can differ on heavily-late input by construction,
    # not only by the estimator's error
    wm = with_watermark(
        stream,
        ts_col,
        duration_max(watermark, duration) if exact else watermark,
    )
    if exact:
        # exact per-window distinct: materialize the window column, then
        # dedup (window, keys, user). The window struct is the one
        # event-time column in the dedup key, so plain dropDuplicates
        # evicts a key once the watermark passes the window's END, when
        # no later row can fall in that window: state is bounded by the
        # open windows' distinct users. dropDuplicatesWithinWatermark
        # does not fit a window struct: its state emptied on a no-data
        # batch while the window was still open, so a user seen in two
        # micro-batches of one window counted twice.
        w = wm.select(
            F.window(F.col(ts_col), duration).alias("w"), *keys, user_col
        )
        return (
            w.dropDuplicates(["w", *keys, user_col])
            .groupBy("w", *keys)
            # count(user_col), not count(1): a NULL user survives dedup
            # as its own group row, but COUNT DISTINCT semantics (the
            # approx path and the batch countDistinct twin) never count
            # NULL as a user — the two modes must agree
            .agg(F.count(F.col(user_col)).alias("uv"))
            .select(F.col("w.start").alias("window_start"), *keys, "uv")
        )
    return (
        wm.groupBy(F.window(F.col(ts_col), duration).alias("w"), *keys)
        .agg(F.approx_count_distinct(user_col).alias("uv"))
        .select(F.col("w.start").alias("window_start"), *keys, "uv")
    )


def sliding_stream(
    stream: DataFrame,
    ts_col: str,
    size: str,
    slide: str,
    keys: list[str],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding (hopping) windows over a stream — same operator as the
    batch `operators.windows.sliding_counts`, plus a watermark."""
    from flink_project_spark.operators.windows import sliding_counts

    return sliding_counts(
        with_watermark(stream, ts_col, watermark), ts_col, size, slide, keys
    )


def session_stream(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows over a stream (F.session_window + watermark).

    Sessions merge across micro-batches until the watermark passes
    session_end; append mode then emits each finalized session once.
    """
    from flink_project_spark.operators.windows import session_counts

    return session_counts(
        with_watermark(stream, ts_col, watermark), ts_col, gap, keys
    )


def duration_max(a: str, b: str) -> str:
    """Pick the larger of two '<n> <unit>' durations (watermark must cover
    at least one full window). Parsing is shared with the batch window
    operators (ONE unit table — the two copies had already started as
    duplicates)."""
    from flink_project_spark.operators.windows import _duration_seconds

    return a if _duration_seconds(a) >= _duration_seconds(b) else b
