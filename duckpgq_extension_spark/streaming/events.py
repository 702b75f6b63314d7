"""Structured-Streaming operators over event streams.

Beyond-reference addition (the reference has no streaming surface,
SURVEY.md §2C).  Each transformation is written against a plain DataFrame
so the SAME builder serves batch (for oracle verification) and streaming
(readStream + watermark) — the Spark idiom for keeping one code path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def epoch_us(c: F.Column) -> F.Column:
    """Epoch microseconds for TIMESTAMP *or* TIMESTAMP_NTZ columns.

    pyspark 4.1 reads the testdata's parquet TIMESTAMP(NANOS) as
    TIMESTAMP_NTZ, which unix_micros() rejects.  The session timezone is
    pinned to UTC (session.get_spark / entry_queries.setup), so casting
    NTZ -> TIMESTAMP reinterprets the wall clock as a UTC instant — the
    exact semantics of DuckDB's epoch_us() on its naive TIMESTAMP, keeping
    oracle comparisons bit-identical.  The cast is a no-op on LTZ inputs.
    """
    return F.unix_micros(c.cast("timestamp"))


def tumbling_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Per event-type tumbling-window counts + value sums."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization (batch): a new session starts when a user
    is idle longer than the gap.  lag + running-sum windows — one shuffle
    on user_id.  Returns events + session_id (user_id-scoped ordinal)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    # microsecond precision: ts.cast("long") truncates to whole seconds,
    # which can split sessions differently from a µs-exact engine when a
    # true gap falls inside (gap, gap+1s)
    gap_us = gap_minutes * 60 * 1_000_000
    ts_us = epoch_us(F.col("ts"))
    with_gap = events.withColumn(
        "__new_session",
        (
            F.coalesce(ts_us - F.lag(ts_us).over(w), F.lit(gap_us + 1)) > gap_us
        ).cast("int"),
    )
    return with_gap.withColumn(
        "session_id",
        F.sum("__new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("__new_session")


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-session aggregates derived from sessionize()."""
    s = sessionize(events, gap_minutes)
    return s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


# -- streaming entry points -------------------------------------------------


def stream_from_parquet(
    spark: SparkSession, path: str, schema: str = EVENT_SCHEMA
) -> DataFrame:
    """File-source stream over a parquet directory (for tests/local runs;
    production would be Kafka with the same downstream code)."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_stream(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling aggregation: late events beyond `watermark`
    are dropped, state is bounded — the canonical late-data pattern."""
    return tumbling_counts(events_stream.withWatermark("ts", watermark), window)


def join_streams_interval(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    bound: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each left event matched with the right
    events of the same `key` whose timestamp falls in
    [left.ts, left.ts + bound] — e.g. purchases attributed to the views
    that preceded them.

    Both sides are watermarked and the join carries an explicit event-time
    range condition, which is what lets Structured Streaming BOUND the
    join state: a buffered row can be evicted once the other side's
    watermark passes its `ts` + bound (without the range condition the
    state grows forever).  Output columns are prefixed l_/r_ so the two
    sides stay distinguishable.

    The same builder works on batch frames (watermark is a no-op there),
    keeping one code path for oracle checks.
    """
    lw = left.withWatermark("ts", watermark).alias("l")
    rw = right.withWatermark("ts", watermark).alias("r")
    joined = lw.join(
        rw,
        F.expr(
            f"l.{key} = r.{key} AND r.ts >= l.ts "
            f"AND r.ts <= l.ts + INTERVAL {bound}"
        ),
    )
    out = [F.col(f"l.{key}").alias(key)]
    for side in ("l", "r"):
        for c in left.columns if side == "l" else right.columns:
            if c != key:
                out.append(F.col(f"{side}.{c}").alias(f"{side}_{c}"))
    return joined.select(*out)


def run_stream_to_memory(
    agg_stream: DataFrame, query_name: str, output_mode: str = "append"
):
    """Drive a (bounded) stream to completion into an in-memory sink and
    return the handle; caller reads `SELECT * FROM <query_name>`."""
    q = (
        agg_stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    return q


def running_user_totals_stream(
    events_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event count + value total maintained across
    micro-batches (arbitrary state the built-in aggregations can't express
    is the point — this is the template for custom incremental operators).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        (user_id,) = key
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id long, n_events long, total_value double",
            "n long, total double",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def running_user_totals_stream_v2(
    events_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """running_user_totals_stream on the arbitrary-state v2 API
    (`transformWithStateInPandas`, Spark 4.x): typed per-key ValueState
    with optional TTL/timers — the recommended successor to
    applyInPandasWithState for custom incremental operators.  Kept
    alongside the v1 operator so both templates are covered; identical
    output contract (per-user running count + value total).

    Requires the `protobuf` package (the v2 state protocol serializes via
    google.protobuf); raises a clear error when it is absent — use
    running_user_totals_stream (applyInPandasWithState) there instead.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        from ..errors import PGQNotImplementedError

        raise PGQNotImplementedError(
            "transformWithStateInPandas needs the 'protobuf' package, which "
            "is not installed in this environment; use "
            "running_user_totals_stream (applyInPandasWithState) instead"
        ) from exc
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                n, total = self._totals.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            "user_id long, n_events long, total_value double",
            "Update",
            "None",
        )
    )


def sessionize_stream(events_stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization via the native session_window (state is
    merged incrementally; watermark bounds it)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    events_stream: DataFrame,
    key_cols: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact deduplication: keep the first event per key.

    `dropDuplicatesWithinWatermark` bounds state by the watermark — a key's
    dedup entry is dropped once it can no longer collide with a late
    arrival, so state stays O(keys per watermark window) instead of
    O(all keys ever).  This is the streaming face of
    operators.dedup.deduplicate_exact: same keep-first semantics, bounded
    state, one shuffle on the key columns.
    """
    return events_stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def dedup_stream_batch_equivalent(events: DataFrame, key_cols: list[str], ts_col: str = "ts") -> DataFrame:
    """Batch frame equal to dedup_stream's complete output on a bounded
    source when events arrive in order: the earliest row per key (ties on
    the timestamp keep one arbitrary row, matching streaming arrival
    order)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col))
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def degree_stream(
    edge_stream: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Incremental graph maintenance: running out-/in-degree per vertex
    over an edge STREAM — the first building block of a continuously
    maintained graph (SUMMARIZE-style stats without re-scanning history).

    Each arriving edge feeds two (vid, out, in) increments through a
    single streaming aggregation (a union-then-one-groupBy, because two
    separate keyed aggs cannot be joined in one streaming query).  Run
    in "complete"/"update" output mode; state is one row per live
    vertex.  For unbounded vertex churn, put a TTL on vertex ids
    upstream (watermark + window) — degree state itself has no event
    time to water-mark.
    """
    both = edge_stream.select(
        F.col(src_col).alias("vid"),
        F.lit(1).alias("o"),
        F.lit(0).alias("i"),
    ).unionByName(
        edge_stream.select(
            F.col(dst_col).alias("vid"), F.lit(0).alias("o"), F.lit(1).alias("i")
        )
    )
    return both.groupBy("vid").agg(
        F.sum("o").alias("out_deg"), F.sum("i").alias("in_deg")
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    within_us: int | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Funnel analysis (beyond-reference): for every user who performed
    steps[0], the earliest strictly-ordered completion of the step
    sequence — step k's timestamp is the MINIMUM event time of type
    steps[k] that falls after the user's step k-1 time (and, with
    `within_us`, no later than step0 + within).

    Returns (user_col, steps_completed, first_us, last_us): the depth
    reached and the entry/deepest timestamps in epoch microseconds —
    the standard conversion-funnel metric (aggregate with
    groupBy(steps_completed).count() for the funnel chart).

    Scale design: one filtered groupBy per step over the events scan,
    each joined user-keyed to the accumulated frame — k shuffles on the
    user key for a k-step funnel, no windows, no per-user state; the
    per-step filter pushes to the scan.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    ts_us = epoch_us(F.col(ts_col))
    acc = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_us).alias("t0"))
    )
    for k, step in enumerate(steps[1:], start=1):
        cand = events.where(F.col(type_col) == step).select(
            F.col(user_col), ts_us.alias("__ts")
        )
        cond = F.col("__ts") > F.col(f"t{k - 1}")
        if within_us is not None:
            cond = cond & (F.col("__ts") <= F.col("t0") + F.lit(int(within_us)))
        nxt = (
            cand.join(acc, user_col)
            .where(cond)
            .groupBy(user_col)
            .agg(F.min("__ts").alias(f"t{k}"))
        )
        acc = acc.join(nxt, user_col, "left")
    # t_k non-null implies t_{k-1} non-null, so the depth is simply one
    # plus the count of completed later steps, and the deepest timestamp
    # is the first non-null from the end
    later = [F.col(f"t{k}") for k in range(len(steps) - 1, 0, -1)]
    depth = sum((c.isNotNull().cast("long") for c in later), F.lit(1).cast("long"))
    last = F.coalesce(*later, F.col("t0")) if later else F.col("t0")
    return acc.select(
        F.col(user_col),
        depth.alias("steps_completed"),
        F.col("t0").alias("first_us"),
        last.alias("last_us"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention (beyond-reference): users are cohorted by
    the week of their first event; for every (cohort week, week offset)
    the number of distinct cohort users active that week.  The standard
    retention-triangle input.

    Returns (cohort_us, week_offset, n_users) with the cohort week as
    epoch microseconds of its Monday (date_trunc('week') agrees between
    Spark and DuckDB).  The offset is a calendar DAY difference / 7 —
    not an epoch-microsecond division, which would truncate wrongly in
    DST timezones where adjacent week boundaries are not exactly 168
    hours apart.

    Scale design: per-user-week activity is deduplicated FIRST (map-side
    combine collapses each user's events within a week), then one
    user-keyed join against the first-week frame and one final
    aggregate — no windows, nothing user-sequential.
    """
    wk = F.date_trunc("week", F.col(ts_col))
    act = events.select(F.col(user_col), wk.alias("__wk")).distinct()
    first = act.groupBy(user_col).agg(F.min("__wk").alias("__cohort"))
    return (
        act.join(first, user_col)
        .select(
            epoch_us(F.col("__cohort")).alias("cohort_us"),
            (F.datediff(F.col("__wk"), F.col("__cohort")) / 7)
            .cast("long")
            .alias("week_offset"),
            F.col(user_col),
        )
        .groupBy("cohort_us", "week_offset")
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    top_n: int = 10,
) -> DataFrame:
    """Top event-type paths (beyond-reference): sessionize, concatenate
    each session's event types in (ts, event_id) order into a path
    string like 'view>click>purchase', and return the `top_n` most
    frequent paths — the classic click-path / user-journey report.

    Returns (path, n_sessions, n_users), ordered by (n_sessions DESC,
    path ASC) and limited to top_n; the (ts, event_id) sort key makes
    the concatenation deterministic under timestamp ties.

    Scale design: the per-session path is built by sort-free
    aggregation — array_agg of (ts, event_id, type) structs per session
    (map-side combined) sorted IN-ROW with array_sort, never a global
    or per-partition sort of raw events; then one count aggregate over
    path strings and a single top-n limit.
    """
    s = sessionize(events, gap_minutes=gap_minutes)
    per_session = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        epoch_us(F.col("ts")).alias("u"),
                        F.col("event_id").alias("e"),
                        F.col("event_type").alias("t"),
                    )
                )
            ).alias("__evs")
        )
        .select(
            "user_id",
            F.array_join(F.transform(F.col("__evs"), lambda x: x["t"]), ">").alias(
                "path"
            ),
        )
    )
    return (
        per_session.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(top_n)
    )


# ---------------------------------------------------------------------------
# streaming near-duplicate filtering against a static reference index
# ---------------------------------------------------------------------------


def band_index(ref: DataFrame, id_col: str, text_col: str,
               n: int = 2, num_perm: int = 16, bands: int = 8) -> DataFrame:
    """Distinct (band, bh) MinHash band-bucket index over a REFERENCE
    corpus — the static side of `near_dup_stream`.  Build it once per
    snapshot and persist it (or write it out partitioned/bucketed by
    (band, bh)); at 100 TB the index is the big side and must never be
    broadcast, which is exactly why the stream operator joins on it
    instead of collecting it."""
    from ..operators.dedup import _band_frame, minhash_signatures

    sig = minhash_signatures(ref, id_col, text_col, n=n, num_perm=num_perm)
    return _band_frame(sig, num_perm, bands).select("band", "bh").distinct()


def content_hash_index(ref: DataFrame, text_col: str) -> DataFrame:
    """Distinct md5-prefix content hashes of a reference corpus — the
    static side of `near_dup_stream(mode='exact')`."""
    from ..functions.text import md5_long

    return ref.select(md5_long(F.col(text_col)).alias("__ch")).distinct()


def near_dup_stream(
    docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    mode: str = "near",
    n: int = 2,
    num_perm: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Filter a document STREAM against a static duplicate index: rows
    whose content (mode='exact', index = content_hash_index) or any
    MinHash band bucket (mode='near', index = band_index) collides with
    the reference corpus are dropped — the incremental-crawl companion
    to operators.dedup.cross_corpus_dedup.

    Streaming-safe by construction: signatures are computed IN-ROW
    (minhash_signatures' shuffle-free path lifted to column expressions
    here), and membership is a chain of stream-static LEFT ANTI
    equi-joins — one per band — so there is no stream-side aggregation,
    no watermark requirement, and no state store; each micro-batch joins
    against the (optionally persisted/bucketed) index and emits
    survivors append-mode.  A doc is dropped iff ANY band collides —
    band b's anti-join removes exactly the docs colliding in band b, so
    the chain implements the any-collision policy without recombining
    per-band verdicts.  The same builder runs on a batch frame, which is
    how the oracle gate checks it.
    """
    from ..functions.text import md5_long
    from ..operators.dedup import minhash_sig_inrow, MINHASH_PRIME

    if mode == "exact":
        return (
            docs.withColumn("__ch", md5_long(F.col(text_col)))
            .join(index, "__ch", "left_anti")
            .drop("__ch")
        )
    if mode != "near":
        raise ValueError(f"mode must be 'exact' or 'near', got {mode!r}")
    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    rows = num_perm // bands
    out = docs.withColumn("__sig", minhash_sig_inrow(text_col, n, num_perm))
    # docs with no shingles keep the P sentinel -> nothing to collide
    # with; they pass through (matching cross_corpus_dedup, whose
    # signature frame simply lacks them)
    for b in range(bands):
        bh = F.when(
            F.col("__sig")[0] != MINHASH_PRIME,
            md5_long(
                F.concat_ws(
                    "-",
                    F.transform(
                        F.slice(F.col("__sig"), b * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                )
            ),
        )
        out = out.withColumn("__bh", bh).join(
            index.where(F.col("band") == b).select(F.col("bh").alias("__bh")),
            "__bh",
            "left_anti",
        )
    return out.drop("__bh", "__sig")


def attribute_conversions(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    window_days: int = 7,
) -> DataFrame:
    """Last-touch conversion attribution: for every conversion event, the
    most recent touch event (click/view/...) by the same user that
    precedes the conversion in the per-user (ts_us, event_id) ordering,
    within `window_days`.  "Preceding" is strict on THAT COMPOSITE
    order, not on timestamp alone: a touch sharing the conversion's
    exact timestamp still gets credit when its event_id is smaller
    (deterministic tie order for simultaneous events); an equal-ts
    touch with a larger event_id does not.

    Returns (user_id, conversion_id, conv_us, touch_id, touch_type,
    touch_us) with NULL touch columns for unattributed conversions.

    Scale design: ONE window pass over the per-user event timeline (the
    last-touch candidate is a running last_value(...) IGNORE NULLS over
    rows between unbounded preceding and 1 preceding) — never an
    inequality self-join over the attribution window; the window filter
    is applied after the fact on the carried touch timestamp.
    """
    span_us = window_days * 86400 * 1_000_000
    is_touch = F.col("event_type").isin(*touch_types)
    base = events.select(
        "user_id",
        "event_id",
        "event_type",
        epoch_us(F.col("ts")).alias("ts_us"),
        F.when(is_touch, F.col("event_id")).alias("__tid"),
        F.when(is_touch, F.col("event_type")).alias("__ttype"),
        F.when(is_touch, epoch_us(F.col("ts"))).alias("__tus"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = (
        base.withColumn("__last_tid", F.last("__tid", ignorenulls=True).over(w))
        .withColumn("__last_ttype", F.last("__ttype", ignorenulls=True).over(w))
        .withColumn("__last_tus", F.last("__tus", ignorenulls=True).over(w))
        .where(F.col("event_type") == conversion_type)
    )
    in_window = F.col("__last_tus") >= F.col("ts_us") - span_us
    return attributed.select(
        "user_id",
        F.col("event_id").alias("conversion_id"),
        F.col("ts_us").alias("conv_us"),
        F.when(in_window, F.col("__last_tid")).alias("touch_id"),
        F.when(in_window, F.col("__last_ttype")).alias("touch_type"),
        F.when(in_window, F.col("__last_tus")).alias("touch_us"),
    )


def anomaly_zscore(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-key z-score outlier flags: standardize each event's value
    against ITS KEY's mean/stddev and keep |z| >= threshold — the cheap
    first-pass anomaly screen for metrics pipelines (per-entity
    baselines, not a global one, so heavy users don't mask light ones).

    Returns (key, event_id, value, z).  Keys with fewer than 2 events or
    zero variance produce no rows (z undefined).

    Scale design: one aggregation on the key computes (mean, stddev),
    joined back to the events — two shuffles on the same key, which AQE
    plans as one exchange reuse; no window over the full event list.
    """
    stats = events.groupBy(F.col(key_col).alias("key")).agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_samp(value_col).alias("__sd"),
    )
    return (
        events.select(
            F.col(key_col).alias("key"), "event_id", F.col(value_col).alias("value")
        )
        .join(stats, "key")
        .where(F.col("__sd").isNotNull() & (F.col("__sd") > 0))
        .withColumn("z", (F.col("value") - F.col("__mu")) / F.col("__sd"))
        .where(F.abs(F.col("z")) >= z_threshold)
        .select("key", "event_id", "value", F.round("z", 4).alias("z"))
    )


def event_transitions(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """First-order transition matrix over per-key event sequences: for
    every ordered (current -> next) event-type pair, its count and the
    conditional probability P(next | current) — the Markov-chain summary
    behind journey analysis and sequence-model sanity checks.

    Returns (cur_type, next_type, n, p) with p = n / sum(n per cur_type).

    Scale design: one lead() window over the per-key timeline (the same
    shuffle sessionization uses) then a types x types aggregation —
    output is vocabulary-squared, independent of event volume; the
    probability normalizer is a window over that tiny aggregate, not
    over the events.
    """
    w = Window.partitionBy(key_col).orderBy(epoch_us(F.col("ts")), "event_id")
    steps = (
        events.withColumn("__next", F.lead(type_col).over(w))
        .where(F.col("__next").isNotNull())
        .groupBy(
            F.col(type_col).alias("cur_type"), F.col("__next").alias("next_type")
        )
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("cur_type")
    return steps.select(
        "cur_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    )


def anomaly_stream(
    events_stream: DataFrame,
    baseline_stats: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Streaming z-score anomaly flags: score incoming events against a
    STATIC per-key baseline frame (key, mu, sd) — the production shape
    where baselines are trained offline (anomaly_zscore over history, or
    baseline_stats() below) and the stream is scored with a stateless
    stream-static join; no watermark, no state store, so latency is one
    micro-batch and state never grows.

    Returns (key, event_id, value, z) for |z| >= threshold.  The same
    builder works on a batch frame (the oracle path).
    """
    stats = baseline_stats.select(
        F.col(key_col).alias("key"), F.col("mu"), F.col("sd")
    ).where(F.col("sd").isNotNull() & (F.col("sd") > 0))
    return (
        events_stream.select(
            F.col(key_col).alias("key"),
            "event_id",
            F.col(value_col).alias("value"),
        )
        .join(stats, "key")
        .withColumn("z", (F.col("value") - F.col("mu")) / F.col("sd"))
        .where(F.abs(F.col("z")) >= z_threshold)
        .select("key", "event_id", "value", F.round("z", 4).alias("z"))
    )


def baseline_stats(
    events: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """(key, mu, sd) per-key mean/stddev baseline for anomaly_stream —
    one aggregation over the history batch."""
    return events.groupBy(F.col(key_col).alias(key_col)).agg(
        F.avg(value_col).alias("mu"), F.stddev_samp(value_col).alias("sd")
    )
