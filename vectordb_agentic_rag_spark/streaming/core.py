"""Live Structured Streaming operators over a file-source event stream.

The reference's streaming is the chat loop: messages append to state
and answers stream incrementally (app.py:512-586). The engine's analogue
is real Structured Streaming: the events fixture is replayed as
micro-batches (one parquet file per trigger, deterministic order), so
watermarks, late-data drops, and stateful dedup behave exactly as they
would on a live source — but reproducibly.

These are the genuinely non-SQL-expressible ops (driver runs rows-only
checks); their windowing *semantics* are oracle-checked through the
batch twins in operators/streaming_batch.py, and the late-data behavior
is pinned by tests/test_streaming.py.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import SCRATCH, table

_SCRATCH = f"{SCRATCH}/stream"


def _batch_slice(pdf_iter, sort_cols):
    """Concatenate one key's Arrow chunks for the CURRENT micro-batch
    and sort ONCE across all of them. applyInPandasWithState hands the
    key's batch slice as an iterator of Arrow-sized chunks whose
    relative order after the groupBy shuffle is NOT guaranteed;
    sorting each chunk independently (the pre-round-9 pattern) silently
    corrupts sequential folds and session boundaries once a key's
    per-batch slice spans chunks (>~10k rows/key/batch). Returns the
    time-ordered pandas frame, or None when the slice is empty."""
    import pandas as pd

    parts = [p for p in pdf_iter if len(p)]
    if not parts:
        return None
    pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
    return pdf.sort_values(sort_cols, ignore_index=True)


def _replay_cached(out: str, n_files: int, build) -> str:
    """The replay is a deterministic function of the immutable fixture,
    so build it once per scratch dir and reuse: every streaming op was
    paying an rmtree + n sequential parquet writes per invocation. The
    COMPLETE marker (written after all batches) guards against a
    half-built dir from an interrupted earlier run."""
    import os

    marker = f"{out}/.COMPLETE_{n_files}"
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    build()
    with open(marker, "w") as f:
        f.write("ok")
    return out


def replay_events_as_files(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    """Split events into n parquet files keyed by event_id % n and write
    them in order. Because event time correlates with event_id only
    loosely, every file after the first contains timestamps older than
    the running max — genuine late data for the watermark to drop."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = f"{_SCRATCH}/{tag}"

    def build() -> None:
        ev = table(spark, sf_dir, "events")
        for i in range(n_files):
            (
                ev.where(F.col("event_id") % n_files == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{out}/batch_{i:02d}")
            )

    return _replay_cached(out, n_files, build)


def stream_events(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream over the replayed batches, one file per
    micro-batch trigger."""
    ev_schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    return (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/batch_*")
    )


def _run_to_memory(
    df: DataFrame, name: str, mode: str, shuffle_partitions: int | None = None
) -> None:
    """Start-to-drain a memory-sink query. `shuffle_partitions`
    overrides the session's (small, batch-tuned) shuffle width for
    THIS query only: streaming state stores are partitioned by the
    shuffle width pinned at query start, and a per-key stateful op
    whose cost is per-GROUP Python round-trips wants one partition per
    core, not the batch default."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@query(
    "stream_watermark_late",
    # Full oracle (round 7): with the DETERMINISTIC event_id%4 file
    # replay, the watermark sequence is computable — cumulative
    # max-event-time per batch, ms-truncated, minus the 10-min delay.
    # MEASURED Spark 4.1 behavior (verified value-exact at sf0.01 AND
    # sf0.1): the watermark VISIBLE to batch b is the one computed from
    # stats through batch b-2 (Spark computes a new watermark from a
    # batch's stats and applies it one trigger later), so batches 0
    # and 1 run unfiltered; a window's rows in batch b are dropped iff
    # window_end <= that lag-2 watermark; the final no-data batch
    # (processAllAvailable runs one to apply the last advance) emits
    # every window with end <= the final watermark.
    oracle="""
    WITH b AS (SELECT *, event_id % 4 AS batch FROM events),
    mx AS (SELECT batch, max(epoch_us(ts)) AS mt FROM b GROUP BY batch),
    cum AS (
      SELECT batch,
             ((max(mt) OVER (ORDER BY batch ROWS UNBOUNDED PRECEDING) // 1000)
              - 600000) * 1000 AS wm_after
      FROM mx),
    wm AS (
      SELECT batch,
             coalesce(lag(wm_after, 2) OVER (ORDER BY batch), 0) AS wm_eff
      FROM cum),
    final AS (SELECT max(wm_after) AS fw FROM cum),
    win AS (SELECT batch, (epoch_us(ts) // 3600000000) * 3600000000 AS ws
            FROM b)
    SELECT make_timestamp(w.ws) AS window_start, CAST(count(*) AS BIGINT) AS n
    FROM win w JOIN wm ON w.batch = wm.batch CROSS JOIN final
    WHERE w.ws + 3600000000 > wm.wm_eff
      AND w.ws + 3600000000 <= final.fw
    GROUP BY w.ws
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour count with a 10-minute watermark over the
    replayed micro-batches, append mode: only windows the watermark has
    closed are emitted, and events older than the watermark are dropped
    on arrival (app-level semantics the reference approximates with its
    sliding chat memory). Deterministic because the file replay order
    is fixed."""
    src = replay_events_as_files(spark, sf_dir)
    stream = stream_events(spark, src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    _run_to_memory(agg, "wm_late", "append")
    return spark.table("wm_late")


@query(
    "stream_stateful_dedup",
    # Full oracle (round 7): the state store keeps FIRST-arrival keys,
    # so the drained append output has exactly one row per distinct
    # (user_id, event_type) — the per-type reduction is a plain
    # count(DISTINCT user_id), independent of replay batching.
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
    FROM events GROUP BY event_type
    """,
)
def stream_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type): the state
    store keeps first-arrival keys across micro-batches. Emitted row
    count == distinct key count (the batch twin stream_dedup_batch
    oracle-checks that number)."""
    src = replay_events_as_files(spark, sf_dir)
    stream = stream_events(spark, src)
    deduped = stream.dropDuplicates(["user_id", "event_type"])
    _run_to_memory(deduped, "dedup_stream", "append")
    return (
        spark.table("dedup_stream")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_keys"))
    )


_US_15M = 15 * 60 * 1_000_000


@query(
    "stream_sliding_live",
    # Full oracle (round 7): complete mode keeps every window, so the
    # drained table equals the batch sliding window exactly — the SAME
    # 4-offset expansion oracle as stream_sliding_window (also pinned
    # live==batch by tests/test_streaming.py).
    oracle=f"""
    WITH slid AS (
      SELECT make_timestamp((epoch_us(ts) // {_US_15M}) * {_US_15M} - g * {_US_15M}) AS window_start,
             event_type
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]::BIGINT[]) AS g) offsets)
    SELECT window_start, event_type, count(*) AS n
    FROM slid GROUP BY 1, 2
    """,
)
def stream_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live sliding-window count (1h window / 15m slide) in complete
    mode — the streaming execution of the oracle-checked batch twin.
    Complete mode keeps all windows so the final table equals the batch
    result exactly (asserted in tests/test_streaming.py)."""
    src = replay_events_as_files(spark, sf_dir)
    stream = stream_events(spark, src)
    agg = (
        stream.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    _run_to_memory(agg, "slide_live", "complete")
    return spark.table("slide_live")


def replay_events_time_ordered(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    """Split events into n time-ordered parquet files (ntile over ts).
    Per-key arrival order then matches event time across micro-batches
    — the contract a stateful per-key sessionizer needs (on a real bus
    this is Kafka per-key ordering + watermark-delayed processing)."""
    from pyspark.sql import Window

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = f"{_SCRATCH}/{tag}_ordered"

    def build() -> None:
        ev = table(spark, sf_dir, "events").withColumn(
            "part",
            F.ntile(n_files).over(Window.orderBy("ts", "event_id")),
        )
        for i in range(1, n_files + 1):
            (
                ev.where(F.col("part") == i)
                .drop("part")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{out}/batch_{i:02d}")
            )

    return _replay_cached(out, n_files, build)


@query(
    "stream_stateful_session",
    # Full oracle (round 7): a session CLOSES only when a later event
    # of the same user arrives (in any batch), so the emitted set is
    # exactly the batch sessionization minus each user's LAST session
    # — independent of where the time-ordered replay cuts batches.
    # Same gap rule as agg_sessionize_batch (strict > 30 min).
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged),
    sess AS (
      SELECT user_id, sess_no, count(*) AS n
      FROM numbered GROUP BY user_id, sess_no),
    m AS (SELECT user_id, max(sess_no) AS last_no FROM sess GROUP BY user_id)
    SELECT s.user_id, CAST(count(*) AS BIGINT) AS n_closed_sessions,
           CAST(sum(s.n) AS BIGINT) AS n_events_in_closed
    FROM sess s JOIN m ON s.user_id = m.user_id
    WHERE s.sess_no < m.last_no
    GROUP BY s.user_id
    """,
)
def stream_stateful_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    sessionization with a 30-minute gap, the hand-rolled analogue of
    session_window for when the grouping logic outgrows the built-in
    (the reference's chat session state, app.py:54-67, is the toy
    version of this state store).

    State per user: (session_start_us, last_ts_us, n_events). A new
    event either extends the open session or closes it (gap > 30 min)
    and opens the next; closed sessions are emitted as they close.
    Sessions still open when the replay ends stay in the state store
    (a live pipeline would flush them with an event-time timeout), so
    the emitted set is exactly the batch twin minus each user's final
    session — pinned in tests/test_streaming.py. Output is the
    deterministic per-user summary of closed sessions."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = 30 * 60 * 1_000_000

    def sessionize(key, pdf_iter, state: GroupState):
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        closed: list[tuple[int, int, int, int]] = []
        (user_id,) = key
        part = _batch_slice(pdf_iter, ["ts"])
        if part is not None:
            # vectorized gap-split: sort event times (ns -> us), break
            # where the gap exceeds 30 min, reduce each run to
            # (start, last, count) — no per-event Python. The slice is
            # concatenated across Arrow chunks FIRST (_batch_slice) so
            # the sort spans the whole micro-batch.
            ts = np.sort(part["ts"].to_numpy().astype("datetime64[ns]").astype(np.int64)) // 1000
            seg = np.concatenate(([0], np.cumsum(np.diff(ts) > gap_us)))
            _, first_idx, counts = np.unique(seg, return_index=True, return_counts=True)
            starts = ts[first_idx]
            lasts = ts[first_idx + counts - 1]
            # merge the carried-over open session with the first run
            if start_us is not None:
                if starts[0] - last_us > gap_us:
                    closed.append((user_id, start_us, last_us, n))
                else:
                    starts[0] = start_us
                    counts[0] += n
                start_us = None
            for k in range(len(counts) - 1):
                closed.append(
                    (user_id, int(starts[k]), int(lasts[k]), int(counts[k]))
                )
            start_us, last_us, n = int(starts[-1]), int(lasts[-1]), int(counts[-1])
        state.update((start_us, last_us, n))
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "start_us", "last_us", "n_events"]
            )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=(
            "user_id bigint, start_us bigint, last_us bigint, n_events bigint"
        ),
        stateStructType="start_us bigint, last_us bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        sessions,
        "stateful_sessions",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        spark.table("stateful_sessions")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_closed_sessions"),
            F.sum("n_events").alias("n_events_in_closed"),
        )
    )


@query(
    "stream_foreachbatch_upsert",
    # the maintained table's final state must equal the batch aggregate
    # over all events — an exact-SQL oracle even though the path is
    # incremental
    oracle="""
    SELECT event_type, count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance via foreachBatch — the
    lakehouse sink pattern: each micro-batch's partial counts MERGE
    with the previous state snapshot into a NEW versioned snapshot
    (state/v{n} -> state/v{n+1}; on Delta/Iceberg the version chain is
    the transaction log and this is MERGE INTO). Versioned snapshots
    instead of overwrite-in-place let each trigger commit in a single
    write job — no collect-then-recreate to dodge the read-your-own-
    overwrite hazard, and crash-safety falls out (a failed batch never
    corrupts v{n}). The final snapshot must equal the one-shot batch
    aggregate, which the DuckDB oracle checks exactly — proving the
    incremental path loses nothing. Value sums kept in integer cents
    so merge order can't perturb them."""
    state_root = f"{_SCRATCH}/upsert_state"
    shutil.rmtree(state_root, ignore_errors=True)
    src = replay_events_as_files(spark, sf_dir)
    stream = stream_events(spark, src)
    state_schema = "event_type string, n bigint, value_cents bigint"
    latest = {"version": -1}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        partial = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        if latest["version"] >= 0:
            prev = s.read.schema(state_schema).parquet(
                f"{state_root}/v{latest['version']}"
            )
            merged = (
                prev.unionByName(partial)
                .groupBy("event_type")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("value_cents").alias("value_cents"),
                )
            )
        else:
            merged = partial
        # one write job per trigger; state is one row per event_type
        # (bounded by key cardinality, never by data volume)
        merged.coalesce(1).write.mode("overwrite").parquet(
            f"{state_root}/v{latest['version'] + 1}"
        )
        latest["version"] += 1

    q = stream.writeStream.foreachBatch(merge_batch).start()
    q.processAllAvailable()
    q.stop()
    return (
        spark.read.schema(state_schema)
        .parquet(f"{state_root}/v{latest['version']}")
        .select("event_type", "n", "value_cents")
    )


@query(
    "stream_static_join_enrich",
    # stream-static join is stateless and the replay is deterministic,
    # so the drained result equals the batch join exactly -> full oracle
    oracle="""
    SELECT coalesce(c_mktsegment, 'unknown') AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
    FROM events LEFT JOIN customer ON user_id = c_custkey
    GROUP BY coalesce(c_mktsegment, 'unknown')
    """,
)
def stream_static_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the canonical streaming enrichment: each
    events micro-batch joins the static customer dimension (broadcast;
    stateless, no watermark needed — Spark re-plans the static side per
    batch) and feeds a running per-segment aggregate in complete mode.
    At 100 TB/day the static side is a slowly-changing dim reloaded per
    batch from the lake, and the join never holds stream state, so the
    only stateful operator is the final aggregate."""
    from ..tables import table as t

    src = replay_events_as_files(spark, sf_dir)
    stream = stream_events(spark, src)
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey, "left"
    ).select(
        F.coalesce("c_mktsegment", F.lit("unknown")).alias("segment"), "value"
    )
    agg = enriched.groupBy("segment").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("total_value"),
    )
    _run_to_memory(agg, "static_join_enrich", "complete")
    return spark.table("static_join_enrich")


@query(
    "stream_stream_interval_join",
    # finite time-ordered replay + a watermark delay (2 h) comfortably
    # beyond the join window (30 min) means no qualifying pair is ever
    # evicted before its match arrives, so the drained append-mode
    # result equals the batch interval join exactly -> full oracle
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join — the hardest of Structured
    Streaming's join modes and the one the engine had not exercised:
    clicks and purchases arrive as two live streams, and each purchase
    joins every click by the same user within the preceding 30 minutes.
    Spark buffers both sides in watermark-bounded state and emits pairs
    in append mode as matches complete; the event-time range condition
    is what lets it EVICT state (without it, both sides buffer
    forever).

    Scale shape: state is bounded by (watermark delay x arrival rate)
    per side — the 2 h delay here holds ~2 h of events per side keyed
    by user, independent of stream length; the join itself shuffles
    both sides on user_id once. The time-ordered replay stands in for
    Kafka per-key ordering; on a real bus the same query runs
    unchanged."""
    src = replay_events_time_ordered(spark, sf_dir)
    clicks = (
        stream_events(spark, src)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        stream_events(spark, src)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 30 minutes"
        ),
    ).select(
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts"))
        .cast("bigint")
        .alias("gap_us"),
    )
    _run_to_memory(joined, "ss_interval_join", "append")
    return spark.table("ss_interval_join")


# NOTE: transformWithStateInPandas (the Spark 4 successor state API) is
# not exercised in THIS container: its worker protocol needs
# google.protobuf, which is absent (import fails inside the
# StreamingPythonRunner). applyInPandasWithState above covers the
# custom-stateful surface. A gated test on the successor API exists —
# tests/test_streaming.py::test_transform_with_state_running_count —
# which skips on the missing protobuf here and runs the real
# ValueState pipeline wherever protobuf is installed.


# ---------------------------------------------------------------------------
# stream_cusum_live
# ---------------------------------------------------------------------------

_CUSUM_LIVE_MU = 50.0  # known in-control mean (binary-exact)
_CUSUM_LIVE_K = 40.0  # slack, same constant as win_cusum_changepoint
_CUSUM_LIVE_H = 200.0  # alarm threshold, same constant


@query(
    "stream_cusum_live",
    # Full oracle despite being live streaming: the CUSUM fold against
    # a KNOWN reference mean is prefix-incremental, the time-ordered
    # replay preserves per-key order, and the emitted per-batch
    # summaries are MONOTONE (n, mx, al only grow), so the max-reduced
    # drained result equals the batch fold over the whole series —
    # expressed as the same recursive CTE as win_cusum_changepoint
    # with the empirical mean replaced by the monitored target.
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, round(value, 6) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    nn AS (SELECT user_id, max(rn) AS n FROM seq GROUP BY user_id),
    st AS (
      SELECT s.user_id, 1 AS i,
             greatest(0.0, s.x - {_CUSUM_LIVE_MU} - {_CUSUM_LIVE_K}) AS cs,
             greatest(0.0, s.x - {_CUSUM_LIVE_MU} - {_CUSUM_LIVE_K}) AS mx,
             CASE WHEN greatest(0.0, s.x - {_CUSUM_LIVE_MU} - {_CUSUM_LIVE_K})
                       > {_CUSUM_LIVE_H} THEN 1 ELSE 0 END AS al
      FROM seq s WHERE s.rn = 1
      UNION ALL
      SELECT st.user_id, st.i + 1,
             greatest(0.0, st.cs + s.x - {_CUSUM_LIVE_MU} - {_CUSUM_LIVE_K}),
             greatest(st.mx,
                      greatest(0.0,
                               st.cs + s.x - {_CUSUM_LIVE_MU} - {_CUSUM_LIVE_K})),
             st.al + CASE WHEN greatest(0.0, st.cs + s.x - {_CUSUM_LIVE_MU}
                                             - {_CUSUM_LIVE_K})
                               > {_CUSUM_LIVE_H} THEN 1 ELSE 0 END
      FROM st JOIN seq s ON s.user_id = st.user_id AND s.rn = st.i + 1)
    SELECT st.user_id, CAST(nn.n AS BIGINT) AS n_events,
           round(st.mx, 6) AS max_cusum,
           CAST(st.al AS BIGINT) AS n_alarms,
           CAST(CASE WHEN st.al > 0 THEN 1 ELSE 0 END AS BIGINT) AS alarmed
    FROM st JOIN nn ON st.user_id = nn.user_id AND st.i = nn.n
    """,
)
def stream_cusum_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE one-sided CUSUM per user via applyInPandasWithState — the
    streaming twin of win_cusum_changepoint, monitoring a KNOWN
    in-control mean (a live detector cannot see the full-series
    empirical mean; monitoring a target is Page's original setting).
    State per user: (cs, mx, al, n) carried across micro-batches; each
    batch folds its time-ordered events through
    cs = max(0, cs + x - mu - k) and emits the user's cumulative
    summary, so the drained table's per-user MAX row is the final
    state (n, mx, al are all monotone).

    The per-event recurrence is inherently sequential, so the fold is
    an explicit loop over each user's batch slice — bounded by
    (arrival rate x trigger interval) per key, the
    applyInPandasWithState contract, and arithmetically IDENTICAL
    (left-assoc max(0.0, cs + x - mu - k), x pre-rounded JVM-side) to
    the batch fold, which is why the oracle can be exact. The
    time-ordered replay stands in for Kafka per-key ordering
    (stream_stateful_session's contract)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    mu, kk, hh = _CUSUM_LIVE_MU, _CUSUM_LIVE_K, _CUSUM_LIVE_H

    def fold(key, pdf_iter, state: GroupState):
        cs, mx, al, n = state.get if state.exists else (0.0, 0.0, 0, 0)
        (user_id,) = key
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        if part is not None:
            for x in part["x"].to_numpy():
                cs = max(0.0, cs + x - mu - kk)
                mx = max(mx, cs)
                al += 1 if cs > hh else 0
            n += len(part)
        state.update((cs, mx, al, n))
        yield pd.DataFrame(
            [(user_id, n, mx, al)], columns=["user_id", "n", "mx", "al"]
        )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round("value", 6).alias("x"),
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id bigint, n bigint, mx double, al bigint",
        stateStructType="cs double, mx double, al bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "cusum_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        spark.table("cusum_live")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.round(F.max("mx"), 6).alias("max_cusum"),
            F.max("al").cast("bigint").alias("n_alarms"),
            (F.max("al") > 0).cast("bigint").alias("alarmed"),
        )
    )


# ---------------------------------------------------------------------------
# stream_token_bucket_live
# ---------------------------------------------------------------------------

_TBL_CAP = 21_600_000_000  # win_token_bucket's constants: 21600 token-s (6 h)
_TBL_COST = 10_800_000_000  # 10800 token-s (3 h) per admitted event
_TBL_REFILL = (
    f"least(CAST({_TBL_CAP} AS BIGINT), r.tok + (f.us - r.last_us))"
)


@query(
    "stream_token_bucket_live",
    # Full oracle despite being live streaming, by the stream_cusum_live
    # identity: the token-bucket fold is prefix-incremental, the
    # time-ordered replay preserves per-key order, the arithmetic is
    # PURE BIGINT (bit-exact trivially), and the emitted summaries are
    # monotone in n — so the max_by(n)-reduced drained table equals the
    # batch fold over each user's whole series: win_token_bucket's
    # recursive CTE without the analysis-frame limit.
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, epoch_us(ts) AS us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    f AS (SELECT * FROM seq),
    nn AS (SELECT user_id, max(rn) AS n FROM f GROUP BY user_id),
    r AS (
      SELECT user_id, 1 AS i,
             CAST({_TBL_CAP - _TBL_COST} AS BIGINT) AS tok,
             CAST(1 AS BIGINT) AS adm, us AS last_us
      FROM f WHERE rn = 1
      UNION ALL
      SELECT r.user_id, r.i + 1,
             CASE WHEN {_TBL_REFILL} >= {_TBL_COST}
                  THEN {_TBL_REFILL} - {_TBL_COST}
                  ELSE {_TBL_REFILL} END,
             r.adm + CASE WHEN {_TBL_REFILL} >= {_TBL_COST}
                          THEN 1 ELSE 0 END,
             f.us
      FROM r JOIN f ON f.user_id = r.user_id AND f.rn = r.i + 1)
    SELECT r.user_id, CAST(nn.n AS BIGINT) AS n_events,
           CAST(r.adm AS BIGINT) AS n_admitted,
           r.tok AS end_tokens_us
    FROM r JOIN nn ON r.user_id = nn.user_id AND r.i = nn.n
    """,
)
def stream_token_bucket_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE TOKEN-BUCKET rate limiting per user via
    applyInPandasWithState — the streaming twin of win_token_bucket
    (capacity 21600 token-seconds, refill 1 token/s, cost 10800
    token-seconds per admitted event), the admission decision a
    serving tier makes ONLINE (the engine-side replay of the
    throttling around app.py:334-340's per-request LLM calls). State
    per user: (tok, adm, n, last_us) carried across micro-batches;
    each batch folds its time-ordered slice and emits the cumulative
    (n, adm, tok), so the drained table reduces per user to max(n) /
    max(adm) / max_by(tok, n).

    The fold is integer microsecond arithmetic end to end — refill =
    elapsed_us, capped at CAP — so the Python per-batch loop is
    bit-identical to win_token_bucket's JVM aggregate() fold and to
    the oracle's recursive CTE (no float anywhere: the strongest
    batch-equivalence class among the streaming ops). Bounded state
    (4 ints per user), bounded per-batch work (arrival rate x
    trigger), per-key order from the time-ordered replay
    (stream_stateful_session's contract)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cap, cost = _TBL_CAP, _TBL_COST

    def fold(key, pdf_iter, state: GroupState):
        tok, adm, n, last = (
            state.get if state.exists else (cap, 0, 0, None)
        )
        (user_id,) = key
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        if part is not None:
            for x in part["us"].to_numpy():
                x = int(x)
                if last is None:
                    tok, adm, last = cap - cost, 1, x
                else:
                    tok = min(cap, tok + (x - last))
                    if tok >= cost:
                        tok -= cost
                        adm += 1
                    last = x
            n += len(part)
        state.update((tok, adm, n, last))
        yield pd.DataFrame(
            [(user_id, n, adm, tok)],
            columns=["user_id", "n", "adm", "tok"],
        )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id bigint, n bigint, adm bigint, tok bigint",
        stateStructType="tok bigint, adm bigint, n bigint, last bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "token_bucket_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        spark.table("token_bucket_live")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max("adm").cast("bigint").alias("n_admitted"),
            F.expr("max_by(tok, n)").cast("bigint").alias("end_tokens_us"),
        )
    )


# ---------------------------------------------------------------------------
# stream_page_hinkley_live
# ---------------------------------------------------------------------------

_PHL_MU = 50.0  # win_page_hinkley's constants
_PHL_DELTA = 5.0
_PHL_LAMBDA = 300.0


@query(
    "stream_page_hinkley_live",
    # Full oracle by the stream_cusum_live identity: the Page-Hinkley
    # fold is prefix-incremental, the time-ordered replay preserves
    # per-key order, the Python per-batch loop runs the identical
    # left-assoc float ops, and the emitted (n, al) are monotone while
    # (mt, mn) are selected from the max-n emission — so the drained
    # result equals win_page_hinkley's batch fold over the full series
    # and shares its recursive-CTE oracle text verbatim.
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, round(value, 6) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    nn AS (SELECT user_id, max(rn) AS n FROM seq GROUP BY user_id),
    st AS (
      SELECT s.user_id, 1 AS i,
             s.x - {_PHL_MU} - {_PHL_DELTA} AS mt,
             least(0.0, s.x - {_PHL_MU} - {_PHL_DELTA}) AS mn,
             CASE WHEN (s.x - {_PHL_MU} - {_PHL_DELTA})
                       - least(0.0, s.x - {_PHL_MU} - {_PHL_DELTA})
                       > {_PHL_LAMBDA} THEN 1 ELSE 0 END AS al
      FROM seq s WHERE s.rn = 1
      UNION ALL
      SELECT st.user_id, st.i + 1,
             st.mt + s.x - {_PHL_MU} - {_PHL_DELTA},
             least(st.mn, st.mt + s.x - {_PHL_MU} - {_PHL_DELTA}),
             st.al + CASE WHEN (st.mt + s.x - {_PHL_MU} - {_PHL_DELTA})
                               - least(st.mn,
                                       st.mt + s.x - {_PHL_MU} - {_PHL_DELTA})
                               > {_PHL_LAMBDA} THEN 1 ELSE 0 END
      FROM st JOIN seq s ON s.user_id = st.user_id AND s.rn = st.i + 1)
    SELECT st.user_id, CAST(nn.n AS BIGINT) AS n_events,
           round(st.mt - st.mn, 6) AS ph_final,
           CAST(st.al AS BIGINT) AS n_alarms,
           CAST(CASE WHEN st.al > 0 THEN 1 ELSE 0 END AS BIGINT) AS alarmed
    FROM st JOIN nn ON st.user_id = nn.user_id AND st.i = nn.n
    """,
)
def stream_page_hinkley_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE PAGE-HINKLEY drift detection per user via
    applyInPandasWithState — the streaming twin of win_page_hinkley
    (mu=50, delta=5, lambda=300), completing the detector pairs the
    way stream_cusum_live twins win_cusum_changepoint. State per
    user: (mt, mn, al, n) across micro-batches; each batch folds its
    time-ordered slice with the identical left-associative float ops,
    so the drained result is bit-equal to the batch fold and the
    batch op's recursive-CTE oracle applies verbatim. (n, al) are
    monotone; (mt, mn) come from the max-n emission via max_by."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    mu, dl, lam = _PHL_MU, _PHL_DELTA, _PHL_LAMBDA

    def fold(key, pdf_iter, state: GroupState):
        mt, mn, al, n = (
            state.get if state.exists else (0.0, None, 0, 0)
        )
        (user_id,) = key
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        if part is not None:
            for x in part["x"].to_numpy():
                mt = mt + x - mu - dl
                mn = min(0.0, mt) if mn is None else min(mn, mt)
                al += 1 if (mt - mn) > lam else 0
            n += len(part)
        state.update((mt, mn, al, n))
        yield pd.DataFrame(
            [(user_id, n, mt, mn, al)],
            columns=["user_id", "n", "mt", "mn", "al"],
        )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round("value", 6).alias("x"),
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            "user_id bigint, n bigint, mt double, mn double, al bigint"
        ),
        stateStructType="mt double, mn double, al bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "page_hinkley_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        spark.table("page_hinkley_live")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.round(
                F.expr("max_by(mt, n)") - F.expr("max_by(mn, n)"), 6
            ).alias("ph_final"),
            F.max("al").cast("bigint").alias("n_alarms"),
            (F.max("al") > 0).cast("bigint").alias("alarmed"),
        )
    )


# ---------------------------------------------------------------------------
# stream_ewma_live
# ---------------------------------------------------------------------------

_EWMA_LIVE_ALPHA = 0.25  # binary-exact smoothing constant (win_ewma_smooth)


@query(
    "stream_ewma_live",
    # Full oracle by the stream_cusum_live identity: the EWMA fold is
    # prefix-incremental, the time-ordered replay preserves per-key
    # order, the per-batch emitted summaries carry a MONOTONE n, so
    # max_by(ewma, n) over the drained append-mode table is the final
    # state — and the final state equals the batch fold over the whole
    # series because the Python loop's float op order (s + 0.25*(x-s),
    # left-assoc, x pre-rounded JVM-side) matches the recursive CTE
    # step exactly with a binary-exact alpha.
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, round(value, 6) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    nn AS (SELECT user_id, max(rn) AS n FROM seq GROUP BY user_id),
    st AS (
      SELECT s.user_id, 1 AS i, s.x AS s
      FROM seq s WHERE s.rn = 1
      UNION ALL
      SELECT st.user_id, st.i + 1,
             st.s + {_EWMA_LIVE_ALPHA} * (s.x - st.s)
      FROM st JOIN seq s ON s.user_id = st.user_id AND s.rn = st.i + 1)
    SELECT st.user_id, CAST(nn.n AS BIGINT) AS n_events,
           round(st.s, 6) AS ewma
    FROM st JOIN nn ON st.user_id = nn.user_id AND st.i = nn.n
    """,
)
def stream_ewma_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE EWMA per user via applyInPandasWithState — the streaming
    twin of win_ewma_smooth (alpha = 0.25, binary-exact), the smoothed
    health signal a monitor keeps ONLINE per entity where the batch
    window op recomputes it per query. State per user: (s, n); each
    micro-batch folds its time-ordered slice through
    s += alpha * (x - s) and emits the cumulative (n, s), so the
    drained table reduces per user to max(n) / max_by(s, n) — n is
    the monotone witness (the stream_token_bucket_live reduction).

    The per-event recurrence is inherently sequential — an explicit
    loop over each user's bounded batch slice (the
    applyInPandasWithState contract), arithmetically IDENTICAL to the
    batch fold and the oracle's recursive CTE step, which is why this
    live op carries a FULL oracle rather than a rows-only check."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    alpha = _EWMA_LIVE_ALPHA

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            s, n = state.get
        else:
            s, n = None, 0
        (user_id,) = key
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        if part is not None:
            for x in part["x"].to_numpy():
                s = float(x) if s is None else s + alpha * (float(x) - s)
            n += len(part)
        state.update((s, n))
        yield pd.DataFrame(
            [(user_id, n, s)], columns=["user_id", "n", "s"]
        )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round("value", 6).alias("x"),
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id bigint, n bigint, s double",
        stateStructType="s double, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "ewma_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        spark.table("ewma_live")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.round(F.expr("max_by(s, n)"), 6).alias("ewma"),
        )
    )


# ---------------------------------------------------------------------------
# stream_markov_transition_live
# ---------------------------------------------------------------------------


@query(
    "stream_markov_transition_live",
    # Full oracle: per-key time-ordered replay makes every adjacent
    # pair deterministic; the state carries each user's LAST event type
    # across micro-batches, so the boundary transition between batch b
    # and b+1 is counted exactly once (in b+1); emitted per-batch
    # increments therefore SUM to the batch lag-window pair counts —
    # agg_markov_transition's matrix, row-normalized after the drain.
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    c AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n_trans
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    tot AS (
      SELECT prev_type, sum(n_trans) AS row_total FROM c GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, c.n_trans,
           round(CAST(c.n_trans AS DOUBLE) / CAST(t.row_total AS DOUBLE), 6)
             AS p
    FROM c JOIN tot t ON c.prev_type = t.prev_type
    """,
)
def stream_markov_transition_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE first-order Markov transition counting per user via
    applyInPandasWithState — the streaming twin of
    agg_markov_transition, maintaining the behavioral model ONLINE
    (drift monitors compare this live matrix against a trained
    reference; here the drained matrix itself is the contract). State
    per user: (last event type, n); each micro-batch folds its
    time-ordered slice, counts the adjacent pairs INCLUDING the
    boundary pair from the carried last-type (counted exactly once,
    in the later batch), and emits per-batch (prev, next, increment)
    rows; the drained append-mode table sums to the exact batch
    lag-window matrix, then row-normalizes — which is why this live
    op carries the FULL agg_markov_transition oracle.

    Bounded state (one string + one int per user); per-batch work is
    the slice length; emitted rows are bounded by |types|^2 per user
    per batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            last, n = state.get
        else:
            last, n = None, 0
        counts: dict[tuple[str, str], int] = {}
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        if part is not None:
            for et in part["event_type"]:
                if last is not None:
                    k2 = (last, et)
                    counts[k2] = counts.get(k2, 0) + 1
                last = et
            n += len(part)
        state.update((last if last is not None else "", n))
        yield pd.DataFrame(
            [(a, b, c) for (a, b), c in counts.items()],
            columns=["prev_type", "next_type", "c"],
        )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="prev_type string, next_type string, c bigint",
        stateStructType="last string, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "markov_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    c = (
        spark.table("markov_live")
        .groupBy("prev_type", "next_type")
        .agg(F.sum("c").cast("bigint").alias("n_trans"))
        .localCheckpoint()  # bounded: |types|^2 rows; breaks the
        # memory-sink self-reference that trips conflicting-attribute
        # resolution in the totals self-join
    )
    tot = c.groupBy("prev_type").agg(F.sum("n_trans").alias("row_total"))
    return c.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double")
            / F.col("row_total").cast("double"),
            6,
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# stream_gap_sessionize_live
# ---------------------------------------------------------------------------


@query(
    "stream_gap_sessionize_live",
    # Full oracle by the stream_stateful_session identity: a session
    # CLOSES only when a later same-user event arrives, so the emitted
    # PER-SESSION rows are exactly the batch gap-sessionization minus
    # each user's LAST session — batching-independent. Payload sums are
    # integer cents (the money.py half-up trick), so session rows are
    # bit-exact.
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100, 0) AS BIGINT) AS vc,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, ts, vc,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged),
    sess AS (
      SELECT user_id, sess_no,
             CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,
             CAST(max(epoch_us(ts)) AS BIGINT) AS end_us,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(vc) AS BIGINT) AS value_c
      FROM numbered GROUP BY user_id, sess_no),
    m AS (SELECT user_id, max(sess_no) AS last_no FROM sess GROUP BY user_id)
    SELECT s.user_id, s.start_us, s.end_us, s.n_events, s.value_c
    FROM sess s JOIN m ON s.user_id = m.user_id
    WHERE s.sess_no < m.last_no
    """,
)
def stream_gap_sessionize_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE gap sessionization emitting FULL PER-SESSION ROWS with an
    aggregated payload — the session-record stream a downstream
    attribution/billing consumer reads (stream_stateful_session emits
    only per-user counts; this is the record-grain extension): each
    closed session leaves the operator as (user_id, start_us, end_us,
    n_events, value_c) where value_c is the exact integer-cent sum of
    the session's event values. Same 30-minute strict gap rule as
    agg_sessionize_batch.

    State per user: the open session's (start_us, last_us, n, vc);
    per batch the time-ordered slice splits vectorized (numpy gap
    cumsum + reduceat payload sums — no per-event Python), merges
    with the carried open session, emits every run but the last.
    Sessions still open at replay end stay in the state store, which
    is exactly what makes the batch-minus-last-session oracle exact
    (batching-independent; the stream_stateful_session proof)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = 30 * 60 * 1_000_000

    def sessionize(key, pdf_iter, state: GroupState):
        if state.exists:
            start_us, last_us, n, vc = state.get
        else:
            start_us, last_us, n, vc = None, None, 0, 0
        closed: list[tuple[int, int, int, int, int]] = []
        (user_id,) = key
        pdf = _batch_slice(pdf_iter, ["ts"])
        if pdf is not None:
            ts_raw = (
                pdf["ts"].to_numpy().astype("datetime64[ns]").astype(np.int64)
                // 1000
            )
            order = np.argsort(ts_raw, kind="stable")
            ts = ts_raw[order]
            v = pdf["vc"].to_numpy()[order]
            seg = np.concatenate(([0], np.cumsum(np.diff(ts) > gap_us)))
            _, first_idx, counts = np.unique(
                seg, return_index=True, return_counts=True
            )
            starts = ts[first_idx]
            lasts = ts[first_idx + counts - 1]
            vsums = np.add.reduceat(v, first_idx)
            if start_us is not None:
                if starts[0] - last_us > gap_us:
                    closed.append((user_id, start_us, last_us, n, vc))
                else:
                    starts[0] = start_us
                    counts[0] += n
                    vsums[0] += vc
                start_us = None
            for k in range(len(counts) - 1):
                closed.append(
                    (
                        user_id,
                        int(starts[k]),
                        int(lasts[k]),
                        int(counts[k]),
                        int(vsums[k]),
                    )
                )
            start_us, last_us = int(starts[-1]), int(lasts[-1])
            n, vc = int(counts[-1]), int(vsums[-1])
        state.update((start_us, last_us, n, vc))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "start_us", "end_us", "n_events", "value_c"],
            )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).withColumn(
        "vc", F.expr("CAST(value * 100 + 0.5 AS BIGINT)")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=(
            "user_id bigint, start_us bigint, end_us bigint, "
            "n_events bigint, value_c bigint"
        ),
        stateStructType=(
            "start_us bigint, last_us bigint, n bigint, vc bigint"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        sessions,
        "gap_sessions_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return spark.table("gap_sessions_live").select(
        "user_id", "start_us", "end_us", "n_events", "value_c"
    )


# ---------------------------------------------------------------------------
# stream_tost_monitor_live
# ---------------------------------------------------------------------------


def _tost_live_oracle() -> str:
    from ..operators.stats.tests import _tost_oracle

    return _tost_oracle()


@query(
    "stream_tost_monitor_live",
    # Full oracle by the per-batch-INCREMENT identity
    # (stream_markov_transition_live's family): every per-user
    # indicator the TOST needs — "has a view event", "has a click
    # event", "has >= 12 purchases" — is MONOTONE (once true, true
    # forever), so each user's state transition per micro-batch emits
    # a 0/1 increment per sufficient statistic and the drained sums
    # are EXACTLY the batch cohort counts (n1, x1, n2, x2),
    # independent of where the replay cuts batches. The final TOST
    # arithmetic is the batch op's shared expression text, so the
    # drained result equals agg_tost_equivalence bit-for-bit.
    oracle=_tost_live_oracle(),
)
def stream_tost_monitor_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE TOST EQUIVALENCE MONITOR via applyInPandasWithState — the
    streaming twin of agg_tost_equivalence, maintaining the
    view-vs-click conversion equivalence test ONLINE: the check a
    shadow-deploy or dataset-swap validation keeps running while
    traffic flows, instead of recomputing cohorts per batch query.

    State per user: (seen_view, seen_click, n_purchases) — three ints,
    bounded. Each micro-batch folds the user's slice and emits the
    INCREMENT of each TOST sufficient statistic: dn1/dn2 when the user
    first shows a view/click, dx1/dx2 when the user's (seen-type AND
    converted) indicator flips — where converted means crossing the
    >= 12-purchase threshold (agg_tost_equivalence's cohort rule).
    All four indicators are monotone, so increments are 0/1, never
    negative, and the drained append-mode sums equal the batch
    cohort counts exactly — which is why this live op carries the
    FULL batch oracle. The final 1-row TOST arithmetic reuses the
    batch op's shared expression text (stats.tests._TOST_FINAL_EXPRS).

    Scale shape: state is 3 ints/user; per-batch work is the slice
    length; emitted rows are at most one per (user, batch) and only
    when something flipped. The drained reduction is one map-side-
    combinable 4-column sum."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.stats.tests import _TOST_DIFF_SE_EXPRS, _TOST_FINAL_EXPRS

    def fold(key, pdf_iter, state: GroupState):
        sv, sc, np_ = state.get if state.exists else (0, 0, 0)
        conv0, sv0, sc0 = np_ >= 12, sv, sc
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        if part is not None:
            et = part["event_type"]
            sv = max(sv, int((et == "view").any()))
            sc = max(sc, int((et == "click").any()))
            np_ += int((et == "purchase").sum())
        state.update((sv, sc, np_))
        conv1 = np_ >= 12
        dn1 = sv - sv0
        dn2 = sc - sc0
        dx1 = int(sv and conv1) - int(sv0 and conv0)
        dx2 = int(sc and conv1) - int(sc0 and conv0)
        if dn1 or dn2 or dx1 or dx2:
            yield pd.DataFrame(
                [(dn1, dx1, dn2, dx2)],
                columns=["dn1", "dx1", "dn2", "dx2"],
            )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="dn1 bigint, dx1 bigint, dn2 bigint, dx2 bigint",
        stateStructType="sv bigint, sc bigint, np bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "tost_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    w = spark.table("tost_live").agg(
        F.sum("dn1").cast("bigint").alias("n1"),
        F.sum("dx1").cast("bigint").alias("x1"),
        F.sum("dn2").cast("bigint").alias("n2"),
        F.sum("dx2").cast("bigint").alias("x2"),
    )
    return w.selectExpr(*_TOST_DIFF_SE_EXPRS).selectExpr(
        *_TOST_FINAL_EXPRS
    )


# ---------------------------------------------------------------------------
# stream_psi_drift_live
# ---------------------------------------------------------------------------

_PSI_CUT_US = 1704153600000000  # 2024-01-02T00:00:00Z — end of fixture day 1
_PSI_EPS = "0.000001"  # zero-bin guard, identical literal on both engines


@query(
    "stream_psi_drift_live",
    # Full oracle by the per-batch-INCREMENT identity
    # (stream_markov_transition_live's family): per-bin counts emitted
    # each micro-batch sum to the total current-period histogram
    # independent of batch cuts, and the frozen-edge bin assignment
    # equals the domain-CDF formula the SQL twin uses (see docstring
    # proof), so the drained PSI table equals agg_psi_drift's
    # arithmetic on the day-1-vs-rest split bit-for-bit.
    oracle=f"""
    WITH ev2 AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS vc,
             CASE WHEN epoch_us(ts) < {_PSI_CUT_US} THEN 1 ELSE 0 END AS in_a
      FROM events),
    dom AS (
      SELECT vc,
             CAST(sum(in_a) AS BIGINT) AS ca,
             CAST(sum(1 - in_a) AS BIGINT) AS cb
      FROM ev2 GROUP BY vc),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM dom),
    cum AS (
      SELECT vc, ca, cb,
             CAST(coalesce(sum(ca) OVER (ORDER BY vc
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cal
      FROM dom),
    binned AS (
      SELECT least(9, 10 * cum.cal // tot.na) AS bin,
             CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             max(tot.na) AS na, max(tot.nb) AS nb
      FROM cum CROSS JOIN tot GROUP BY 1),
    terms AS (
      SELECT bin, n_a, n_b,
             round(CAST(n_a AS DOUBLE) / na, 6) AS pct_a,
             round(CAST(n_b AS DOUBLE) / nb, 6) AS pct_b,
             CAST(round(
               (greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
                - greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS}))
               * ln(greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
                    / greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS})),
               9) AS DECIMAL(28,9)) AS term
      FROM binned)
    SELECT bin, n_a, n_b, pct_a, pct_b,
           round(CAST(term AS DOUBLE), 6) AS psi_term,
           round(CAST(sum(term) OVER () AS DOUBLE), 6) AS psi_total
    FROM terms
    """,
)
def stream_psi_drift_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE POPULATION-STABILITY-INDEX drift monitor against a FROZEN
    day-1 reference histogram — the first monitoring op a production
    feature pipeline deploys (agg_psi_drift is its batch/backfill
    twin over the midpoint split; this one watches traffic flow):
    day-1 events define decile edges ONCE, the stream bins every
    later event against those frozen edges, and the drained per-bin
    counts feed the standard PSI = sum((pa-pb)*ln(pa/pb)) table.

    Frozen-edge assignment == domain-CDF binning, exactly: the bin of
    any integer-cent value v is g(v) = least(9, 10*cntA_less(v) div
    nA) where cntA_less counts day-1 events with value STRICTLY less
    than v.  g steps only at v = r+1 for day-1 domain points r (that
    is where r's own mass enters the strict-less count — evaluating
    the CDF at the ref points themselves mis-bins every current value
    that falls strictly between two ref points, off by the lower
    point's mass; caught by the first selfcheck).  So edge e_b =
    min{{r+1 : 10*cum_incl(r) div nA >= b}} with cum_incl the
    INCLUSIVE ref CDF — always defined for b = 1..9 because
    cum_incl(max_ref) = nA gives 10 — and #{{b : e_b <= v}} = g(v)
    for every integer v (v > max_ref: all nine edges <= max_ref+1
    <= v, matching least(9, 10*nA div nA)).  The live operator's
    CASE-chain bin (9 frozen literals, pure JVM codegen, no join on
    the hot path) therefore carries agg_psi_drift's full SQL oracle
    on the day-1-vs-rest split.

    Streaming shape: per-bin keyed state (running n, one bigint per
    bin — 10 keys total), each micro-batch emits the bin's INCREMENT;
    increments sum to the batch histogram independent of batch cuts
    (stream_markov_transition_live's identity family).  The edge
    collect is <= 10 rows (one per bin_lo group of the day-1 CDF) —
    bounded by construction, not by fixture size."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = table(spark, sf_dir, "events")
    ref = ev.where(F.unix_micros("ts") < F.lit(_PSI_CUT_US)).select(
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("vc")
    )
    dom = ref.groupBy("vc").agg(F.count("*").cast("bigint").alias("ca"))
    from pyspark.sql import Window as _W

    wi = _W.orderBy("vc").rowsBetween(_W.unboundedPreceding, 0)
    tot = dom.agg(F.sum("ca").cast("bigint").alias("na"))
    cdf = dom.select(
        "vc",
        F.sum("ca").over(wi).cast("bigint").alias("cum_incl"),
    )
    # <=10 rows: first domain value whose INCLUSIVE CDF reaches each
    # decile floor; e_b = that value + 1 (g steps at r+1, see proof)
    grp = (
        cdf.crossJoin(F.broadcast(tot))
        .groupBy(F.expr("10 * cum_incl div na").alias("blo"))
        .agg(F.min("vc").alias("mv"))
        .collect()
    )
    edges = [
        min(r["mv"] for r in grp if r["blo"] >= b) + 1 for b in range(1, 10)
    ]
    bin_expr = (
        "CAST("
        + " + ".join(
            f"(CASE WHEN vc >= {e} THEN 1 ELSE 0 END)" for e in edges
        )
        + " AS BIGINT)"
    )

    def fold(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        c = 0
        part = _batch_slice(pdf_iter, ["vc"])
        if part is not None:
            c = len(part)
        n += c
        state.update((n,))
        if c:
            # emit the running total alongside the increment so the
            # stored state is load-bearing: after drain, max(n) per
            # bin must equal sum(c) (asserted in-plan below)
            (bin_,) = key
            yield pd.DataFrame(
                [(bin_, c, n)], columns=["bin", "c", "n"]
            )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = (
        stream_events(spark, src)
        .where(F.unix_micros("ts") >= F.lit(_PSI_CUT_US))
        .withColumn("vc", F.expr("CAST(round(value * 100, 0) AS BIGINT)"))
        .select(F.expr(bin_expr).alias("bin"), "vc")
    )
    out = stream.groupBy("bin").applyInPandasWithState(
        fold,
        outputStructType="bin bigint, c bigint, n bigint",
        stateStructType="n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(out, "psi_live", "append")
    cur = (
        spark.table("psi_live")
        .groupBy("bin")
        .agg(
            F.sum("c").cast("bigint").alias("n_b"),
            F.max("n").cast("bigint").alias("n_run"),
        )
        # increment identity: the final running total in state must
        # equal the summed per-batch increments for every bin
        .where(
            F.assert_true(
                F.col("n_b") == F.col("n_run"),
                F.lit(
                    "stream_psi_drift_live: running-total state "
                    "disagrees with summed increments"
                ),
            ).isNull()
        )
        .select("bin", "n_b")
    )
    ref_hist = ref.groupBy(F.expr(bin_expr).alias("bin")).agg(
        F.count("*").cast("bigint").alias("n_a")
    )
    joined = ref_hist.join(cur, "bin", "full_outer").select(
        "bin",
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
    )
    w_all = _W.partitionBy()
    terms = joined.select(
        "bin",
        "n_a",
        "n_b",
        F.sum("n_a").over(w_all).alias("na"),
        F.sum("n_b").over(w_all).alias("nb"),
    ).selectExpr(
        "bin",
        "n_a",
        "n_b",
        "round(CAST(n_a AS DOUBLE) / na, 6) AS pct_a",
        "round(CAST(n_b AS DOUBLE) / nb, 6) AS pct_b",
        f"""CAST(round(
          (greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
           - greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS}))
          * ln(greatest(CAST(n_a AS DOUBLE) / na, {_PSI_EPS})
               / greatest(CAST(n_b AS DOUBLE) / nb, {_PSI_EPS})),
          9) AS DECIMAL(28,9)) AS term""",
    )
    return terms.select(
        "bin",
        "n_a",
        "n_b",
        "pct_a",
        "pct_b",
        F.round(F.col("term").cast("double"), 6).alias("psi_term"),
        F.round(F.sum("term").over(w_all).cast("double"), 6).alias(
            "psi_total"
        ),
    )


# ---------------------------------------------------------------------------
# stream_srm_guardrail_live
# ---------------------------------------------------------------------------


@query(
    "stream_srm_guardrail_live",
    # Full oracle: the streaming dropDuplicates state store keeps
    # FIRST-arrival user_ids, so the drained append output has exactly
    # one row per distinct user regardless of where the replay cuts
    # batches (first-arrival dedup == count(DISTINCT), the
    # stream_stateful_dedup identity) — the arm counts, ratio, and
    # chi^2 are therefore agg_ab_srm_check's text verbatim.
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arm AS (
      SELECT CAST((user_id * 2654435761) % 4294967296 // 2147483648
                  AS BIGINT) AS arm
      FROM u),
    s AS (
      SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1
      FROM arm)
    SELECT n0 AS n_arm_a, n1 AS n_arm_b,
           round(CAST(n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE), 6)
             AS observed_ratio_b,
           round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                 / CAST(n0 + n1 AS DOUBLE), 6) AS chi2_stat,
           CAST(CASE WHEN round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                               / CAST(n0 + n1 AS DOUBLE), 9) >= 3.8415
                THEN 1 ELSE 0 END AS BIGINT) AS srm_detected_05
    FROM s
    """,
)
def stream_srm_guardrail_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE SAMPLE-RATIO-MISMATCH GUARDRAIL — the streaming twin of
    agg_ab_srm_check (SURVEY §Round-11 queue), completing the A/B
    guardrail family: while an experiment RUNS, the monitor assigns
    each event's user to an arm in-stream (the same Knuth
    multiplicative-hash HIGH bit — pure JVM integer arithmetic on the
    hot path), keeps only FIRST-seen users via the streaming
    dropDuplicates state store, and the drained first-arrival rows
    feed the chi^2(1) test of the arm split against the declared
    50/50.  A platform alerts on this table DURING ramp-up, before
    any metric read; the batch op is the post-hoc audit of the same
    statistic.

    Full-oracle identity (the stream_stateful_dedup family): the
    state store emits exactly one row per distinct user_id — the
    first arrival — independent of micro-batch cuts, so summed arm
    counts over the drained table equal count(DISTINCT user_id) per
    arm, and every downstream expression is agg_ab_srm_check's text
    verbatim (the batch-parity pytest pins live == batch).  Sibling
    differentiation: stream_stateful_dedup counts distinct
    (user, event_type) keys per type; this op dedups on user alone
    and ships a DECISION statistic, not a count table.

    Shape at 100 TB: per-user state is one key per distinct user
    (the minimum any exactly-once first-touch guardrail can hold),
    partitioned by the shuffle width; arm math is stateless column
    arithmetic before the dedup, so state rows carry two bigints.
    The drained reduction is a 2-cell conditional aggregate."""
    src = replay_events_as_files(spark, sf_dir)
    stream = stream_events(spark, src).selectExpr(
        "user_id",
        "CAST((user_id * 2654435761) % 4294967296 div 2147483648"
        " AS BIGINT) AS arm",
    )
    first_seen = stream.dropDuplicates(["user_id"])
    _run_to_memory(first_seen, "srm_live", "append")
    s = spark.table("srm_live").agg(
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n0"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n1"),
    )
    chi_txt = (
        "CAST((n0 - n1) * (n0 - n1) AS DOUBLE)"
        " / CAST(n0 + n1 AS DOUBLE)"
    )
    return s.selectExpr(
        "n0 AS n_arm_a",
        "n1 AS n_arm_b",
        "round(CAST(n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE), 6)"
        " AS observed_ratio_b",
        f"round({chi_txt}, 6) AS chi2_stat",
        f"CAST(CASE WHEN round({chi_txt}, 9) >= 3.8415 THEN 1 ELSE 0 END"
        " AS BIGINT) AS srm_detected_05",
    )


# ---------------------------------------------------------------------------
# stream_funnel_stage_live
# ---------------------------------------------------------------------------


@query(
    "stream_funnel_stage_live",
    # Full oracle: the per-user stage machine advances greedily on the
    # earliest qualifying event, and greedy-earliest is optimal for
    # ordered-subsequence matching (exchange argument), so "user ever
    # reached stage k" == "an ordered view < click < purchase prefix of
    # length k exists" — the win_sequence_match_funnel EXISTS phrasing
    # with the machine's (ts, event_id) lexicographic tie order.
    # Per-user prefix-incrementality + the time-ordered replay makes
    # the drained increments sum to those counts independent of batch
    # cuts (the stream_markov_transition_live identity family).
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE event_type IN ('view', 'click', 'purchase')),
    s1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
    s2 AS (
      SELECT DISTINCT c.user_id FROM e c
      WHERE c.event_type = 'click' AND EXISTS (
        SELECT 1 FROM e v
        WHERE v.user_id = c.user_id AND v.event_type = 'view'
          AND row(v.ts, v.event_id) < row(c.ts, c.event_id))),
    s3 AS (
      SELECT DISTINCT p.user_id FROM e p
      WHERE p.event_type = 'purchase' AND EXISTS (
        SELECT 1 FROM e c
        WHERE c.user_id = p.user_id AND c.event_type = 'click'
          AND row(c.ts, c.event_id) < row(p.ts, p.event_id)
          AND EXISTS (
            SELECT 1 FROM e v
            WHERE v.user_id = c.user_id AND v.event_type = 'view'
              AND row(v.ts, v.event_id) < row(c.ts, c.event_id))))
    SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
           (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click_after_view',
           (SELECT CAST(count(*) AS BIGINT) FROM s2)
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase_after_click',
           (SELECT CAST(count(*) AS BIGINT) FROM s3)
    ORDER BY stage
    """,
)
def stream_funnel_stage_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE FUNNEL-STAGE COUNTER — a per-user MATCH_RECOGNIZE-style
    state machine running WHILE traffic flows (the streaming twin of
    win_sequence_match_funnel's batch subsequence match): each user's
    state is their furthest funnel stage (view -> click-after-view ->
    purchase-after-that-click); a micro-batch advances the machine
    over its time-ordered slice and emits ONE increment row per stage
    newly reached.  The drained per-stage sums are the live
    stage-reach table a growth dashboard plots during a launch.

    Full-oracle identity: greedy-earliest advancement is optimal for
    ordered-subsequence matching (swapping any witness event for an
    earlier qualifying one never hurts — exchange argument), so "ever
    reached stage k" equals the nested-EXISTS subsequence predicate;
    prefix-incrementality + the TIME-ORDERED replay (per-user arrival
    order == event order, replay_events_time_ordered's contract)
    makes increments batching-independent.  Tie order is the
    machine's (ts, event_id) lexicographic compare — mirrored in the
    oracle with row() compares (the batch sibling uses strict-ts
    RANGE instead; documented difference).

    Shape at 100 TB: state is ONE int per user (the smallest any
    exactly-once funnel can hold), keyed by the stream's user_id
    shuffle; increments are <= 3 rows per user ever; the drained
    reduce is a 3-row aggregate."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdf_iter, state: GroupState):
        st = state.get[0] if state.exists else 0
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        ups = []
        if part is not None:
            for et in part["event_type"]:
                if st == 0 and et == "view":
                    st = 1
                    ups.append(1)
                elif st == 1 and et == "click":
                    st = 2
                    ups.append(2)
                elif st == 2 and et == "purchase":
                    st = 3
                    ups.append(3)
        state.update((st,))
        if ups:
            yield pd.DataFrame({"stage": ups, "c": [1] * len(ups)})

    src = replay_events_time_ordered(spark, sf_dir)
    stream = (
        stream_events(spark, src)
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            "event_type",
        )
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="stage bigint, c bigint",
        stateStructType="stage bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(out, "funnel_live", "append", shuffle_partitions=32)
    drained = (
        spark.table("funnel_live")
        .groupBy("stage")
        .agg(F.sum("c").cast("bigint").alias("n_users"))
    )
    stages = spark.createDataFrame(
        [(1, "view"), (2, "click_after_view"), (3, "purchase_after_click")],
        "stage bigint, stage_name string",
    )
    return (
        stages.join(drained, "stage", "left")
        .select(
            "stage",
            "stage_name",
            F.coalesce("n_users", F.lit(0)).cast("bigint").alias("n_users"),
        )
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# stream_retention_cohort_live
# ---------------------------------------------------------------------------


@query(
    "stream_retention_cohort_live",
    # Full oracle via the per-batch INCREMENT identity: state carries
    # each user's cohort day + a seen-day bitmask, emits +1 exactly
    # when a (user, day) pair is first seen, so the drained sums equal
    # the batch count-distinct-users per (cohort, active day) grid for
    # ANY batching.
    oracle="""
    WITH u AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    f AS (SELECT user_id, min(day) AS cohort FROM u GROUP BY user_id),
    a AS (SELECT DISTINCT u.user_id, f.cohort, u.day
          FROM u JOIN f ON u.user_id = f.user_id),
    c AS (SELECT cohort, day, CAST(count(*) AS BIGINT) AS n_users
          FROM a GROUP BY 1, 2),
    cs AS (SELECT cohort, n_users AS cohort_n FROM c WHERE day = cohort)
    SELECT c.cohort AS cohort_day,
           CAST(date_diff('day', c.cohort, c.day) AS BIGINT) AS day_offset,
           c.n_users,
           round(CAST(c.n_users AS DOUBLE) / cs.cohort_n, 6) AS retention
    FROM c JOIN cs ON c.cohort = cs.cohort
    ORDER BY cohort_day, day_offset
    """,
)
def stream_retention_cohort_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE COHORT-RETENTION GRID via applyInPandasWithState — the
    daily (cohort x day-offset) active-user matrix maintained online,
    the streaming twin of win_retention_cohort (which builds the
    weekly grid in batch): growth dashboards watch this table tick
    per micro-batch.  State per user: the cohort day (first-seen,
    exact under the time-ordered replay) plus a SEEN-DAY BITMASK
    (int64 — the fixture spans exactly 30 days, round-8 fact; the
    fold raises past 62 offsets so a changed fixture breaks loudly);
    each first sighting of a (user, day) pair emits one +1 increment
    row, so the drained per-(cohort, day) sums equal the batch
    count-distinct grid for ANY batching — the markov-live increment
    identity — and the op carries the full batch oracle.

    Parity: days are exact epoch-day integers (unix_micros div
    86400000000 under the UTC session == CAST(ts AS DATE));
    retention divides two exact counts, round(6).

    Bounded state (2 int64 per user); emitted rows <= 30 per user
    over the whole stream; the drain-side grid is <= 30 x 30 rows."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    day_us = 86_400_000_000

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            cohort, mask = state.get
        else:
            cohort, mask = -1, 0
        out = []
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        if part is not None:
            for us in part["us"]:
                d = int(us) // day_us
                if cohort < 0:
                    cohort = d
                off = d - cohort
                if off > 62:  # bitmask capacity — 30-day fixture contract
                    raise ValueError("day span exceeds retention bitmask")
                bit = 1 << off
                if not mask & bit:
                    mask |= bit
                    out.append((cohort, d))
        state.update((cohort, mask))
        yield pd.DataFrame(out, columns=["cohort_d", "day_d"])

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="cohort_d bigint, day_d bigint",
        stateStructType="cohort bigint, mask bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "retention_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    c = (
        spark.table("retention_live")
        .groupBy("cohort_d", "day_d")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .localCheckpoint()  # bounded 30x30 grid referenced twice
    )
    cs = c.where(F.col("day_d") == F.col("cohort_d")).select(
        F.col("cohort_d").alias("cs_d"), F.col("n_users").alias("cohort_n")
    )
    return (
        c.join(F.broadcast(cs), c.cohort_d == cs.cs_d)
        .selectExpr(
            "date_add(DATE'1970-01-01', CAST(cohort_d AS INT)) AS cohort_day",
            "day_d - cohort_d AS day_offset",
            "n_users",
            "round(CAST(n_users AS DOUBLE) / cohort_n, 6) AS retention",
        )
        .orderBy("cohort_day", "day_offset")
    )


# ---------------------------------------------------------------------------
# stream_heavy_hitters_live
# ---------------------------------------------------------------------------

_HH_BUCKETS = 8
_HH_COUNTERS = 256  # MG summary size per bucket


@query(
    "stream_heavy_hitters_live",
    # Full oracle via the MG SUPERSET + EXACT RECOUNT identity: the
    # drained candidates contain every user above the threshold for
    # any arrival order (per-bucket MG error <= n_bucket/(K+1) stays
    # below the threshold at every sf — see the measured margins in
    # the docstring), and the recount-then-filter output is therefore
    # the exact frequent set however the stream was batched.
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS u,
             CAST(sum(cnt) AS BIGINT) AS n
      FROM c)
    SELECT c.user_id, c.cnt,
           round(CAST(c.cnt AS DOUBLE) * t.u / t.n, 6) AS lift
    FROM c, t
    WHERE 20 * t.u * c.cnt >= 23 * t.n
    ORDER BY c.cnt DESC, c.user_id
    """,
)
def stream_heavy_hitters_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE HEAVY-HITTER DETECTION: a keyed Misra-Gries summary
    maintained in streaming state (K=256 counters per hash bucket,
    8 buckets), drained and EXACTLY RECOUNTED — the standard two-pass
    frequent-items architecture (candidates online with O(K) memory,
    one exact aggregate over the tiny candidate set offline).  The
    streaming sibling of text_heavy_hitters (batch MG over tokens):
    here the state store carries the summary ACROSS micro-batches,
    the shape of a production per-key abuse/quota monitor.  A user is
    a heavy hitter when its event count reaches 1.15x the per-user
    mean (integer-exact gate 20*u*cnt >= 23*n; measured 1/23/189
    hitters at sf0.001/0.01/0.1).

    Correctness bound (why the oracle is FULL despite MG being
    order-dependent): per bucket, MG with K counters undercounts any
    item by at most n_bucket/(K+1); uniform user-id buckets give
    n_bucket ~= n/8, so the error <= n/2056 — while the threshold
    23n/(20u) is n/13 at sf0.001 (u=15), n/130 at sf0.01 (u=150),
    and n/1304 at sf0.1 (u=1500).  The margin therefore NARROWS with
    user count — 158x / 16x / 1.6x respectively — and the sf0.1
    margin survives only ~1.6x bucket skew; the pytest pins the real
    inequality (threshold > max-bucket/(K+1)) at the checked sf, so
    a fixture regeneration that grows u past ~2400 breaks LOUDLY
    there rather than silently voiding the superset guarantee (raise
    K or the bucket count then).  Within the bound, every true
    hitter SURVIVES the summary for any arrival order, and the exact
    recount filters the superset to the same final set the batch
    query computes.  The candidate emissions carry a monotone seq (=
    events folded) and the drain keeps each bucket's LAST summary.

    Parity: output counts are exact integers from the recount; lift
    divides exact integers, round(6).

    Bounded state (2 x K int64 arrays per bucket); candidate frame
    <= 8*K rows; the recount joins it broadcast against the user
    aggregate — the only fact-scale pass."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    k_cap = _HH_COUNTERS

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            ids, cnts, n = state.get
            mg = dict(zip(ids, cnts))
        else:
            mg, n = {}, 0
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        if part is not None:
            for u in part["user_id"]:
                u = int(u)
                if u in mg:
                    mg[u] += 1
                elif len(mg) < k_cap:
                    mg[u] = 1
                else:  # decrement-all round (amortized O(1): each
                    # round retires K+1 stream mass)
                    mg = {i: c - 1 for i, c in mg.items() if c > 1}
            n += len(part)
        state.update((list(mg.keys()), list(mg.values()), n))
        yield pd.DataFrame(
            [(int(key[0]), n, u, c) for u, c in mg.items()],
            columns=["bucket", "seq", "user_id", "mg_cnt"],
        )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).select(
        F.expr(f"pmod(user_id, {_HH_BUCKETS})").alias("bucket"),
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    out = stream.groupBy("bucket").applyInPandasWithState(
        fold,
        outputStructType=(
            "bucket bigint, seq bigint, user_id bigint, mg_cnt bigint"
        ),
        stateStructType="ids array<bigint>, cnts array<bigint>, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "hh_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    drained = spark.table("hh_live").localCheckpoint()  # bounded
    # 8*K rows per batch; referenced twice (max-seq + candidate join)
    last = drained.groupBy("bucket").agg(F.max("seq").alias("mseq"))
    last = last.select(F.col("bucket").alias("lbucket"), "mseq")
    cands = (
        drained.join(
            F.broadcast(last),
            (F.col("bucket") == F.col("lbucket"))
            & (F.col("seq") == F.col("mseq")),
        )
        .select("user_id")
        .distinct()
    )
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    tot = counts.agg(
        F.count("*").cast("bigint").alias("u"),
        F.sum("cnt").cast("bigint").alias("n"),
    )
    return (
        counts.join(F.broadcast(cands), "user_id")
        .crossJoin(F.broadcast(tot))
        .where(F.expr("20 * u * cnt >= 23 * n"))
        .selectExpr(
            "user_id",
            "cnt",
            "round(CAST(cnt AS DOUBLE) * u / n, 6) AS lift",
        )
        .orderBy(F.col("cnt").desc(), "user_id")
    )


# ---------------------------------------------------------------------------
# stream_theta_sketch_live
# ---------------------------------------------------------------------------


def _kmv_live_oracle() -> str:
    """Per-set half of stats.sketches._kmv_oracle (purchase/click KMV
    sketches over user-days) — the live op's drained final summaries
    equal the batch sketches exactly."""
    from ..operators.stats.sketches import _KMV_HASH

    h = _KMV_HASH.format(key="key")
    est = (
        "CASE WHEN sk.n = 256 THEN CAST(547608329985 AS DOUBLE) / sk.kth "
        "ELSE CAST(sk.n AS DOUBLE) END"
    )
    return f"""
    WITH dk AS MATERIALIZED (
      SELECT DISTINCT event_type,
             user_id * 32
             + date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS key
      FROM events WHERE event_type IN ('purchase', 'click')),
    hx AS (SELECT event_type, key, {h} AS h FROM dk),
    kept AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                 AS rn
        FROM hx) z
      WHERE rn <= 256),
    sk AS (SELECT event_type AS set_name, count(*) AS n, max(h) AS kth
           FROM kept GROUP BY event_type),
    ex AS (SELECT event_type AS set_name, count(*) AS exact
           FROM dk GROUP BY event_type)
    SELECT sk.set_name, sk.n AS n_entries, sk.kth AS kth_hash,
           round({est}, 6) AS estimate, ex.exact,
           round(({est} - ex.exact) / ex.exact, 6) AS rel_err
    FROM sk JOIN ex USING (set_name)
    ORDER BY set_name
    """


@query("stream_theta_sketch_live", oracle=_kmv_live_oracle())
def stream_theta_sketch_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE MERGEABLE DISTINCT SKETCH — the streaming sibling of
    agg_theta_sketch_distinct_union (round 13): a keyed KMV bottom-K
    state (kept = the K = 256 smallest user-day hashes seen so far,
    carried as an array<bigint> state column — the round-11
    heavy-hitters precedent) folds each micro-batch by set-union +
    re-truncate.  This is the op whose FULL oracle needs no identity
    argument at all: bottom-K of a set union is ASSOCIATIVE and
    COMMUTATIVE, so the final state equals the batch sketch for ANY
    batching or arrival order — the mergeability theorem pinned in
    tests/test_analytics13.py is exactly the property the state fold
    exercises live.  Each batch emits the summary (n_entries, kth)
    with a monotone seq (= rows folded); the drain keeps each set's
    LAST summary and joins the exact batch count for the rel_err
    column (recount pattern, stream_heavy_hitters_live).

    Parity: hashes/counters exact BIGINT; estimate and rel_err use
    the identical division shapes as the batch op.

    Bounded state: one K-entry int64 array per set (2 sets); the
    drained frame is one row per (set, batch).  In production this
    state IS the serving sketch — a dashboard reads the latest row
    per set and unions sketches across keys without touching raw
    events."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.stats.sketches import _KMV_K, _KMV_P

    epoch_day = 19723  # days 1970-01-01 .. 2024-01-01 (UTC session)
    day_us = 86_400_000_000

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            kept_list, n_seen = state.get
            kept = set(kept_list)
        else:
            kept, n_seen = set(), 0
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        if part is not None:
            for us, uid in zip(part["us"], part["user_id"]):
                k = int(uid) * 32 + (int(us) // day_us - epoch_day)
                x = k + 1
                for _ in range(3):
                    x = (x * 48271) % _KMV_P
                kept.add(x + 1)
            n_seen += len(part)
            if len(kept) > _KMV_K:
                kept = set(sorted(kept)[:_KMV_K])
        state.update((sorted(kept), n_seen))
        ks = sorted(kept)
        yield pd.DataFrame(
            [(key[0], n_seen, len(ks), ks[-1] if ks else 0)],
            columns=["set_name", "seq", "n_entries", "kth_hash"],
        )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).where(
        F.col("event_type").isin("purchase", "click")
    ).select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    out = stream.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=(
            "set_name string, seq bigint, n_entries bigint, "
            "kth_hash bigint"
        ),
        stateStructType="kept array<bigint>, n_seen bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "theta_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    drained = spark.table("theta_live").localCheckpoint()  # one row
    # per (set, batch); referenced twice (max-seq + final join)
    last = drained.groupBy("set_name").agg(F.max("seq").alias("mseq"))
    final = drained.join(
        F.broadcast(last.withColumnRenamed("set_name", "ls")),
        (F.col("set_name") == F.col("ls")) & (F.col("seq") == F.col("mseq")),
    ).select("set_name", "n_entries", "kth_hash")
    ev = table(spark, sf_dir, "events")
    exact = (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.col("event_type").alias("set_name"),
            F.expr(
                "CAST(user_id AS BIGINT) * 32 + CAST(datediff("
                "CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT)"
            ).alias("key"),
        )
        .distinct()
        .groupBy("set_name")
        .agg(F.count("*").cast("bigint").alias("exact"))
    )
    est = (
        "CASE WHEN n_entries = 256 THEN CAST(547608329985 AS DOUBLE) "
        "/ kth_hash ELSE CAST(n_entries AS DOUBLE) END"
    )
    return (
        final.join(F.broadcast(exact), "set_name")
        .selectExpr(
            "set_name",
            "n_entries",
            "kth_hash",
            f"round({est}, 6) AS estimate",
            "exact",
            f"round(({est} - exact) / exact, 6) AS rel_err",
        )
        .orderBy("set_name")
    )


# ---------------------------------------------------------------------------
# stream_zone_map_live
# ---------------------------------------------------------------------------


@query(
    "stream_zone_map_live",
    # Full oracle: (min, max, count) is a COMMUTATIVE MONOID fold, so
    # the drained final zone rows equal the batch aggregate under ANY
    # replay order and ANY batching — no time-ordered replay, no
    # batching-identity argument needed (the stream_theta_sketch_live
    # class: associativity IS the proof).
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           min(value) AS mn_value,
           max(value) AS mx_value,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
    """,
)
def stream_zone_map_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE ZONE-MAP MAINTENANCE — the streaming half of the round-14
    layout-advisory family (maintenance_parquet_footer_stats reads
    zone maps; maintenance_rowgroup_pruning_sim measures what they
    buy; THIS op shows how streaming ingest keeps them current
    without rewriting files): one state row per ingest day holding
    (min, max, count) of `value`, updated per micro-batch via
    applyInPandasWithState and emitted with the monotone count as a
    sequence number — exactly the per-partition metadata an append
    sink maintains so that downstream scans can prune partitions the
    moment the data lands.

    Verification is the STRONGEST streaming identity in the repo's
    catalogue: the zone fold is a commutative monoid, so the drained
    last-emission-per-day table equals the batch GROUP BY day min/max
    /count under any arrival order and any batch boundaries — the
    unordered event_id-mod replay is used DELIBERATELY (the stateful
    session/CUSUM ops need the time-ordered replay; this op proves
    it does not). min/max of doubles are SELECTIONS, not arithmetic,
    so the emitted values are bit-identical to the batch twin's.

    Shape at 100 TB: state is O(open partitions) tiny tuples; each
    micro-batch does one map-side (day, min, max, count) partial
    aggregate before the state update; the drained reduction is
    max_by(seq) per day (round-8 monotone-n identity)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    day_us = 86_400_000_000

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            mn, mx, n = state.get
        else:
            mn, mx, n = None, None, 0
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            bmn = float(pdf["value"].min())
            bmx = float(pdf["value"].max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
            n += int(len(pdf))
        state.update((mn, mx, n))
        yield pd.DataFrame(
            {"day_d": [key[0]], "mn_value": [mn], "mx_value": [mx],
             "n_rows": [n]}
        )

    src = replay_events_as_files(spark, sf_dir)
    stream = stream_events(spark, src).select(
        F.expr(f"unix_micros(ts) div {day_us}").alias("day_d"),
        "value",
    )
    out = stream.groupBy("day_d").applyInPandasWithState(
        fold,
        outputStructType=(
            "day_d bigint, mn_value double, mx_value double, n_rows bigint"
        ),
        stateStructType="mn double, mx double, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "zone_map_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        spark.table("zone_map_live")
        .groupBy("day_d")
        .agg(
            F.max_by(
                F.struct("mn_value", "mx_value", "n_rows"), "n_rows"
            ).alias("z")
        )
        .selectExpr(
            "date_add(DATE'1970-01-01', CAST(day_d AS INT)) AS day",
            "z.mn_value AS mn_value",
            "z.mx_value AS mx_value",
            "z.n_rows AS n_rows",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# stream_bloom_ingest_live
# ---------------------------------------------------------------------------

_BLM_P = 2147483647
_BLM_WORDS = 16  # 16 x 63 = 1008 usable bits (the advisor's layout)


@query(
    "stream_bloom_ingest_live",
    # Full oracle: bit_or is a commutative monoid (the
    # stream_zone_map_live identity, one structure richer), so the
    # drained per-bucket words equal the batch bloom build under any
    # replay order and batching.
    oracle=f"""
    WITH pos AS (
      SELECT ((user_id * 2654435761) % 4294967296) // 268435456 AS grp,
             ((user_id * 48271) % {_BLM_P}) % {_BLM_WORDS * 63} AS p1,
             ((user_id * 69621) % {_BLM_P}) % {_BLM_WORDS * 63} AS p2
      FROM events),
    bits AS (
      SELECT grp, p FROM (SELECT grp, unnest([p1, p2]) AS p FROM pos) z),
    words AS (
      SELECT grp, p // 63 AS w,
             bit_or(1::BIGINT << CAST(p % 63 AS INTEGER)) AS word
      FROM bits GROUP BY 1, 2),
    agg AS (
      SELECT grp, CAST(sum(bit_count(word)) AS BIGINT) AS bits_set
      FROM words GROUP BY grp),
    cnt AS (SELECT ((user_id * 2654435761) % 4294967296) // 268435456
              AS grp, CAST(count(*) AS BIGINT) AS n_rows
            FROM events GROUP BY 1)
    SELECT CAST(cnt.grp AS BIGINT) AS grp, cnt.n_rows, agg.bits_set,
           round(CAST(agg.bits_set AS DOUBLE) / {_BLM_WORDS * 63}, 6)
             AS fill_ratio
    FROM cnt JOIN agg ON cnt.grp = agg.grp
    ORDER BY grp
    """,
)
def stream_bloom_ingest_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE BLOOM-FILTER MAINTENANCE — the streaming half of
    maintenance_bloom_rowgroup_advisor (same 1008-bit 16-word layout,
    same Lehmer-mix bit positions, user_id keys over 16 hash
    buckets): each micro-batch ORs its keys' bits into the per-bucket
    state words and emits the updated fill statistics with the
    monotone row count as sequence — the point-lookup-skipping
    metadata an append sink keeps current without rewriting files,
    exactly as stream_zone_map_live does for min/max zone maps.

    Full-oracle identity: bit_or is a commutative monoid, so the
    drained last-emission-per-bucket words equal the batch bloom
    build under ANY replay order and batch boundaries — the unordered
    event_id-mod replay is used deliberately. The emitted fill_ratio
    is ALSO the live saturation signal the advisor's false-positive
    column sizes m against: a bucket approaching fill 1.0 has stopped
    filtering.

    Parity: hash positions, words, and popcounts are exact BIGINT
    arithmetic (63 usable bits per word — DuckDB's `<<`
    overflow-checks the sign bit); one shared-shape round(6)
    division.

    Shape at 100 TB: state is O(buckets) x 16 words; each batch does
    a map-side (bucket, word) partial bit_or before the state update;
    the drained reduction is max_by(n) per bucket."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    nbits = _BLM_WORDS * 63

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            words, n = list(state.get[0]), state.get[1]
        else:
            words, n = [0] * _BLM_WORDS, 0
        for pdf in pdf_iter:
            for uid in pdf["user_id"]:
                uid = int(uid)
                for mult in (48271, 69621):
                    p = ((uid * mult) % _BLM_P) % nbits
                    words[p // 63] |= 1 << (p % 63)
            n += int(len(pdf))
        state.update((words, n))
        bits_set = sum(bin(w).count("1") for w in words)
        yield pd.DataFrame(
            {"grp": [key[0]], "n_rows": [n], "bits_set": [bits_set]}
        )

    src = replay_events_as_files(spark, sf_dir)
    stream = stream_events(spark, src).select(
        F.expr(
            "((CAST(user_id AS BIGINT) * 2654435761) % 4294967296)"
            " div 268435456"
        ).alias("grp"),
        "user_id",
    )
    out = stream.groupBy("grp").applyInPandasWithState(
        fold,
        outputStructType="grp bigint, n_rows bigint, bits_set bigint",
        stateStructType=f"words array<bigint>, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "bloom_ingest_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        spark.table("bloom_ingest_live")
        .groupBy("grp")
        .agg(
            F.max_by(F.struct("n_rows", "bits_set"), "n_rows").alias("z")
        )
        .selectExpr(
            "grp",
            "z.n_rows AS n_rows",
            "z.bits_set AS bits_set",
            f"round(CAST(z.bits_set AS DOUBLE) / {nbits}, 6)"
            " AS fill_ratio",
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# stream_hll_live
# ---------------------------------------------------------------------------

_SHLL_M = 64  # registers, shared layout with agg_hll_dense_registers


def _shll_live_oracle() -> str:
    # Registers computed DIRECTLY from the raw keys — the hash match
    # proves the streaming register-max fold loses nothing (the
    # agg_hll_dense_registers merge identity, now under arbitrary
    # micro-batch boundaries and arrival order).
    return f"""
    WITH k AS (
      SELECT event_type AS set_name,
             user_id * 32 + date_diff('day', DATE '2024-01-01',
                                      CAST(ts AS DATE)) AS key
      FROM events),
    h1x AS (
      SELECT set_name,
             ((xor(key, key >> 16) % 2147483648) * 2246822519)
               % 4294967296 AS h1
      FROM k),
    h2x AS (
      SELECT set_name,
             ((xor(h1, h1 >> 13) % 2147483648) * 3266489917)
               % 4294967296 AS h2
      FROM h1x),
    hx AS (SELECT set_name, xor(h2, h2 >> 16) AS h FROM h2x),
    rr AS (
      SELECT set_name, h % {_SHLL_M} AS reg,
             CASE WHEN h // {_SHLL_M} = 0 THEN 27
                  ELSE 27 - length(bin(h // {_SHLL_M})) END AS rho
      FROM hx),
    regs AS (
      SELECT set_name, reg, max(rho) AS m_obs FROM rr GROUP BY 1, 2),
    names AS (SELECT DISTINCT event_type AS set_name FROM events),
    dom AS (
      SELECT set_name, unnest(generate_series(0, {_SHLL_M - 1})) AS reg
      FROM names),
    dense AS (
      SELECT d.set_name, d.reg, coalesce(r.m_obs, 0) AS m_j
      FROM dom d LEFT JOIN regs r
        ON d.set_name = r.set_name AND d.reg = r.reg),
    z AS (
      SELECT set_name,
             CAST(sum(1::BIGINT << CAST(27 - m_j AS INTEGER)) AS BIGINT)
               AS znum,
             CAST(sum(CASE WHEN m_j > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS regs_nonzero
      FROM dense GROUP BY 1),
    cnt AS (
      SELECT event_type AS set_name, CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1)
    SELECT z.set_name, cnt.n_rows, z.znum, z.regs_nonzero,
           round(CAST(0.709 AS DOUBLE) * 549755813888 / z.znum, 6)
             AS est_users
    FROM z JOIN cnt ON z.set_name = cnt.set_name
    ORDER BY z.set_name
    """


@query("stream_hll_live", oracle=_shll_live_oracle())
def stream_hll_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE HLL CARDINALITY — the streaming member of the hand-rolled
    sketch pair (agg_hll_dense_registers is the batch twin;
    stream_theta_sketch_live is the bottom-k sibling): one 64-register
    array per event_type in applyInPandasWithState, each micro-batch
    folding register-max over the avalanche-hashed user-day keys and
    emitting the EXACT dyadic harmonic numerator Z_num =
    sum_j 2^(27 - M_j) as a BIGINT plus the monotone row count as
    sequence.

    This is the strongest identity in the streaming-oracle hierarchy:
    register max is a commutative IDEMPOTENT monoid, so the drained
    last-emission-per-type registers equal the batch build under ANY
    replay order, ANY batching, AND duplicate delivery — the sketch
    needs no upstream dedup at all (at-least-once ingest is free),
    which is why HLL is the cardinality monitor of choice on a 100 TB
    append stream. The unordered event_id-mod replay is used
    deliberately; the oracle computes every register DIRECTLY from
    the raw keys, so the driver hash match proves the fold loses
    nothing.

    Parity: hash, registers, Z_num, and regs_nonzero are exact BIGINT
    arithmetic both engines (rho via length(bin()) / bit_length; the
    Python fold mirrors the avalanche rounds' 31-bit masks exactly);
    the estimate alpha*m^2/Z = 0.709 * 2^39 / Z_num is one
    power-of-two-scaled division — bit-identical both engines, one
    shared round(6).

    Shape at 100 TB: state is 64 ints per set; each batch's work is a
    map-side register partial-max before the state update; the
    drained reduction is max_by(n) per set (round-8 monotone-n
    identity). Reference: app.py's collection stats surface
    (/root/reference/app.py:492-509) reports exact counts; this is
    the bounded-memory analogue a 1000-executor ingest keeps live."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            regs, n = list(state.get[0]), state.get[1]
        else:
            regs, n = [0] * _SHLL_M, 0
        for pdf in pdf_iter:
            for k in pdf["key"]:
                k = int(k)
                h1 = ((k ^ (k >> 16)) % 2147483648) * 2246822519 \
                    % 4294967296
                h2 = ((h1 ^ (h1 >> 13)) % 2147483648) * 3266489917 \
                    % 4294967296
                h = h2 ^ (h2 >> 16)
                reg = h % _SHLL_M
                w = h // _SHLL_M
                rho = 27 if w == 0 else 27 - w.bit_length()
                if rho > regs[reg]:
                    regs[reg] = rho
            n += int(len(pdf))
        state.update((regs, n))
        znum = sum(1 << (27 - m) for m in regs)
        nz = sum(1 for m in regs if m > 0)
        yield pd.DataFrame(
            {
                "set_name": [key[0]],
                "n_rows": [n],
                "znum": [znum],
                "regs_nonzero": [nz],
            }
        )

    src = replay_events_as_files(spark, sf_dir)
    stream = stream_events(spark, src).select(
        F.col("event_type").alias("set_name"),
        F.expr(
            "CAST(user_id AS BIGINT) * 32 + CAST(datediff("
            "CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT)"
        ).alias("key"),
    )
    out = stream.groupBy("set_name").applyInPandasWithState(
        fold,
        outputStructType=(
            "set_name string, n_rows bigint, znum bigint,"
            " regs_nonzero bigint"
        ),
        stateStructType="regs array<bigint>, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "hll_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return (
        spark.table("hll_live")
        .groupBy("set_name")
        .agg(
            F.max_by(F.struct("znum", "regs_nonzero"), "n_rows").alias("z"),
            F.max("n_rows").alias("n_rows"),
        )
        .selectExpr(
            "set_name",
            "n_rows",
            "z.znum AS znum",
            "z.regs_nonzero AS regs_nonzero",
            "round(CAST(0.709 AS DOUBLE) * 549755813888 / z.znum, 6)"
            " AS est_users",
        )
        .orderBy("set_name")
    )


# ---------------------------------------------------------------------------
# stream_lindley_backlog_live
# ---------------------------------------------------------------------------


@query(
    "stream_lindley_backlog_live",
    # Full oracle via the CLOSE-ON-ROLLOVER identity (the round-7
    # sessionizer trick): a day emits exactly once, when the first
    # event of a LATER day folds, so the drained table equals the
    # batch Lindley recursion minus the never-closed LAST day — for
    # any batching of the time-ordered replay.
    oracle="""
    WITH RECURSIVE d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS a
      FROM events GROUP BY 1),
    cap AS (
      SELECT a AS c FROM d WHERE day = (SELECT min(day) FROM d)),
    s AS (
      SELECT day, a, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      FROM d),
    r AS (
      SELECT s.rn, s.day, s.a,
             greatest(CAST(0 AS BIGINT), s.a - cap.c) AS b
      FROM s, cap WHERE s.rn = 1
      UNION ALL
      SELECT s.rn, s.day, s.a,
             greatest(CAST(0 AS BIGINT), r.b + s.a - cap.c)
      FROM r JOIN s ON s.rn = r.rn + 1, cap)
    SELECT r.day, r.a AS arrivals, cap.c AS capacity, r.b AS backlog,
           CASE WHEN r.b > 0 THEN 1 ELSE 0 END AS overloaded
    FROM r, cap
    WHERE r.day < (SELECT max(day) FROM d)
    ORDER BY r.day
    """,
)
def stream_lindley_backlog_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE LINDLEY BACKLOG MONITOR via applyInPandasWithState — the
    streaming twin of win_lindley_queue_backlog, ticking the queue
    recursion ONLINE: state carries (current day, its running count,
    the carried backlog, the calibrated capacity); when the first
    event of a later day folds, the closed day emits its backlog row.
    Capacity calibrates to the FIRST day's throughput (an online
    monitor cannot know the long-run mean in advance — day-1 is its
    baseline; the batch sibling uses the full-series mean, and the
    two are deliberately different estimators of the same recursion).

    Full oracle: close-on-rollover means a day emits exactly once
    regardless of batching (the stream_gap_sessionize_live identity),
    so the drained table equals the batch recursion MINUS the final
    never-closed day — the WHERE day < max(day) twin.  The fold is
    pure BIGINT.  Calendar days with NO events are SKIPPED (cur_day
    jumps to the next populated day without emitting or draining),
    mirroring the oracle's present-days-only recursion — so the
    identity survives a fixture regeneration with empty days
    (ADVICE r11; the fixture itself populates all 30 days).

    Bounded state (4 int64 for the whole queue; shard by queue key
    for a multi-queue deployment — the single global key here mirrors
    the one-queue contract and is the documented scale limit: one
    queue's ORDERED recursion is inherently sequential, so the
    per-key state store IS the right shape)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    day_us = 86_400_000_000

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            cur_day, cnt, backlog, cap = state.get
        else:
            cur_day, cnt, backlog, cap = -1, 0, 0, -1
        out = []
        part = _batch_slice(pdf_iter, ["us", "event_id"])
        if part is not None:
            for us in part["us"]:
                d = int(us) // day_us
                if cur_day < 0:
                    cur_day = d
                if d > cur_day:  # close cur_day on rollover; gap days
                    # (no events) are SKIPPED — no empty-day emission
                    # or drain, mirroring the oracle/batch twin which
                    # fold only days present in events (ADVICE r11).
                    if cap < 0:  # first day closing calibrates capacity
                        cap = cnt
                    backlog = max(0, backlog + cnt - cap)
                    out.append((cur_day, cnt, cap, backlog))
                    cur_day = d
                    cnt = 0
                cnt += 1
        state.update((cur_day, cnt, backlog, cap))
        yield pd.DataFrame(
            out, columns=["day_d", "arrivals", "capacity", "backlog"]
        )

    src = replay_events_time_ordered(spark, sf_dir)
    stream = stream_events(spark, src).select(
        F.lit(0).alias("q"), "event_id", F.unix_micros("ts").alias("us")
    )
    out = stream.groupBy("q").applyInPandasWithState(
        fold,
        outputStructType=(
            "day_d bigint, arrivals bigint, capacity bigint, backlog bigint"
        ),
        stateStructType=(
            "cur_day bigint, cnt bigint, backlog bigint, cap bigint"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_memory(
        out,
        "lindley_live",
        "append",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return spark.table("lindley_live").selectExpr(
        "date_add(DATE'1970-01-01', CAST(day_d AS INT)) AS day",
        "arrivals",
        "capacity",
        "backlog",
        "CASE WHEN backlog > 0 THEN 1 ELSE 0 END AS overloaded",
    ).orderBy("day")
