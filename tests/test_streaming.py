"""Structured Streaming semantics tests (SURVEY.md §5.5): live
micro-batch runs vs their batch twins, watermark late-drop, session
gap rules."""

from pyspark.sql import functions as F


def _key(rows, cols):
    return {tuple(getattr(r, c) for c in cols) for r in rows}


def test_sliding_live_equals_batch(spark, sf_dir):
    """Complete-mode streaming sliding window == batch twin exactly."""
    from vectordb_agentic_rag_spark.operators.streaming_batch import (
        stream_sliding_window,
    )
    from vectordb_agentic_rag_spark.streaming.core import stream_sliding_live

    live = _key(
        stream_sliding_live(spark, sf_dir).collect(),
        ["window_start", "event_type", "n"],
    )
    batch = _key(
        stream_sliding_window(spark, sf_dir).collect(),
        ["window_start", "event_type", "n"],
    )
    assert live == batch


def test_watermark_drops_late_data(spark, sf_dir):
    """Append-mode with a 10-min watermark over out-of-order file
    replay: emitted windows are a subset of batch windows and late
    arrivals are missing from the counts."""
    from vectordb_agentic_rag_spark.operators.streaming_batch import (
        stream_tumbling_count,
    )
    from vectordb_agentic_rag_spark.streaming.core import stream_watermark_late

    live = {r.window_start: r.n for r in stream_watermark_late(spark, sf_dir).collect()}
    batch_rows = stream_tumbling_count(spark, sf_dir).collect()
    batch = {}
    for r in batch_rows:
        batch[r.window_start] = batch.get(r.window_start, 0) + r.n
    assert set(live) <= set(batch)
    assert all(live[w] <= batch[w] for w in live)
    # the replay interleaves event_id % 4, so some events MUST be late
    total_live = sum(live.values())
    total_batch = sum(batch.values())
    assert total_live < total_batch


def test_stateful_dedup_counts(spark, sf_dir):
    """Streaming dropDuplicates emits exactly the distinct keys."""
    from vectordb_agentic_rag_spark.streaming.core import stream_stateful_dedup
    from vectordb_agentic_rag_spark.tables import table

    live = {r.event_type: r.n_keys for r in stream_stateful_dedup(spark, sf_dir).collect()}
    expected = {
        r.event_type: r.n
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert live == expected


def test_session_window_gap_semantics(spark):
    """Pin Spark's session_window merge rule with literal rows: an event
    at EXACTLY gap distance merges; strictly greater splits; session
    end = last event + gap."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=29)),          # merges (29 < 30)
        (1, base + dt.timedelta(minutes=59)),          # merges (exactly 30)
        (1, base + dt.timedelta(minutes=89, seconds=1)),  # splits (30m1s)
        (2, base),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
        .collect()
    )
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    u1 = sorted(by_user[1], key=lambda r: r.s)
    assert [r.n for r in u1] == [3, 1]
    assert u1[0].e == base + dt.timedelta(minutes=89)  # last(+59) + 30
    assert len(by_user[2]) == 1


def test_stateful_sessionizer_matches_batch_twin(spark, sf_dir):
    """applyInPandasWithState sessions == batch gaps-and-islands
    sessions minus each user's final (still-open) session."""
    from vectordb_agentic_rag_spark.operators.streaming_batch import (
        stream_session_window,
    )
    from vectordb_agentic_rag_spark.streaming.core import stream_stateful_session

    live = {
        r.user_id: (r.n_closed_sessions, r.n_events_in_closed)
        for r in stream_stateful_session(spark, sf_dir).collect()
    }
    batch = {}
    for r in stream_session_window(spark, sf_dir).collect():
        n_sess, n_ev, last_start = batch.get(r.user_id, (0, 0, None))
        batch[r.user_id] = (n_sess + 1, n_ev + r.n_events, r.session_start)

    # subtract each user's final session (open at end of replay)
    final_session_events = {}
    sess_rows = stream_session_window(spark, sf_dir).collect()
    for r in sess_rows:
        cur = final_session_events.get(r.user_id)
        if cur is None or r.session_start > cur[0]:
            final_session_events[r.user_id] = (r.session_start, r.n_events)

    expected = {}
    for uid, (n_sess, n_ev, _) in batch.items():
        last_ev = final_session_events[uid][1]
        if n_sess > 1:
            expected[uid] = (n_sess - 1, n_ev - last_ev)

    assert live == expected


def test_transform_with_state_running_count(spark, sf_dir):
    """Spark 4 successor state API (transformWithStateInPandas), gated
    on its worker-protocol dependency: StreamingPythonRunner imports
    the protobuf-generated StateMessage_pb2 in the Python worker, so
    without google.protobuf the query cannot start — this skip IS the
    precise statement of what the container lacks (streaming/core.py
    note). Where protobuf exists, this runs a per-event_type running
    count through a ValueState and asserts the final update per key
    equals the batch groupBy count."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas worker protocol needs protobuf",
    )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from vectordb_agentic_rag_spark.streaming.core import (
        _run_to_memory,
        replay_events_as_files,
        stream_events,
    )
    from vectordb_agentic_rag_spark.tables import table

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            prev = self._n.get()
            total = (prev[0] if prev else 0) + n
            self._n.update((total,))
            yield pd.DataFrame({"event_type": [key[0]], "n": [total]})

        def close(self) -> None:
            pass

    src = replay_events_as_files(spark, sf_dir)
    counts = (
        stream_events(spark, src)
        .groupBy("event_type")
        .transformWithStateInPandas(
            statefulProcessor=RunningCount(),
            outputStructType="event_type string, n bigint",
            outputMode="Update",
            timeMode="None",
        )
    )
    _run_to_memory(counts, "tws_running_count", "update")
    # update-mode memory sink appends each batch's updates; the final
    # running count per key is the max
    live = {
        r.event_type: r.n
        for r in spark.table("tws_running_count")
        .groupBy("event_type")
        .agg(F.max("n").alias("n"))
        .collect()
    }
    batch = {
        r.event_type: r.n
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert live == batch


def test_cusum_live_matches_batch_fold(spark, sf_dir):
    """The drained live CUSUM equals the batch fold of the same
    recurrence (known reference mean) over the full time-ordered
    series — bit-exact, because both sides run the identical
    left-assoc float ops in the identical per-key order."""
    from vectordb_agentic_rag_spark.streaming.core import (
        _CUSUM_LIVE_H,
        _CUSUM_LIVE_K,
        _CUSUM_LIVE_MU,
        stream_cusum_live,
    )
    from vectordb_agentic_rag_spark.tables import table

    live = _key(
        stream_cusum_live(spark, sf_dir).collect(),
        ["user_id", "n_events", "max_cusum", "n_alarms", "alarmed"],
    )
    fold = F.expr(
        "aggregate(transform(sort_array(collect_list(struct(us, event_id, x))), "
        "s -> s.x), "
        "named_struct('cs', CAST(0.0 AS DOUBLE), "
        "'mx', CAST(0.0 AS DOUBLE), 'al', CAST(0 AS BIGINT)), "
        f"(s, x) -> named_struct("
        f"'cs', greatest(0.0D, s.cs + x - {_CUSUM_LIVE_MU}D - {_CUSUM_LIVE_K}D), "
        f"'mx', greatest(s.mx, greatest(0.0D, s.cs + x - {_CUSUM_LIVE_MU}D - {_CUSUM_LIVE_K}D)), "
        f"'al', s.al + IF(greatest(0.0D, s.cs + x - {_CUSUM_LIVE_MU}D - {_CUSUM_LIVE_K}D) "
        f"> {_CUSUM_LIVE_H}D, CAST(1 AS BIGINT), CAST(0 AS BIGINT))))"
    )
    batch = _key(
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            F.round("value", 6).alias("x"),
        )
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_events"), fold.alias("st"))
        .select(
            "user_id",
            "n_events",
            F.round(F.col("st.mx"), 6).alias("max_cusum"),
            F.col("st.al").alias("n_alarms"),
            (F.col("st.al") > 0).cast("bigint").alias("alarmed"),
        )
        .collect(),
        ["user_id", "n_events", "max_cusum", "n_alarms", "alarmed"],
    )
    assert live == batch
    assert any(r[4] == 1 for r in batch)  # the detector actually fires


def test_token_bucket_live_matches_batch_fold(spark, sf_dir):
    """The drained live token bucket equals the batch fold over each
    user's FULL time-ordered series — exactly, because the fold is
    pure BIGINT microsecond arithmetic on both sides."""
    from vectordb_agentic_rag_spark.streaming.core import (
        _TBL_CAP,
        _TBL_COST,
        stream_token_bucket_live,
    )
    from vectordb_agentic_rag_spark.tables import table

    live = _key(
        stream_token_bucket_live(spark, sf_dir).collect(),
        ["user_id", "n_events", "n_admitted", "end_tokens_us"],
    )
    refill = f"least(CAST({_TBL_CAP} AS BIGINT), s.tok + (x - s.last))"
    fold = F.expr(
        "aggregate(slice(vals, 2, size(vals) - 1), "
        f"named_struct('tok', CAST({_TBL_CAP - _TBL_COST} AS BIGINT), "
        "'adm', CAST(1 AS BIGINT), 'last', element_at(vals, 1)), "
        f"(s, x) -> named_struct("
        f"'tok', IF({refill} >= {_TBL_COST}, {refill} - {_TBL_COST}, {refill}), "
        f"'adm', s.adm + IF({refill} >= {_TBL_COST}, "
        "CAST(1 AS BIGINT), CAST(0 AS BIGINT)), "
        "'last', x))"
    )
    batch = _key(
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.struct(F.unix_micros("ts").alias("us"), "event_id").alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.expr(
                "transform(sort_array(collect_list(s)), p -> p.us)"
            ).alias("vals"),
        )
        .select("user_id", "n_events", fold.alias("st"))
        .select(
            "user_id",
            "n_events",
            F.col("st.adm").alias("n_admitted"),
            F.col("st.tok").alias("end_tokens_us"),
        )
        .collect(),
        ["user_id", "n_events", "n_admitted", "end_tokens_us"],
    )
    assert live == batch
    # the limiter actually rejects something somewhere
    assert any(r[2] < r[1] for r in batch)


def test_page_hinkley_live_matches_batch_op(spark, sf_dir):
    """The drained live Page-Hinkley equals win_page_hinkley's batch
    fold row-for-row (same columns, same full series, identical
    left-assoc float ops)."""
    from vectordb_agentic_rag_spark.operators.windows import win_page_hinkley
    from vectordb_agentic_rag_spark.streaming.core import (
        stream_page_hinkley_live,
    )

    cols = ["user_id", "n_events", "ph_final", "n_alarms", "alarmed"]
    live = _key(stream_page_hinkley_live(spark, sf_dir).collect(), cols)
    batch = _key(win_page_hinkley(spark, sf_dir).collect(), cols)
    assert live == batch
    assert any(r[4] == 1 for r in batch)  # the detector actually fires


def test_tost_monitor_live_matches_batch_op(spark, sf_dir):
    """The drained live TOST monitor equals agg_tost_equivalence
    exactly: every per-user indicator (has-view, has-click, >= 12
    purchases) is monotone, so the per-batch 0/1 increments sum to the
    batch cohort counts regardless of where the replay cuts batches,
    and the final arithmetic is the shared expression text."""
    from vectordb_agentic_rag_spark.operators.stats.tests import (
        agg_tost_equivalence,
    )
    from vectordb_agentic_rag_spark.streaming.core import (
        stream_tost_monitor_live,
    )

    cols = [
        "n_view", "conv_view", "n_click", "conv_click",
        "diff", "z_lower", "z_upper", "equivalent",
    ]
    live = _key(stream_tost_monitor_live(spark, sf_dir).collect(), cols)
    batch = _key(agg_tost_equivalence(spark, sf_dir).collect(), cols)
    assert live == batch
    (row,) = batch
    assert row[0] > 0 and row[2] > 0  # cohorts are non-empty


def test_psi_drift_live_matches_python_recompute(spark, sf_dir):
    """Plain-Python PSI re-derivation from the raw parquet (pandas
    only, no Spark/SQL reuse): day-1 events freeze the decile edges
    via the strict-less domain CDF, every later event bins against
    them, and the per-bin (n_a, n_b, psi_term) table plus the total
    must match the drained live monitor exactly.  Independent of both
    engines, so a logic bug mirrored into the oracle cannot hide."""
    import math

    import pandas as pd

    from vectordb_agentic_rag_spark.streaming.core import (
        _PSI_CUT_US,
        stream_psi_drift_live,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    us = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
    # floor(x*100 + 0.5) mirrors both engines' half-away rounding;
    # pandas .round(0) is half-even and would flip on exact half-cents
    import numpy as np

    vc = np.floor(ev["value"] * 100 + 0.5).astype("int64")
    ref = sorted(vc[us < _PSI_CUT_US])
    cur = vc[us >= _PSI_CUT_US]
    na, nb = len(ref), len(cur)
    assert na > 0 and nb > 0  # day-1 reference is non-empty

    def g(v):  # strict-less CDF decile bin
        less = sum(1 for r in ref if r < v)
        return min(9, 10 * less // na)

    n_a: dict[int, int] = {}
    n_b: dict[int, int] = {}
    for r in ref:
        n_a[g(r)] = n_a.get(g(r), 0) + 1
    for c in cur:
        n_b[g(c)] = n_b.get(g(c), 0) + 1
    eps = 1e-6
    expected = {}
    total = 0.0
    for b in sorted(set(n_a) | set(n_b)):
        pa = max(n_a.get(b, 0) / na, eps)
        pb = max(n_b.get(b, 0) / nb, eps)
        term = round((pa - pb) * math.log(pa / pb), 9)
        total += term
        expected[b] = (n_a.get(b, 0), n_b.get(b, 0), round(term, 6))
    got = stream_psi_drift_live(spark, sf_dir).collect()
    assert {(r.bin, r.n_a, r.n_b, r.psi_term) for r in got} == {
        (b, a, c, t) for b, (a, c, t) in expected.items()
    }
    assert all(abs(r.psi_total - round(total, 6)) < 1e-9 for r in got)


def test_srm_guardrail_live_equals_batch_check(spark, sf_dir):
    """Live first-arrival SRM table == the batch agg_ab_srm_check row,
    column for column: the state-store dedup emits exactly one row
    per distinct user, so both paths aggregate the same arm counts."""
    from vectordb_agentic_rag_spark.operators.stats.models import (
        agg_ab_srm_check,
    )
    from vectordb_agentic_rag_spark.streaming.core import (
        stream_srm_guardrail_live,
    )

    live = stream_srm_guardrail_live(spark, sf_dir).collect()
    batch = agg_ab_srm_check(spark, sf_dir).collect()
    assert len(live) == len(batch) == 1
    assert live[0].asDict() == batch[0].asDict()
    # arm counts really are per-USER, not per-event
    import pandas as pd

    n_users = pd.read_parquet(f"{sf_dir}/events.parquet")[
        "user_id"
    ].nunique()
    assert live[0].n_arm_a + live[0].n_arm_b == n_users


def test_retention_cohort_live_matches_python_grid(spark, sf_dir):
    """Drained (cohort x day-offset) sums == the batch distinct-user
    grid recomputed in pandas — the increment identity holds for any
    batching; retention denominators are the day-0 cohort rows."""
    import pandas as pd

    from vectordb_agentic_rag_spark.streaming.core import (
        stream_retention_cohort_live,
    )

    out = stream_retention_cohort_live(spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["user_id", "ts"]]
    ev = ev.assign(day=ev["ts"].dt.normalize())
    first = ev.groupby("user_id")["day"].min().rename("cohort")
    a = ev.merge(first, on="user_id")[["user_id", "cohort", "day"]]
    grid = (
        a.drop_duplicates()
        .groupby(["cohort", "day"])["user_id"]
        .size()
        .reset_index(name="n")
    )
    cohort_n = {
        r["cohort"]: r["n"]
        for _, r in grid.iterrows()
        if r["cohort"] == r["day"]
    }
    exp = {
        (
            r["cohort"].date(),
            int((r["day"] - r["cohort"]).days),
        ): (r["n"], round(r["n"] / cohort_n[r["cohort"]], 6))
        for _, r in grid.iterrows()
    }
    got = {
        (r.cohort_day, int(r.day_offset)): (r.n_users, r.retention)
        for r in out.itertuples()
    }
    assert got == exp
    # every cohort has its day-0 row at retention 1.0
    assert all(
        got[(c, 0)][1] == 1.0 for c in {k[0] for k in got}
    )


def test_heavy_hitters_live_matches_exact_and_superset(spark, sf_dir):
    """Output == the exact 1.15x-mean frequent set (pandas recompute),
    and the MG error bound genuinely holds at this sf: threshold >>
    n_bucket/(K+1)."""
    import pandas as pd

    from vectordb_agentic_rag_spark.streaming.core import (
        _HH_BUCKETS,
        _HH_COUNTERS,
        stream_heavy_hitters_live,
    )

    out = stream_heavy_hitters_live(spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["user_id"]]
    c = ev.groupby("user_id").size()
    u, n = len(c), int(c.sum())
    exact = {
        (int(uid), int(cnt)) for uid, cnt in c.items() if 20 * u * cnt >= 23 * n
    }
    assert {(int(r.user_id), int(r.cnt)) for r in out.itertuples()} == exact
    assert len(exact) >= 1
    for r in out.itertuples():
        assert r.lift == round(r.cnt * u / n, 6)
    # the superset precondition: threshold above the worst-case MG error
    worst_bucket = ev.assign(b=ev["user_id"] % _HH_BUCKETS).groupby("b").size().max()
    assert 23 * n / (20 * u) > worst_bucket / (_HH_COUNTERS + 1)


def test_zone_map_live_equals_batch_under_unordered_replay(spark, sf_dir):
    """Commutative-monoid identity: the drained per-day zone rows must
    equal the batch GROUP BY day min/max/count exactly, even though
    the replay is the UNORDERED event_id-mod split."""
    import duckdb

    from vectordb_agentic_rag_spark.streaming.core import (
        stream_zone_map_live,
    )

    got = {
        str(r["day"]): (r["mn_value"], r["mx_value"], r["n_rows"])
        for r in stream_zone_map_live(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    exp = con.execute(
        f"""
        SELECT CAST(ts AS DATE), min(value), max(value), count(*)
        FROM '{sf_dir}/events.parquet' GROUP BY 1
        """
    ).fetchall()
    assert len(got) == len(exp)
    for day, mn, mx, n in exp:
        g = got[str(day)]
        assert g == (mn, mx, n)


def test_bloom_ingest_live_words_equal_batch_build(spark, sf_dir):
    """bit_or monoid identity + plain-Python recompute of the batch
    bloom build (fill counts and per-bucket row counts)."""
    import duckdb

    from vectordb_agentic_rag_spark.streaming.core import (
        _BLM_P,
        _BLM_WORDS,
        stream_bloom_ingest_live,
    )

    con = duckdb.connect()
    uids = [
        int(r[0])
        for r in con.execute(
            f"SELECT user_id FROM '{sf_dir}/events.parquet'"
        ).fetchall()
    ]
    nbits = _BLM_WORDS * 63
    buckets = {}
    for u in uids:
        g = ((u * 2654435761) % 4294967296) // 268435456
        bits, n = buckets.get(g, (set(), 0))
        for mult in (48271, 69621):
            bits.add(((u * mult) % _BLM_P) % nbits)
        buckets[g] = (bits, n + 1)
    rows = stream_bloom_ingest_live(spark, sf_dir).collect()
    assert len(rows) == len(buckets)
    for r in rows:
        bits, n = buckets[int(r["grp"])]
        assert r["n_rows"] == n
        assert r["bits_set"] == len(bits)


def test_hll_live_registers_equal_batch_build(spark, sf_dir):
    """Idempotent-monoid identity: plain-Python recompute of the batch
    HLL registers (including Z_num and the estimate expression) per
    event_type equals the drained streaming sketch."""
    import duckdb

    from vectordb_agentic_rag_spark.streaming.core import (
        _SHLL_M,
        stream_hll_live,
    )

    con = duckdb.connect()
    recs = con.execute(
        "SELECT event_type, user_id * 32 + date_diff('day',"
        " DATE '2024-01-01', CAST(ts AS DATE))"
        f" FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    sets = {}
    counts = {}
    for et, k in recs:
        k = int(k)
        h1 = ((k ^ (k >> 16)) % 2147483648) * 2246822519 % 4294967296
        h2 = ((h1 ^ (h1 >> 13)) % 2147483648) * 3266489917 % 4294967296
        h = h2 ^ (h2 >> 16)
        regs = sets.setdefault(et, [0] * _SHLL_M)
        w = h // _SHLL_M
        rho = 27 if w == 0 else 27 - w.bit_length()
        regs[h % _SHLL_M] = max(regs[h % _SHLL_M], rho)
        counts[et] = counts.get(et, 0) + 1
    rows = stream_hll_live(spark, sf_dir).collect()
    assert len(rows) == len(sets)
    for r in rows:
        regs = sets[r["set_name"]]
        znum = sum(1 << (27 - m) for m in regs)
        assert r["n_rows"] == counts[r["set_name"]]
        assert r["znum"] == znum
        assert r["regs_nonzero"] == sum(1 for m in regs if m > 0)
        assert abs(r["est_users"] - 0.709 * 549755813888 / znum) < 1e-6
        # the sketch must actually estimate: within 60% of exact
        # (m=64 rsd is 13%; generous for small sets)
        exact = len(
            {k for et, k in recs if et == r["set_name"]}
        )
        assert abs(r["est_users"] - exact) / exact < 0.6
