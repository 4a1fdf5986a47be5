"""Engine façade + stateful streaming operator tests."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sql_engine_triangle_spark.engine import Engine
from sql_engine_triangle_spark.streaming import stateful
from sql_engine_triangle_spark.streaming import windows as W
from tests.conftest import SF_DIR, SF_DIR_SMALL


def test_engine_three_entry_points_agree(spark):
    eng = Engine(spark=spark, sf_dir=SF_DIR)
    sql_n = eng.sql("SELECT count(*) AS n FROM lineitem").head().n
    df_n = eng.table("lineitem").count()
    assert sql_n == df_n > 0
    q = eng.query("q1_agg_by_type").toPandas()
    assert list(q.columns) == ["l_returnflag", "cnt", "avg_price", "min_price", "max_price"]
    assert "q1_agg_by_type" in eng.query_names()
    assert eng.oracle("q1_agg_by_type") is not None


def test_engines_on_one_session_read_their_own_tables(spark):
    """Two Engines over different scale factors on one session: each
    Engine.sql reads its own sf_dir however the calls interleave."""
    small, big = Engine(spark, SF_DIR_SMALL), Engine(spark, SF_DIR)
    q = "SELECT count(*) AS n FROM lineitem"
    n_small = small.sql(q).head().n
    n_big = big.sql(q).head().n
    assert n_small == small.table("lineitem").count()
    assert n_big == big.table("lineitem").count() > n_small
    assert small.sql(q).head().n == n_small
    assert big.sql(q).head().n == n_big


def test_stateful_running_totals_matches_batch(spark):
    """applyInPandasWithState running totals: after consuming the
    whole stream, per-user state equals the batch groupBy totals."""
    from sql_engine_triangle_spark.catalog import load_table

    stream = W.stream_from_parquet(spark, SF_DIR_SMALL)
    out = stateful.running_user_totals(stream)
    got = W.run_stream_to_memory(spark, out, "t_stateful", output_mode="update")
    # update mode may emit a row per user per batch; keep the last.
    got_pdf = (
        got.toPandas()
        .sort_values(["user_id", "n_events"])
        .groupby("user_id")
        .tail(1)
        .set_index("user_id")
        .sort_index()
    )

    batch = (
        load_table(spark, SF_DIR_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got_pdf["n_events"] == batch["n_events"]).all()
    pd.testing.assert_series_equal(
        got_pdf["sum_value"], batch["sum_value"], rtol=1e-9, check_names=False
    )


def _batch_closed_sessions(spark, sf_dir, include_final=False):
    """Gaps-and-islands batch twin: 30-min-gap sessions per user,
    EXCLUDING each user's final session by default (that one only
    closes via timeout, which an availableNow run may or may not
    fire); include_final=True returns ALL sessions — the superset a
    chunked stream's emissions must stay within."""
    from sql_engine_triangle_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    us = (F.unix_micros("ts")).alias("us")
    w = Window.partitionBy("user_id").orderBy("us")
    gap = 30 * 60 * 1_000_000
    marked = (
        ev.select("user_id", us, "value")
        .withColumn("_new", (F.col("us") - F.lag("us").over(w) > gap).cast("long"))
        .withColumn("_sid", F.coalesce(F.sum("_new").over(
            Window.partitionBy("user_id").orderBy("us")
            .rowsBetween(Window.unboundedPreceding, 0)), F.lit(0)))
    )
    sess = marked.groupBy("user_id", "_sid").agg(
        F.min("us").alias("session_start_us"),
        F.max("us").alias("session_end_us"),
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    cols = ["user_id", "session_start_us", "session_end_us", "n_events", "sum_value"]
    if include_final:
        return sess.select(*cols)
    last = sess.groupBy("user_id").agg(F.max("_sid").alias("_last_sid"))
    return (
        sess.join(last, "user_id")
        .filter(F.col("_sid") < F.col("_last_sid"))
        .select(*cols)
    )


def test_stateful_session_timeout_matches_batch(spark):
    """Custom applyInPandasWithState sessionizer: closed sessions over
    the whole stream equal the batch gaps-and-islands sessions (minus
    each user's open final session)."""
    stream = W.stream_from_parquet(spark, SF_DIR_SMALL)
    out = stateful.sessionize_with_timeout(stream)
    got_all = W.run_stream_to_memory(
        spark, out, "t_sessions", output_mode="append"
    ).toPandas()
    # a final no-data micro-batch may fire event-time timeouts for
    # trailing sessions; gap-closed rows are the batch-comparable set
    got = (
        got_all[got_all["closed_by_timeout"] == 0]
        .sort_values(["user_id", "session_start_us"])
        .reset_index(drop=True)
    )
    want = (
        _batch_closed_sessions(spark, SF_DIR_SMALL)
        .toPandas()
        .sort_values(["user_id", "session_start_us"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in ("user_id", "session_start_us", "session_end_us", "n_events"):
        assert (got[c].values == want[c].values).all(), c
    pd.testing.assert_series_equal(
        got["sum_value"], want["sum_value"], rtol=1e-9, check_names=False
    )


def test_stateful_session_merges_across_batches(spark, tmp_path):
    """A session whose events arrive in TWO micro-batches must emerge
    as ONE session: split one user's in-gap events across two files,
    stream with maxFilesPerTrigger=1, and check the merged result."""
    import os

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("event_type", StringType()),
        ]
    )
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    mins = lambda m: t0 + datetime.timedelta(minutes=m)  # noqa: E731
    # user 1: events at 0,10 | batch-2: 20,25 (all in-gap -> ONE open
    # session, never emitted) and a second user whose gap closes a
    # session INSIDE batch 2: 0,5 | 90 (gap > 30 min -> first closes).
    b1 = [(1, mins(0), 1.0, "a"), (1, mins(10), 2.0, "a"), (2, mins(0), 5.0, "a"), (2, mins(5), 6.0, "a")]
    b2 = [(1, mins(20), 3.0, "a"), (1, mins(25), 4.0, "a"), (2, mins(90), 7.0, "a")]
    land = str(tmp_path / "land")
    os.makedirs(land)
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / f"stage{i}")
        )
        # one parquet part-file per batch, named in arrival order
        part = [f for f in os.listdir(str(tmp_path / f"stage{i}")) if f.endswith(".parquet")][0]
        os.link(str(tmp_path / f"stage{i}" / part), os.path.join(land, f"b{i}.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    out = stateful.sessionize_with_timeout(stream)
    got = (
        W.run_stream_to_memory(spark, out, "t_sessions_2b", output_mode="append")
        .toPandas()
        .sort_values(["user_id", "session_start_us"])
        .reset_index(drop=True)
    )
    import calendar

    us = lambda m: calendar.timegm(mins(m).timetuple()) * 1_000_000  # noqa: E731
    # Exactly one GAP-closed session: user 2's first. User 1's events
    # span both batches but stay in-gap — one merged open session.
    closed = got[got["closed_by_timeout"] == 0]
    assert len(closed) == 1
    r = closed.iloc[0]
    assert r["user_id"] == 2 and r["n_events"] == 2 and r["sum_value"] == 11.0
    assert r["session_start_us"] == us(0) and r["session_end_us"] == us(5)
    # If a trailing no-data batch fired timeouts, user 1's row must be
    # the MERGED cross-batch session (0..25, 4 events) — the property
    # under test — never two per-batch fragments.
    t1 = got[(got["closed_by_timeout"] == 1) & (got["user_id"] == 1)]
    assert len(t1) <= 1
    if len(t1) == 1:
        r1 = t1.iloc[0]
        assert r1["n_events"] == 4 and r1["sum_value"] == 10.0
        assert r1["session_start_us"] == us(0) and r1["session_end_us"] == us(25)


def test_stateful_ema_matches_batch_across_batches(spark, tmp_path):
    """Streaming integer EMA == the batch w_ema_int fold, with the
    stream split into TWO time-ordered files consumed one per
    micro-batch — state must carry the recurrence across the batch
    boundary bit-exactly."""
    import os

    from sql_engine_triangle_spark.catalog import load_table
    from sql_engine_triangle_spark.queries import registry

    ev = (
        load_table(spark, SF_DIR_SMALL, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
    )
    cut = ev.agg(F.expr("percentile(unix_micros(ts), 0.5)")).head()[0]
    d = str(tmp_path / "ema_stream")
    os.makedirs(d)
    ev.filter(F.unix_micros("ts") <= cut).coalesce(1).write.parquet(
        os.path.join(d, "f1.parquet")
    )
    ev.filter(F.unix_micros("ts") > cut).coalesce(1).write.parquet(
        os.path.join(d, "f2.parquet")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*/")
    )
    out = stateful.running_user_ema(stream)
    got = (
        W.run_stream_to_memory(spark, out, "t_ema", output_mode="update")
        .toPandas()
        .sort_values(["user_id", "n_events"])
        .groupby("user_id")
        .tail(1)
        .set_index("user_id")
        .sort_index()
    )
    want = (
        registry.get("w_ema_int")
        .fn(spark, SF_DIR_SMALL)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got["n_events"] == want["n_events"]).all()
    assert (got["ema_cents"] == want["ema_cents"]).all()


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fracs=st.lists(
        st.integers(min_value=5, max_value=95), min_size=1, max_size=3, unique=True
    )
)
def test_stateful_ema_chunking_invariance(spark, fracs):
    """Batch-stream equivalence under ARBITRARY micro-batch chunking:
    the fixed two-file EMA test generalized — split the purchase
    stream at RANDOM time quantiles into 2-4 time-contiguous files,
    consume one per micro-batch, and the final per-user state must
    equal the batch w_ema_int fold bit-exactly for EVERY split. This
    is the property that makes the stateful operator deployable: its
    result cannot depend on where the ingestion happened to cut
    micro-batches."""
    import os
    import shutil
    import tempfile

    from sql_engine_triangle_spark.catalog import load_table
    from sql_engine_triangle_spark.queries import registry

    ev = (
        load_table(spark, SF_DIR_SMALL, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
    )
    qs = sorted(f / 100.0 for f in fracs)
    cuts = [
        int(c)
        for c in ev.agg(
            F.expr(
                "percentile(unix_micros(ts), array("
                + ",".join(str(q) for q in qs)
                + "))"
            )
        ).head()[0]
    ]
    bounds = [None, *cuts, None]
    d = tempfile.mkdtemp(prefix="ema_fuzz_")
    try:
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            part = ev
            if lo is not None:
                part = part.filter(F.unix_micros("ts") > lo)
            if hi is not None:
                part = part.filter(F.unix_micros("ts") <= hi)
            part.coalesce(1).write.parquet(os.path.join(d, f"f{i}.parquet"))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/*/")
        )
        out = stateful.running_user_ema(stream)
        name = f"t_ema_fuzz_{'_'.join(map(str, fracs))}"
        got = (
            W.run_stream_to_memory(spark, out, name, output_mode="update")
            .toPandas()
            .sort_values(["user_id", "n_events"])
            .groupby("user_id")
            .tail(1)
            .set_index("user_id")
            .sort_index()
        )
        want = (
            registry.get("w_ema_int")
            .fn(spark, SF_DIR_SMALL)
            .toPandas()
            .set_index("user_id")
            .sort_index()
        )
        assert (got["n_events"] == want["n_events"]).all()
        assert (got["ema_cents"] == want["ema_cents"]).all()
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fracs=st.lists(
        st.integers(min_value=10, max_value=90), min_size=1, max_size=3, unique=True
    )
)
def test_stateful_sessionizer_chunking_invariance(spark, fracs):
    """Chunking invariance for the timeout sessionizer: under ANY
    time-contiguous micro-batch split, every emitted session must
    equal the batch gaps-and-islands session with the same
    (user, start) — a session may close by GAP or by TIMEOUT
    depending on where the watermark lands between batches, but its
    CONTENT (end, count, sum) must not depend on the chunking — and
    the emitted set must cover every non-final batch session while
    never exceeding the full batch session set."""
    import os
    import shutil
    import tempfile

    from sql_engine_triangle_spark.catalog import load_table

    ev = load_table(spark, SF_DIR_SMALL, "events").select("user_id", "ts", "value")
    qs = sorted(f / 100.0 for f in fracs)
    cuts = [
        int(c)
        for c in ev.agg(
            F.expr(
                "percentile(unix_micros(ts), array("
                + ",".join(str(q) for q in qs)
                + "))"
            )
        ).head()[0]
    ]
    bounds = [None, *cuts, None]
    d = tempfile.mkdtemp(prefix="sess_fuzz_")
    try:
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            part = ev
            if lo is not None:
                part = part.filter(F.unix_micros("ts") > lo)
            if hi is not None:
                part = part.filter(F.unix_micros("ts") <= hi)
            part.coalesce(1).write.parquet(os.path.join(d, f"f{i}.parquet"))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/*/")
        )
        out = stateful.sessionize_with_timeout(stream)
        name = f"t_sess_fuzz_{'_'.join(map(str, fracs))}"
        got = W.run_stream_to_memory(
            spark, out, name, output_mode="append"
        ).toPandas()
        keycols = ["user_id", "session_start_us"]
        valcols = ["session_end_us", "n_events"]
        got_m = got.set_index(keycols).sort_index()
        assert not got_m.index.has_duplicates  # one emission per session
        all_s = (
            _batch_closed_sessions(spark, SF_DIR_SMALL, include_final=True)
            .toPandas()
            .set_index(keycols)
            .sort_index()
        )
        closed = (
            _batch_closed_sessions(spark, SF_DIR_SMALL)
            .toPandas()
            .set_index(keycols)
            .sort_index()
        )
        # every emission is a real batch session with identical content
        assert got_m.index.isin(all_s.index).all()
        joined = all_s.loc[got_m.index]
        for c in valcols:
            assert (got_m[c].values == joined[c].values).all(), c
        pd.testing.assert_series_equal(
            got_m["sum_value"], joined["sum_value"], rtol=1e-9, check_names=False
        )
        # every non-final batch session must have been emitted
        assert closed.index.isin(got_m.index).all()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stateful_cusum_matches_batch_across_batches(spark, tmp_path):
    """Streaming CUSUM monitor == an independent Python CUSUM fold
    over CLOSED days, with the stream split into two time-ordered
    files consumed one per micro-batch — the six-long state must
    carry the clipped recursion across the batch boundary exactly.
    Targets are the batch-derived per-type means (reference trained
    on history, then monitored with FIXED μ0 — the deployment
    shape)."""
    import math
    import os

    import pandas as pd

    from sql_engine_triangle_spark.catalog import load_table

    ev = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    pdf = pd.read_parquet(f"{SF_DIR_SMALL}/events.parquet")
    pdf["cents"] = (pdf["value"] * 100 + 0.5).apply(math.floor)
    pdf["day"] = pdf["ts"].dt.day
    daily = pdf.groupby(["event_type", "day"])["cents"].sum()
    targets = {
        et: int(daily.loc[et].sum()) // len(daily.loc[et])
        for et in pdf["event_type"].unique()
    }

    cut = ev.agg(F.expr("percentile(unix_micros(ts), 0.5)")).head()[0]
    d = str(tmp_path / "cusum_stream")
    os.makedirs(d)
    ev.filter(F.unix_micros("ts") <= cut).coalesce(1).write.parquet(
        os.path.join(d, "f1.parquet")
    )
    ev.filter(F.unix_micros("ts") > cut).coalesce(1).write.parquet(
        os.path.join(d, "f2.parquet")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*/")
    )
    out = stateful.running_cusum_monitor(stream, targets)
    got = (
        W.run_stream_to_memory(spark, out, "t_cusum", output_mode="update")
        .toPandas()
        .sort_values(["event_type", "n_days_closed"])
        .groupby("event_type")
        .tail(1)
        .set_index("event_type")
        .sort_index()
    )
    # independent reference: fold over all days EXCEPT the last open
    # one, in day order, per type
    for et in sorted(targets):
        vals = daily.loc[et].sort_index().tolist()[:-1]
        target = targets[et]
        k, h = target // 50, target // 8
        s = smax = alarms = 0
        for x in vals:
            s = max(0, s + x - target - k)
            smax = max(smax, s)
            alarms += s > h
        row = got.loc[et]
        assert row["n_days_closed"] == len(vals), et
        assert row["s"] == s, et
        assert row["cusum_max"] == smax, et
        assert row["n_alarms"] == alarms, et
    # alarm machinery genuinely exercised
    assert (got["n_alarms"] > 0).any()


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fracs=st.lists(
        st.integers(min_value=5, max_value=95), min_size=1, max_size=3, unique=True
    )
)
def test_stateful_cusum_chunking_invariance(spark, fracs):
    """Batch-stream equivalence for the CUSUM monitor under ARBITRARY
    micro-batch chunking: split the events stream at random time
    quantiles into 2-4 time-contiguous files and the final per-type
    state must equal the Python closed-day fold for EVERY split —
    including splits that cut a day in half, which exercises the
    open-day accumulator carrying across batches."""
    import math
    import os
    import shutil
    import tempfile

    import pandas as pd

    from sql_engine_triangle_spark.catalog import load_table

    ev = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    pdf = pd.read_parquet(f"{SF_DIR_SMALL}/events.parquet")
    pdf["cents"] = (pdf["value"] * 100 + 0.5).apply(math.floor)
    pdf["day"] = pdf["ts"].dt.day
    daily = pdf.groupby(["event_type", "day"])["cents"].sum()
    targets = {
        et: int(daily.loc[et].sum()) // len(daily.loc[et])
        for et in pdf["event_type"].unique()
    }
    qs = sorted(f / 100.0 for f in fracs)
    cuts = [
        int(c)
        for c in ev.agg(
            F.expr(
                "percentile(unix_micros(ts), array("
                + ",".join(str(q) for q in qs)
                + "))"
            )
        ).head()[0]
    ]
    bounds = [None, *cuts, None]
    d = tempfile.mkdtemp(prefix="cusum_fuzz_")
    try:
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            part = ev
            if lo is not None:
                part = part.filter(F.unix_micros("ts") > lo)
            if hi is not None:
                part = part.filter(F.unix_micros("ts") <= hi)
            part.coalesce(1).write.parquet(os.path.join(d, f"f{i}.parquet"))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/*/")
        )
        out = stateful.running_cusum_monitor(stream, targets)
        name = f"t_cusum_fuzz_{'_'.join(map(str, fracs))}"
        got = (
            W.run_stream_to_memory(spark, out, name, output_mode="update")
            .toPandas()
            .sort_values(["event_type", "n_days_closed"])
            .groupby("event_type")
            .tail(1)
            .set_index("event_type")
            .sort_index()
        )
        for et in sorted(targets):
            vals = daily.loc[et].sort_index().tolist()[:-1]
            target = targets[et]
            k, h = target // 50, target // 8
            s = smax = alarms = 0
            for x in vals:
                s = max(0, s + x - target - k)
                smax = max(smax, s)
                alarms += s > h
            row = got.loc[et]
            assert row["n_days_closed"] == len(vals), (et, fracs)
            assert row["s"] == s, (et, fracs)
            assert row["cusum_max"] == smax, (et, fracs)
            assert row["n_alarms"] == alarms, (et, fracs)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _holt_closed_day_ref(vals):
    """Python truncated-division Holt fold over CLOSED days — the
    same reference the batch entry is pinned against
    (tests/test_warehouse_ops.py), shared by both Holt stream tests."""

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    lvl, trd, sae = vals[0], 0, 0
    for x in vals[1:]:
        sae += abs(x - lvl - trd)
        l_new = tdiv(x + 3 * (lvl + trd), 4)
        trd = tdiv((l_new - lvl) + 3 * trd, 4)
        lvl = l_new
    return lvl, trd, sae


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fracs=st.lists(
        st.integers(min_value=5, max_value=95), min_size=1, max_size=3, unique=True
    )
)
def test_stateful_holt_chunking_invariance(spark, fracs):
    """Batch-stream equivalence for the Holt forecasting monitor
    under ARBITRARY micro-batch chunking (the running_cusum_monitor
    harness): split the events stream at random time quantiles into
    time-contiguous files; the final per-type state must equal the
    Python closed-day Holt fold for EVERY split — including splits
    cutting a day in half (open-day accumulator carried across
    batches) and splits before the first day closes (the
    uninitialized-state marker)."""
    import math
    import os
    import shutil
    import tempfile

    import pandas as pd

    from sql_engine_triangle_spark.catalog import load_table

    ev = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    pdf = pd.read_parquet(f"{SF_DIR_SMALL}/events.parquet")
    pdf["cents"] = (pdf["value"] * 100 + 0.5).apply(math.floor)
    pdf["day"] = pdf["ts"].dt.normalize()
    daily = pdf.groupby(["event_type", "day"])["cents"].sum()
    qs = sorted(f / 100.0 for f in fracs)
    cuts = [
        int(c)
        for c in ev.agg(
            F.expr(
                "percentile(unix_micros(ts), array("
                + ",".join(str(q) for q in qs)
                + "))"
            )
        ).head()[0]
    ]
    bounds = [None, *cuts, None]
    d = tempfile.mkdtemp(prefix="holt_fuzz_")
    try:
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            part = ev
            if lo is not None:
                part = part.filter(F.unix_micros("ts") > lo)
            if hi is not None:
                part = part.filter(F.unix_micros("ts") <= hi)
            part.coalesce(1).write.parquet(os.path.join(d, f"f{i}.parquet"))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/*/")
        )
        out = stateful.running_holt_monitor(stream)
        name = f"t_holt_fuzz_{'_'.join(map(str, fracs))}"
        got = (
            W.run_stream_to_memory(spark, out, name, output_mode="update")
            .toPandas()
            .sort_values(["event_type", "n_days_closed"])
            .groupby("event_type")
            .tail(1)
            .set_index("event_type")
            .sort_index()
        )
        saw_negative = False
        for et in sorted(pdf["event_type"].unique()):
            vals = daily.loc[et].sort_index().tolist()[:-1]  # last day open
            lvl, trd, sae = _holt_closed_day_ref(vals)
            row = got.loc[et]
            assert row["n_days_closed"] == len(vals), et
            assert row["level_cents"] == lvl, et
            assert row["trend_cents"] == trd, et
            assert row["forecast_5d_cents"] == lvl + 5 * trd, et
            assert row["sum_abs_err_cents"] == sae, et
            saw_negative |= trd < 0
        assert (got["sum_abs_err_cents"] > 0).all()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stateful_holt_matches_batch_entry_when_all_days_close(spark):
    """Feeding the stream one sentinel event one day AFTER the real
    data closes every real day, so the streaming state must equal the
    BATCH w_holt_linear_int entry row-for-row — the exact
    batch==stream contract, not just reference equality."""
    import os
    import shutil
    import tempfile

    from sql_engine_triangle_spark.catalog import load_table
    from sql_engine_triangle_spark.queries import registry

    ev = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    batch = (
        registry.get("w_holt_linear_int")
        .fn(spark, SF_DIR_SMALL)
        .toPandas()
        .set_index("event_type")
    )
    sentinel = ev.groupBy("event_type").agg(
        F.expr("timestampadd(DAY, 1, max(ts))").alias("ts"),
        (F.max("event_id") + 1).alias("event_id"),
    ).select("event_type", "ts", "event_id", F.lit(0.0).alias("value"))
    d = tempfile.mkdtemp(prefix="holt_close_")
    try:
        ev.coalesce(1).write.parquet(os.path.join(d, "f0.parquet"))
        sentinel.coalesce(1).write.parquet(os.path.join(d, "f1.parquet"))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/*/")
        )
        out = stateful.running_holt_monitor(stream)
        got = (
            W.run_stream_to_memory(spark, out, "t_holt_close", output_mode="update")
            .toPandas()
            .sort_values(["event_type", "n_days_closed"])
            .groupby("event_type")
            .tail(1)
            .set_index("event_type")
            .sort_index()
        )
        for et in batch.index:
            b, s = batch.loc[et], got.loc[et]
            assert s["n_days_closed"] == b["n_days"], et
            assert s["level_cents"] == b["level_cents"], et
            assert s["trend_cents"] == b["trend_cents"], et
            assert s["forecast_5d_cents"] == b["forecast_5d_cents"], et
            assert s["sum_abs_err_cents"] == b["sum_abs_err_cents"], et
    finally:
        shutil.rmtree(d, ignore_errors=True)
