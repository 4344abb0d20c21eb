"""Driver-checkable streaming queries (streaming/stream_queries.py):
each runs a real AvailableNow job over multi-file micro-batches and
must equal the batch answer exactly — plus the degenerate-run guard
(single micro-batch ⇒ raise, the incremental path would be untested).
"""

import pytest
from pyspark.sql import functions as F

from ocr_intern_spark.streaming.stream_queries import (
    q_stream_dedup_fingerprint,
    q_stream_events_summary,
    q_stream_resume_checkpoint,
)

SF = "/root/testdata/sf0.001"


def _as_sets(df):
    return {tuple(r) for r in df.collect()}


def test_stream_events_summary_equals_batch(spark):
    got = q_stream_events_summary(spark, SF)
    events = spark.read.parquet(f"{SF}/events.parquet")
    want = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("string")
        .alias("value_cents"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )
    assert _as_sets(got) == _as_sets(want)
    assert got.columns == [
        "event_type", "n_events", "value_cents", "first_event", "last_event",
    ]


def test_stream_dedup_fingerprint_equals_batch(spark):
    got = q_stream_dedup_fingerprint(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    want = docs.groupBy(fp.alias("fp")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc")
    )
    assert _as_sets(got) == _as_sets(want)
    # every source doc is accounted for exactly once
    assert got.agg(F.sum("n_docs")).first()[0] == docs.count()


def test_stream_resume_exactly_once(spark):
    """The two-run shared-checkpoint flow must produce each doc exactly
    once — a duplicated or dropped micro-batch would break either the
    count or the per-doc values."""
    got = q_stream_resume_checkpoint(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert got.count() == docs.count()
    assert got.select("doc_id").distinct().count() == docs.count()
    toks = F.split(F.trim(F.col("text")), r"\s+")
    want = docs.select(
        "doc_id",
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(toks))
        .cast("int")
        .alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars"),
    )
    assert _as_sets(got) == _as_sets(want)


@pytest.mark.parametrize("mode", ["complete", "append"])
def test_degenerate_single_batch_raises(spark, tmp_path, mode):
    """A run that collapses to one micro-batch must raise, not silently
    pass: stage ONE file so maxFilesPerTrigger=1 yields one batch. Both
    output modes the stream queries use go through the same guard
    (append runs a stateless projection: an unwatermarked aggregation
    cannot run in append mode)."""
    from ocr_intern_spark.streaming import stream_queries as sq

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    one = str(tmp_path / "one")
    docs.coalesce(1).write.parquet(one)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(one)
    )
    if mode == "complete":
        df = stream.groupBy("lang").count()
    else:
        df = stream.select("doc_id", "lang")
    with pytest.raises(RuntimeError, match="micro-batch"):
        sq._run_to_memory(df, str(tmp_path / "ckpt"), mode)


def test_windowed_append_matches_batch_horizon(spark):
    """Append-mode watermarked window agg: the final emitted set must
    be exactly the windows whose end <= max(ts) - delay — computed
    here independently from the raw rows — and the corpus's last day
    must be CUT (the append-mode horizon is non-vacuous)."""
    from collections import defaultdict
    from datetime import datetime, timedelta
    from math import floor

    from ocr_intern_spark.streaming.stream_queries import (
        q_stream_windowed_append,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    mx = max(r.ts for r in ev)
    wm = mx - timedelta(hours=1)
    ref_n: dict = defaultdict(int)
    ref_c: dict = defaultdict(int)
    dropped_days = set()
    for r in ev:
        day = datetime(r.ts.year, r.ts.month, r.ts.day)
        if day + timedelta(days=1) <= wm:
            k = (day.strftime("%Y-%m-%d %H:%M:%S"), r.event_type)
            ref_n[k] += 1
            ref_c[k] += int(floor(r.value * 100))
        else:
            dropped_days.add(day)
    assert dropped_days, "horizon cut must be exercised"

    got = {
        (r.day_start, r.event_type): (r.n_events, r.value_cents)
        for r in q_stream_windowed_append(spark, SF).collect()
    }
    assert got == {k: (ref_n[k], str(ref_c[k])) for k in ref_n}


def test_session_window_merges_across_micro_batches(spark):
    """The value of the streaming session shape is state MERGING: a
    session whose events arrive in different micro-batches must come
    out as one row. Rebuild the staging slices exactly as the query
    stages them (ts, event_id order, 8 contiguous slices) and prove
    (a) at least one EMITTED session straddles a slice boundary, and
    (b) the horizon cut is non-vacuous (some session is withheld)."""
    from datetime import timedelta

    from ocr_intern_spark.streaming.stream_queries import (
        _N_FILES,
        q_stream_session_window,
    )

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "user_id", "value", "event_id")
        .orderBy("ts", "event_id")
        .collect()
    )
    per = max(1, (len(rows) + _N_FILES - 1) // _N_FILES)
    slice_of = {
        r.event_id: i // per for i, r in enumerate(rows)
    }

    # independent python session rebuild (gap = 6h, delay = 1h)
    gap = timedelta(hours=6)
    wm = max(r.ts for r in rows) - timedelta(hours=1)
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    sessions = []  # (user, start, end, n, slices)
    for u, rs in by_user.items():
        cur = [rs[0]]
        for r in rs[1:]:
            if r.ts - cur[-1].ts >= gap:
                sessions.append(cur)
                cur = [r]
            else:
                cur.append(r)
        sessions.append(cur)
    finalized = [s for s in sessions if s[-1].ts + gap <= wm]
    withheld = [s for s in sessions if s[-1].ts + gap > wm]
    straddlers = [
        s
        for s in finalized
        if len({slice_of[r.event_id] for r in s}) > 1
    ]
    assert straddlers, "no finalized session spans a micro-batch boundary"
    assert withheld, "horizon cut vacuous: every session finalized"

    got = q_stream_session_window(spark, SF)
    got_rows = {
        (r.user_id, r.s_start, r.n_events) for r in got.collect()
    }
    assert len(got_rows) == len(finalized)
    # the straddling session came out as ONE merged row with the full
    # event count
    s = straddlers[0]
    key = (
        s[0].user_id,
        s[0].ts.strftime("%Y-%m-%d %H:%M:%S"),
        len(s),
    )
    assert key in got_rows


def test_late_drop_audit_golden_and_laws(spark):
    """The lateness audit at sf0.001, pinned to the independently
    calibrated golden (lag-2 watermark filter, distinct-group drop
    metric), plus its structural laws: warm-up batches drop nothing,
    every post-warm-up batch drops (the injection is non-vacuous),
    and inputs sum to the corpus."""
    from ocr_intern_spark.streaming.stream_queries import (
        q_stream_late_drop_audit,
    )

    rows = [
        (r.batch, r.n_input, r.n_dropped_late)
        for r in q_stream_late_drop_audit(spark, SF).collect()
    ]
    assert rows == [
        (0, 121, 0), (1, 122, 0), (2, 125, 3), (3, 125, 3),
        (4, 126, 3), (5, 124, 3), (6, 125, 3), (7, 132, 3),
    ]
    assert sum(r[1] for r in rows) == 1000
