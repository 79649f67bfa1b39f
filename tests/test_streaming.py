"""Structured Streaming ingestion: batch parity, windowed aggs, state.

Uses Trigger.AvailableNow so each test drains its input and stops —
deterministic, no sleeps.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from assignment3_qachatapplication_vectorembeddings_spark.functions.embedding import (
    HashingEmbedder,
    embed_column,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.chunking import (
    pypdf_chunk_table,
)
from assignment3_qachatapplication_vectorembeddings_spark.sources.tables import load_table
from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
    EVENT_STREAM_SCHEMA,
    run_streaming_ingest,
    sessionize_stream,
    windowed_event_counts,
)

DOCS = [
    {"FormName": "alpha", "text": "one two three\nfour five six\nseven eight"},
    {"FormName": "beta", "text": "lorem ipsum dolor\nsit amet"},
    {"FormName": "gamma", "text": "spark streams files\nexactly once\nper file"},
]


def test_streaming_ingest_matches_batch(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    # two arrival waves → two micro-batches under availableNow
    (landing / "wave1.json").write_text(
        "\n".join(json.dumps(d) for d in DOCS[:2])
    )
    (landing / "wave2.json").write_text(json.dumps(DOCS[2]))

    out = str(tmp_path / "out")
    q = run_streaming_ingest(
        spark,
        str(landing),
        out,
        str(tmp_path / "ckpt"),
        token_limit=4,
        tokenizer="ws",
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch_in = spark.createDataFrame(
        [(d["FormName"], d["text"]) for d in DOCS], "FormName string, text string"
    )
    want = embed_column(
        pypdf_chunk_table(batch_in, token_limit=4, tokenizer="ws"),
        "Content",
        HashingEmbedder(dim=64),
        out_col="Embeddings",
    )
    # identical rows regardless of micro-batch split: one code path
    assert got.count() == want.count()
    g = {(r["FormName"], r["ChunkId"], r["Content"]) for r in got.collect()}
    w = {(r["FormName"], r["ChunkId"], r["Content"]) for r in want.collect()}
    assert g == w


def test_streaming_resume_is_exactly_once(spark, tmp_path):
    """New files after a restart are processed; old files are not re-run."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.json").write_text(json.dumps(DOCS[0]))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    q = run_streaming_ingest(spark, str(landing), out, ckpt, token_limit=4, tokenizer="ws")
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    (landing / "b.json").write_text(json.dumps(DOCS[1]))
    q = run_streaming_ingest(spark, str(landing), out, ckpt, token_limit=4, tokenizer="ws")
    q.awaitTermination(120)
    df = spark.read.parquet(out)
    # alpha rows unchanged (no duplicates), beta rows appended
    assert df.filter("FormName = 'alpha'").count() == n1
    assert df.filter("FormName = 'beta'").count() > 0


@pytest.fixture()
def event_stream_dir(spark, sf_dir, tmp_path):
    """Events table staged as a streamable parquet dir (value→string to
    exercise schema-projection too)."""
    p = tmp_path / "events"
    load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", F.col("value").cast("string")
    ).coalesce(2).write.parquet(str(p))
    return str(p)


def test_windowed_counts_match_batch(spark, sf_dir, tmp_path, event_stream_dir):
    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .parquet(event_stream_dir)
    )
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["hour_start"], r["event_type"]): r["n"]
        for r in spark.sql("select * from win_counts").collect()
    }
    want = {
        (r["hour_start"], r["event_type"]): r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stateful_sessionization_stream(spark, sf_dir, tmp_path, event_stream_dir):
    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .parquet(event_stream_dir)
    )
    sess = sessionize_stream(stream)
    q = (
        sess.writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_s"))
        .start()
    )
    q.awaitTermination(120)
    # latest state per user must match the batch sessionization exactly
    got_df = spark.sql(
        "select user_id, max(n_sessions) n_sessions, max(n_events) n_events"
        " from sessions group by user_id"
    )
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"]) for r in got_df.collect()
    }
    from assignment3_qachatapplication_vectorembeddings_spark.plans.corpus import (
        q_sessionization,
    )

    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in q_sessionization(spark, sf_dir).collect()
    }
    assert got == want


@pytest.mark.slow
def test_streaming_dedup_drops_redelivered_rows(spark, tmp_path):
    """Same event rows delivered twice (at-least-once source) appear
    once downstream."""
    import datetime as dt

    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        dedup_stream,
    )

    src = tmp_path / "dup_events"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=i), 1, "click", "1.0") for i in range(10)
    ]
    df = spark.createDataFrame(rows, EVENT_STREAM_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(str(src / "wave1"))
    df.coalesce(1).write.mode("append").parquet(str(src / "wave1"))  # redelivery

    stream = spark.readStream.schema(EVENT_STREAM_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src / "wave1"))
    q = (
        dedup_stream(stream, watermark="2 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("deduped")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_d"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select event_id from deduped").collect()
    assert sorted(r["event_id"] for r in got) == list(range(10))


def test_streaming_index_upsert_replaces_on_redelivery(spark, tmp_path):
    """Documents stream straight into the vector index; a re-delivered
    (updated) document replaces its own vectors, others untouched."""
    import json as _json

    from assignment3_qachatapplication_vectorembeddings_spark.operators.index_maintenance import (
        VectorIndex,
    )
    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        run_streaming_index_upsert,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    idx_path, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    (landing / "w1.json").write_text(
        "\n".join(
            _json.dumps(d)
            for d in [
                {"FormName": "alpha", "text": "one two three\nfour five six"},
                {"FormName": "beta", "text": "seven eight nine"},
            ]
        )
    )
    q = run_streaming_index_upsert(
        spark, str(landing), idx_path, ckpt, token_limit=4, tokenizer="ws"
    )
    q.awaitTermination(120)
    index = VectorIndex(spark, idx_path)
    before = {
        (r["id"], r["text"]) for r in index.read().filter("title='alpha'").collect()
    }
    n_beta = index.read().filter("title='beta'").count()
    assert before and n_beta > 0

    # redeliver alpha with CHANGED text → replacement, not accumulation
    (landing / "w2.json").write_text(
        _json.dumps({"FormName": "alpha", "text": "totally new words here"})
    )
    q = run_streaming_index_upsert(
        spark, str(landing), idx_path, ckpt, token_limit=4, tokenizer="ws"
    )
    q.awaitTermination(120)
    after = {r["text"] for r in index.read().filter("title='alpha'").collect()}
    # old chunks fully replaced (an empty chunk can legitimately appear —
    # the reference's emit-empty-buffer quirk at exact-limit lines)
    assert any("totally new words" in t for t in after)
    assert not any("one two three" in t for t in after)
    assert index.read().filter("title='beta'").count() == n_beta


def test_stream_events_table_reads_directory_layout(spark, sf_dir, tmp_path):
    """Regression: a Spark-WRITTEN events table is a directory of part
    files; the stream source must read it (the single-file glob shape
    used to match nothing and silently stream zero rows)."""
    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        stream_events_table,
    )

    scaled = str(tmp_path / "scaled")
    batch = load_table(spark, sf_dir, "events").limit(200)
    batch.write.parquet(f"{scaled}/events.parquet")  # directory layout

    stream = stream_events_table(spark, scaled)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dir_layout_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dir_layout_stream").count()
    assert got == batch.count()


def test_session_fn_orders_across_arrow_chunks():
    """Regression: applyInPandasWithState hands one group to the UDF as
    MULTIPLE Arrow chunks in shuffle order. Sorting each chunk
    independently computed gaps over unordered timestamps (counts then
    depend on chunk boundaries); the fn must globally sort the group."""
    import pandas as pd

    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        _GAP_US,
        _session_fn,
    )

    class FakeState:
        exists = False

        def update(self, value):
            self.value = value

    base = pd.Timestamp("2024-01-01 00:00:00")
    gap = pd.Timedelta(microseconds=_GAP_US + 1)
    step = pd.Timedelta(minutes=1)
    # true timeline: [t0, t0+1m] … gap … [t1, t1+1m]  → 2 sessions,
    # delivered as chunks that interleave the two sessions; per-chunk
    # sorting would see the timeline jump backwards across the chunk
    # seam and count 3 sessions
    t0, t1 = base, base + gap + step
    chunks = [
        pd.DataFrame({"ts": [t0, t1]}),
        pd.DataFrame({"ts": [t0 + step, t1 + step]}),
    ]
    state = FakeState()
    out = pd.concat(list(_session_fn((7,), iter(chunks), state)))
    assert out["n_sessions"].tolist() == [2]
    assert out["n_events"].tolist() == [4]
    # state carries (last_ts_us, n_sessions, n_events)
    assert state.value[1] == 2 and state.value[2] == 4


def test_streaming_novelty_ingest(spark, tmp_path):
    """Only unseen documents pass: corpus dups are dropped, within-batch
    duplicates collapse, and a later drain re-posting an already-
    ingested doc adds nothing (output feeds the seen-set)."""
    import json

    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        run_streaming_novelty_ingest,
    )

    corpus_path = str(tmp_path / "corpus")
    landing = tmp_path / "landing"
    landing.mkdir()
    out_path = str(tmp_path / "novel_out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [("X", "known doc one"), ("Y", "known doc two")],
        "FormName string, text string",
    ).write.parquet(corpus_path)

    def land(name, rows):
        with open(landing / name, "w") as f:
            for form, text in rows:
                f.write(json.dumps({"FormName": form, "text": text}) + "\n")

    # batch 1: a corpus dup (normalized-equal), a fresh doc (twice,
    # within-batch dup), another fresh doc
    land("b1.json", [
        ("X2", "  KNOWN   doc one "),   # same fingerprint as corpus X
        ("A", "fresh alpha"),
        ("A2", "fresh alpha"),          # within-batch dup of A
        ("B", "fresh beta"),
    ])
    q = run_streaming_novelty_ingest(spark, str(landing), corpus_path, out_path, ckpt)
    q.awaitTermination()
    texts = sorted(r["text"] for r in spark.read.parquet(out_path).collect())
    assert texts == ["fresh alpha", "fresh beta"]

    # batch 2 (same checkpoint): redelivered A + genuinely new C
    land("b2.json", [("A", "fresh alpha"), ("C", "fresh gamma")])
    q = run_streaming_novelty_ingest(spark, str(landing), corpus_path, out_path, ckpt)
    q.awaitTermination()
    texts = sorted(r["text"] for r in spark.read.parquet(out_path).collect())
    assert texts == ["fresh alpha", "fresh beta", "fresh gamma"]


def test_drain_shuffle_partitions_scopes_and_restores(spark):
    """The drain context must (1) apply its value for the scope, (2)
    restore the ambient value even when the body raises, and (3) honor
    an explicit override — state partitioning is pinned at query start,
    so a leak here would silently re-shape every later batch plan."""
    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        _DRAIN_PARTITIONS,
        drain_shuffle_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    ambient = spark.conf.get(key)
    with drain_shuffle_partitions(spark):
        assert spark.conf.get(key) == str(_DRAIN_PARTITIONS)
    assert spark.conf.get(key) == ambient

    with drain_shuffle_partitions(spark, 7):
        assert spark.conf.get(key) == "7"
    assert spark.conf.get(key) == ambient

    try:
        with drain_shuffle_partitions(spark):
            raise RuntimeError("drain body failed")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == ambient


@pytest.mark.slow
def test_streaming_vector_ingest_multibatch_and_replay(spark, tmp_path):
    """Raw-vector streaming ingest: two arrival waves drain as separate
    upsert commits; an id landing again in a later wave REPLACES its
    vector (merge-by-id); and a fresh checkpoint over the same landing
    dir converges to the same logical row-set (replay idempotency)."""
    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        run_streaming_index_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = "vec_id bigint, embedding array<double>, label string"

    def _land(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage"))
        import glob
        import shutil

        src = glob.glob(str(tmp_path / "stage" / "*.parquet"))[0]
        shutil.copy(src, str(landing / name))

    _land("w1.parquet", [(1, [1.0, 0.0], "a"), (2, [0.0, 1.0], "b")])
    stream = spark.readStream.schema(schema).parquet(str(landing))
    idx = run_streaming_index_ingest(
        spark, stream, str(tmp_path / "idx"), str(tmp_path / "ckpt"),
        query_name="t_vec_ingest_1",
    )
    v1 = idx._vlog.latest()["version"]
    got = {r["id"]: (r["title"], r["vector"]) for r in idx.read().collect()}
    assert got == {"1": ("a", [1.0, 0.0]), "2": ("b", [0.0, 1.0])}

    # wave 2: id 2 updated in place, id 3 new — SAME checkpoint, so only
    # the new file is processed; the commit advances the manifest
    _land("w2.parquet", [(2, [0.5, 0.5], "b"), (3, [1.0, 1.0], "a")])
    stream = spark.readStream.schema(schema).parquet(str(landing))
    idx = run_streaming_index_ingest(
        spark, stream, str(tmp_path / "idx"), str(tmp_path / "ckpt"),
        query_name="t_vec_ingest_2",
    )
    v2 = idx._vlog.latest()["version"]
    assert v2 > v1
    got = {r["id"]: (r["title"], r["vector"]) for r in idx.read().collect()}
    assert got == {
        "1": ("a", [1.0, 0.0]),
        "2": ("b", [0.5, 0.5]),
        "3": ("a", [1.0, 1.0]),
    }

    # replay: a FRESH checkpoint re-delivers both waves into the same
    # index — possibly COALESCED into one micro-batch, so id 2 arrives
    # twice in one upsert. Within-batch resolution (latest landing file
    # wins) must still converge to the identical logical state, with
    # exactly one row per id.
    stream = spark.readStream.schema(schema).parquet(str(landing))
    idx = run_streaming_index_ingest(
        spark, stream, str(tmp_path / "idx"), str(tmp_path / "ckpt2"),
        query_name="t_vec_ingest_3",
    )
    rows2 = idx.read().collect()
    assert len(rows2) == 3
    got2 = {r["id"]: (r["title"], r["vector"]) for r in rows2}
    assert got2 == got


def test_native_session_window_matches_python_and_batch(
    spark, sf_dir, event_stream_dir
):
    """The JVM session_window sessionizer, the applyInPandasWithState
    one, and the batch window-function sessionization are ONE
    semantics (including the strict-> gap boundary via the 1 µs
    widening)."""
    from assignment3_qachatapplication_vectorembeddings_spark.plans.corpus import (
        q_sessionization,
    )
    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        run_sessionize_native_available_now,
    )

    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA).parquet(event_stream_dir)
    )
    got_df = run_sessionize_native_available_now(
        spark, stream, query_name="t_sessions_native"
    )
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in got_df.collect()
    }
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in q_sessionization(spark, sf_dir).collect()
    }
    assert got == want


def test_native_session_window_gap_boundary(spark, tmp_path):
    """An exactly-30-minute gap must NOT split the session (strict->
    rule, matching _session_fn and the SQL oracle); 30 min + 1 µs
    must."""
    import datetime as dt

    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        run_sessionize_native_available_now,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: gap exactly 1800 s -> one session of 2 events
        (1, t0),
        (1, t0 + dt.timedelta(seconds=1800)),
        # user 2: gap 1800 s + 1 µs -> two sessions
        (2, t0),
        (2, t0 + dt.timedelta(seconds=1800, microseconds=1)),
    ]
    src = str(tmp_path / "gap_events")
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in run_sessionize_native_available_now(
            spark, stream, query_name="t_gap_boundary"
        ).collect()
    }
    assert got == {1: (1, 2), 2: (2, 2)}


@pytest.mark.slow
def test_streaming_ingest_auto_refreshes_synced_indexes(spark, tmp_path):
    """synced_indexes=[...] keeps derived serving in lock-step with
    streaming ingest (round-5 verdict ask #5): after the drain, a
    search with on_stale='error' succeeds and returns the streamed
    vectors — no manual refresh between ingest and serving."""
    from assignment3_qachatapplication_vectorembeddings_spark.operators.index_maintenance import (
        VectorIndex,
    )
    from assignment3_qachatapplication_vectorembeddings_spark.operators.index_sync import (
        SyncedIvfpqIndex,
    )
    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        run_streaming_index_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = "vec_id bigint, embedding array<double>, label string"

    def _land(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage"))
        import glob
        import shutil

        src = glob.glob(str(tmp_path / "stage" / "*.parquet"))[0]
        shutil.copy(src, str(landing / name))

    _land(
        "w1.parquet",
        [
            (1, [1.0, 0.0, 0.0, 0.0], "a"),
            (2, [0.0, 1.0, 0.0, 0.0], "b"),
            (3, [0.0, 0.0, 1.0, 0.0], "a"),
            (4, [0.0, 0.0, 0.0, 1.0], "b"),
        ],
    )
    idx_path = str(tmp_path / "idx")
    ann = SyncedIvfpqIndex(
        VectorIndex(spark, idx_path),
        str(tmp_path / "ann"),
        nlist=2,
        m=2,
        nbits=2,
    )
    stream = spark.readStream.schema(schema).parquet(str(landing))
    run_streaming_index_ingest(
        spark, stream, idx_path, str(tmp_path / "ckpt"),
        query_name="t_vec_ingest_sync_1", synced_indexes=[ann],
    )
    assert not ann.is_stale()
    hits = ann.search([1.0, 0.0, 0.0, 0.0], 1, nprobe=2, rerank=True).collect()
    assert hits[0]["id"] == "1"

    # wave 2: a new id lands → the foreachBatch refresh catches up the
    # derived index inside the SAME drain
    _land("w2.parquet", [(5, [0.9, 0.1, 0.0, 0.0], "c")])
    stream = spark.readStream.schema(schema).parquet(str(landing))
    run_streaming_index_ingest(
        spark, stream, idx_path, str(tmp_path / "ckpt"),
        query_name="t_vec_ingest_sync_2", synced_indexes=[ann],
    )
    assert not ann.is_stale()
    ids = {r["id"] for r in ann.encoded(on_stale="error").select("id").collect()}
    assert ids == {"1", "2", "3", "4", "5"}


def test_streaming_upsert_auto_refreshes_text_index(spark, tmp_path):
    """The document-feed sibling: synced_indexes on
    run_streaming_index_upsert keeps a derived text index queryable
    under on_stale='error' after every drained batch."""
    import json as _json

    from assignment3_qachatapplication_vectorembeddings_spark.operators.index_maintenance import (
        VectorIndex,
    )
    from assignment3_qachatapplication_vectorembeddings_spark.operators.index_sync import (
        SyncedTextIndex,
    )
    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        run_streaming_index_upsert,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    idx_path, ckpt = str(tmp_path / "idx"), str(tmp_path / "ckpt")
    (landing / "w1.json").write_text(
        _json.dumps({"FormName": "alpha", "text": "spark joins windows"})
    )
    tix = SyncedTextIndex(
        VectorIndex(spark, idx_path), str(tmp_path / "tix"), buckets=8
    )
    q = run_streaming_index_upsert(
        spark, str(landing), idx_path, ckpt, token_limit=4, tokenizer="ws",
        synced_indexes=[tix],
    )
    q.awaitTermination(120)
    got = {r["id"] for r in tix.bm25(["spark"], on_stale="error").collect()}
    assert got  # index is fresh AND contains the streamed doc's chunks


def test_drain_partitions_hold_the_measured_floor(spark, sf_dir):
    """Bounded drains keep the fixed partition floor REGARDLESS of the
    stamped source size — the A/B at sf1 measured the floor beating
    size-proportional scaling (state/task overhead grows with N faster
    than the small post-shuffle compute shrinks); an explicit n still
    overrides for a genuinely compute-bound drain."""
    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import (
        _DRAIN_PARTITIONS,
        adaptive_drain_partitions,
        drain_shuffle_partitions,
        stream_events_table,
    )

    stream = stream_events_table(spark, sf_dir)
    assert getattr(stream, "_sgraft_source_bytes", 0) > 0  # stamp exists
    assert adaptive_drain_partitions(stream) == _DRAIN_PARTITIONS
    assert adaptive_drain_partitions(None) == _DRAIN_PARTITIONS
    stream._sgraft_source_bytes = 10 << 30  # even a huge backlog
    assert adaptive_drain_partitions(stream) == _DRAIN_PARTITIONS
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    with drain_shuffle_partitions(spark, source=stream):
        assert spark.conf.get(key) == str(_DRAIN_PARTITIONS)
    with drain_shuffle_partitions(spark, 7, source=stream):
        assert spark.conf.get(key) == "7"  # explicit n overrides
    assert spark.conf.get(key) == old
