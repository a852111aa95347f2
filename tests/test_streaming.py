"""Streaming layer tests: batch-twin equivalence + ingest idempotency.

Strategy (SURVEY.md §5.5): every streaming operator also runs in batch
mode, where semantics are exact — the streaming run over a file source
drained with availableNow must produce the same rows. Watermark
late-data *dropping* is wall-clock sensitive and is exercised only
behaviorally (state bounded, query progresses), not oracle-hashed.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from wikid_spark.catalog import table
from wikid_spark.streaming import ingest
from wikid_spark.streaming.windows import (
    dedup_within_watermark,
    interval_attribution_join,
    session_stats,
    sliding_counts,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_batch(spark):
    return table(spark, SF, "events").cache()


@pytest.fixture(scope="module")
def events_stream_dir(spark, events_batch, tmp_path_factory):
    """Events re-written as a 3-file json stream source directory."""
    d = tmp_path_factory.mktemp("events_stream")
    (
        # microsecond precision: session boundaries depend on exact ts
        events_batch.withColumn(
            "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        )
        .repartition(3)
        .write.mode("overwrite")
        .json(str(d / "src"))
    )
    return str(d / "src")


def _stream(spark, events_stream_dir, events_batch):
    schema = (
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .json(events_stream_dir)
        .withColumn("ts", F.to_timestamp("ts"))
    )


def _drain(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_tumbling_stream_equals_batch(spark, events_batch, events_stream_dir):
    stream = _stream(spark, events_stream_dir, events_batch)
    name = _drain(tumbling_counts(stream), "t_tumbling")
    got = _sorted_rows(spark.table(name))
    want = _sorted_rows(tumbling_counts(events_batch))
    assert got == want and len(got) > 0


def test_sliding_stream_equals_batch(spark, events_batch, events_stream_dir):
    stream = _stream(spark, events_stream_dir, events_batch)
    name = _drain(sliding_counts(stream), "t_sliding")
    got = _sorted_rows(spark.table(name))
    want = _sorted_rows(sliding_counts(events_batch))
    assert got == want and len(got) > 0
    # each event lands in window/slide = 4 overlapping windows
    n_tumbling = spark.table("t_tumbling").agg(F.sum("n_events")).first()[0]
    n_sliding = spark.table(name).agg(F.sum("n_events")).first()[0]
    assert n_sliding == 4 * n_tumbling


def test_session_stream_equals_batch_and_q23(spark, events_batch, events_stream_dir):
    stream = _stream(spark, events_stream_dir, events_batch)
    # Files arrive in arbitrary order across micro-batches, so a tight
    # watermark would (correctly) drop late rows; equivalence with the
    # batch twin needs the watermark out of the picture — what's under
    # test is gap-merge across micro-batches.
    name = _drain(session_stats(stream, watermark="365 days"), "t_session")
    got = _sorted_rows(spark.table(name))
    want = _sorted_rows(session_stats(events_batch))
    assert got == want and len(got) > 0
    # Batch twin of Q23: session COUNT per user from session_window ==
    # the gaps-and-islands formulation (new session when gap > 30 min).
    from wikid_spark.registry import get

    q23 = {
        (r["user_id"]): r["n_sessions"]
        for r in get("q23_sessionization").fn(spark, SF).collect()
    }
    sess_counts = {
        r["user_id"]: r["n"]
        for r in session_stats(events_batch)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sess_counts == q23


def test_streaming_dedup(spark, events_batch, events_stream_dir, tmp_path):
    # duplicate the source dir content → exact duplicates across batches
    dup = _stream(spark, events_stream_dir, events_batch)
    deduped = dedup_within_watermark(dup, ["event_id"], watermark="365 days")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.table("t_dedup").count()
    assert n == events_batch.select("event_id").distinct().count()


def test_ingest_exactly_once_merge(spark, tmp_path):
    """foreachBatch merge sink: totals equal the direct aggregate, and
    re-running the drained stream (same checkpoint) changes nothing —
    the reference's J5 restart-idempotency contract."""
    src = tmp_path / "src"
    src.mkdir()
    rows1 = [("NYC", "Q60", 1), ("NYC", "Q60", 1), ("Big Apple", "Q60", 1)]
    rows2 = [("NYC", "Q60", 3), ("Boston", "Q100", 2)]
    for i, rows in enumerate([rows1, rows2]):
        with open(src / f"part{i}.json", "w") as f:
            for a, e, c in rows:
                f.write(json.dumps({"alias": a, "entity_id": e, "count": c}) + "\n")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("alias string, entity_id string, count bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = ingest.start_alias_count_ingest(stream, target, ckpt)
    q.awaitTermination(120)
    merged = {
        (r["alias"], r["entity_id"]): r["count"]
        for r in ingest.read_alias_counts(spark, target).collect()
    }
    assert merged == {("NYC", "Q60"): 5, ("Big Apple", "Q60"): 1, ("Boston", "Q100"): 2}
    # restart with same checkpoint: no new input → no change
    stream2 = (
        spark.readStream.schema("alias string, entity_id string, count bigint")
        .json(str(src))
    )
    q2 = ingest.start_alias_count_ingest(stream2, target, ckpt)
    q2.awaitTermination(120)
    merged2 = {
        (r["alias"], r["entity_id"]): r["count"]
        for r in ingest.read_alias_counts(spark, target).collect()
    }
    assert merged2 == merged


def test_stream_stream_interval_join_equals_batch(
    spark, events_batch, events_stream_dir, tmp_path
):
    """St7 stream-stream join: click→purchase attribution over two
    streaming sides must equal the batch twin. The test watermark (60
    days) EXCEEDS the fixture's 30-day event span, so no row can be
    dropped as late regardless of how repartition(3) shuffled events
    across the stream files (a 1-day watermark flaked ~1/6: a batch
    whose max event time led a later file's rows by more than the
    delay silently dropped them). Equality is then exact for an inner
    join; production shrinks the watermark to bound state."""
    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    bc, bp = split(events_batch)
    expected = {
        tuple(r)
        for r in interval_attribution_join(bc, bp, watermark="60 days").collect()
    }
    assert expected, "fixture should produce attributable pairs"

    sc_, sp = split(_stream(spark, events_stream_dir, events_batch))
    out = str(tmp_path / "attrib_out")
    q = (
        interval_attribution_join(sc_, sp, watermark="60 days")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "attrib_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "availableNow drain did not finish"
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == expected


def test_keyed_merge_equals_batch_reaggregation(spark, tmp_path):
    """Keyed-merge sink: merging N update batches through the ledgered
    foreachBatch writer must equal one-shot aggregation of their union
    (the q08 associative-SUM invariant), a batch touching one alias must
    rewrite only that alias's bucket, and re-delivering a batch_id must
    change nothing (replay idempotency)."""
    import os

    import pyspark.sql.functions as F

    events = table(spark, SF, "events")
    updates = events.select(
        F.col("event_type").alias("alias"),
        (F.col("user_id") % 10).cast("string").alias("entity_id"),
        F.lit(1).cast("bigint").alias("count"),
    )
    target = str(tmp_path / "merge_target")
    writer = ingest.merge_upsert_batch_writer(spark, target)
    # deterministic batch split: a bare limit() without ORDER BY may
    # pick different rows when the plan re-executes for the oneshot
    batches = [updates.filter(F.col("alias") != "click"),
               updates.filter(F.col("alias") == "click"),
               updates.filter(F.col("entity_id").cast("int") % 3 == 0)]
    for batch_id, b in enumerate(batches):
        writer(b, batch_id)
    oneshot = {
        (r["alias"], r["entity_id"]): r["count"]
        for r in batches[0].unionByName(batches[1]).unionByName(batches[2])
        .groupBy("alias", "entity_id").agg(F.sum("count").alias("count"))
        .collect()
    }
    merged = {
        (r["alias"], r["entity_id"]): r["count"]
        for r in spark.read.parquet(target)
        .select("alias", "entity_id", "count").collect()
    }
    assert merged == oneshot

    def bucket_files():
        return {
            d: sorted(os.listdir(os.path.join(target, d)))
            for d in os.listdir(target)
            if d.startswith("pk=")
        }

    # only the affected bucket is rewritten: merging a batch touching
    # ONE alias must leave every other key, and every other bucket's
    # files, untouched
    before = bucket_files()
    writer(
        spark.createDataFrame(
            [("click", "0", 7)], "alias string, entity_id string, count bigint"
        ),
        3,
    )
    after = {
        (r["alias"], r["entity_id"]): r["count"]
        for r in spark.read.parquet(target)
        .select("alias", "entity_id", "count").collect()
    }
    assert after[("click", "0")] == oneshot[("click", "0")] + 7
    assert {k: v for k, v in after.items() if k != ("click", "0")} == {
        k: v for k, v in oneshot.items() if k != ("click", "0")
    }
    click_pk = spark.read.parquet(target).filter(
        F.col("alias") == "click"
    ).select("pk").distinct().collect()
    assert len(click_pk) == 1
    changed = {
        d for d, files in bucket_files().items() if before.get(d) != files
    }
    assert changed == {f"pk={click_pk[0]['pk']}"}

    # a replayed batch_id is a no-op
    replay = spark.createDataFrame(
        [("click", "0", 100)], "alias string, entity_id string, count bigint"
    )
    writer(replay, 999)
    once = spark.read.parquet(target).filter(
        (F.col("alias") == "click") & (F.col("entity_id") == "0")
    ).collect()[0]["count"]
    writer(replay, 999)  # same batch_id → skipped
    twice = spark.read.parquet(target).filter(
        (F.col("alias") == "click") & (F.col("entity_id") == "0")
    ).collect()[0]["count"]
    assert once == twice == after[("click", "0")] + 100


def test_stateful_running_stats_stream_equals_batch(
    spark, events_batch, events_stream_dir
):
    """applyInPandasWithState: per-user running totals accumulated across
    micro-batches must end at the batch groupBy answer (update mode emits
    one row per touched user per batch; the LAST emission is the total)."""
    from wikid_spark.streaming.stateful import running_user_stats

    stream = _stream(spark, events_stream_dir, events_batch)
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.table("t_stateful")
    # multiple emissions per user (one per micro-batch that touched it);
    # the final state per user is the row with the max running count
    final = (
        emitted.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )
    got = sorted(
        (r["user_id"], r["n_events"], round(r["total_value"], 4))
        for r in final.collect()
    )
    want = sorted(
        (r["user_id"], r["n_events"], round(r["total_value"], 4))
        for r in running_user_stats(events_batch).collect()
    )
    assert got == want and len(got) > 0
    # state genuinely crossed batches: stream had 3 files → some user must
    # have emitted more than one distinct running count
    multi = emitted.groupBy("user_id").count().filter("count > 1").count()
    assert multi > 0


@pytest.mark.parametrize("crash_at", ["promotion", "staged_marker"])
def test_keyed_merge_crash_between_merge_and_marker_is_safe(
    spark, tmp_path, monkeypatch, crash_at
):
    """The failure the naive ledger misses: a crash AFTER the merge
    started but BEFORE the done-marker landed, at either point of the
    stage-and-promote protocol. A crash mid-PROMOTION must replay by
    resuming promotion from the staged (already-computed) state instead
    of re-merging against the half-promoted table; a crash after
    staging but before the ``_STAGED`` marker must leave the live table
    untouched and replay by recomputing the stage. Either way the batch
    applies exactly once."""
    import builtins
    import shutil as _shutil

    target = str(tmp_path / "merge_target")
    writer = ingest.merge_upsert_batch_writer(spark, target)

    def live():
        return {
            (r["alias"], r["entity_id"]): r["count"]
            for r in spark.read.parquet(target)
            .select("alias", "entity_id", "count").collect()
        }

    writer(
        spark.createDataFrame(
            [("NYC", "Q60", 5), ("Boston", "Q100", 2), ("LA", "Q65", 4)],
            "alias string, entity_id string, count bigint",
        ),
        0,
    )
    base = live()
    assert base == {("NYC", "Q60"): 5, ("Boston", "Q100"): 2, ("LA", "Q65"): 4}
    batch = spark.createDataFrame(
        [("NYC", "Q60", 1), ("Boston", "Q100", 1), ("LA", "Q65", 1)],
        "alias string, entity_id string, count bigint",
    )

    with monkeypatch.context() as m:
        if crash_at == "promotion":
            # crash after the FIRST bucket directory is promoted
            real_copytree = _shutil.copytree
            state = {"copies": 0}

            def crashing_copytree(src, dst, **kw):
                if state["copies"] >= 1:
                    raise RuntimeError("simulated crash mid-promotion")
                state["copies"] += 1
                return real_copytree(src, dst, **kw)

            m.setattr(_shutil, "copytree", crashing_copytree)
        else:
            # crash once the stage is written, before _STAGED lands
            def crashing_open(path, *a, **kw):
                if str(path).endswith("_STAGED"):
                    raise RuntimeError("simulated crash before _STAGED")
                return builtins.open(path, *a, **kw)

            m.setattr(ingest, "open", crashing_open, raising=False)
        with pytest.raises(RuntimeError, match="simulated crash"):
            writer(batch, 42)

    if crash_at == "staged_marker":
        assert live() == base  # nothing promoted before the marker
        staging = tmp_path / "merge_target" / "_staging_batch_42"
        assert not (staging / "_STAGED").exists()
        # an unmarked stage may be torn: drop one staged bucket so a
        # replay that trusted it would lose that bucket's update
        staged = sorted(p for p in staging.iterdir() if p.name.startswith("pk="))
        assert len(staged) >= 2
        _shutil.rmtree(staged[0])

    # replay: exactly-once
    writer(batch, 42)
    got = live()
    assert got == {("NYC", "Q60"): 6, ("Boston", "Q100"): 3, ("LA", "Q65"): 5}
    # and a THIRD delivery after success is a clean no-op
    writer(batch, 42)
    assert live() == got


def test_keyed_merge_single_writer_lease(spark, tmp_path):
    """Verdict ask: multi-writer isolation. A second LIVE writer must be
    rejected (ConcurrentWriterError) instead of interleaving bucket
    promotions; after the holder's lease expires (crash), a successor
    takes over cleanly."""
    import os
    import time as _time

    from wikid_spark.streaming import ingest

    target = str(tmp_path / "merge_target")
    batch = spark.createDataFrame(
        [("NYC", "Q60", 1)], "alias string, entity_id string, count bigint"
    )
    a = ingest.merge_upsert_batch_writer(spark, target, writer_id="writer-a")
    a(batch, 0)

    # a different live writer is refused
    b = ingest.merge_upsert_batch_writer(spark, target, writer_id="writer-b")
    with pytest.raises(ingest.ConcurrentWriterError):
        b(batch, 1)

    # the holder keeps working (heartbeat renewal)
    a(batch, 1)

    # holder crashes: age the lease past expiry → successor takes over
    lease = os.path.join(target, ingest.LEASE_FILE)
    old = _time.time() - 10_000
    os.utime(lease, (old, old))
    b(batch, 2)
    got = {
        (r["alias"], r["entity_id"]): r["count"]
        for r in spark.read.parquet(target)
        .select("alias", "entity_id", "count").collect()
    }
    assert got == {("NYC", "Q60"): 3}
    with open(lease) as f:
        assert f.read().strip() == "writer-b"


def test_lease_resolves_file_uri_and_refuses_remote_roots(tmp_path, monkeypatch):
    """The lease is a driver-local file: a ``file:`` root leases at its
    local path (so two publishers on it exclude each other), and a
    remote scheme raises before anything is created — never a literal
    ``./file:/…`` or ``./s3a:/…`` directory under the working dir."""
    import os

    from wikid_spark.streaming import ingest

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    root = tmp_path / "x"
    ingest._acquire_or_renew_lease(f"file:{root}", "w1", 300)
    assert os.path.exists(root / ingest.LEASE_FILE)
    with pytest.raises(ingest.ConcurrentWriterError):
        ingest._acquire_or_renew_lease(f"file:{root}", "w2", 300)
    ingest._assert_lease_held(f"file:{root}", "w1")
    with pytest.raises(ValueError, match="s3a://b/x"):
        ingest._acquire_or_renew_lease("s3a://b/x", "w1", 300)
    ingest._release_lease(f"file:{root}", "w1")
    assert not os.path.exists(root / ingest.LEASE_FILE)
    assert os.listdir(cwd) == []


def test_streaming_incremental_dedup_against_persisted_index(
    spark, tmp_path
):
    """Streaming twin of nd_incremental_dedup: the corpus LSH index is
    built ONCE and persisted; new documents arrive as a 3-file stream
    and each micro-batch probes the index via foreachBatch. The union
    of streamed verdicts must equal the batch query's verdicts on the
    same corpus/batch partition — same signature math by construction
    (shared band_table_from / shingles_from), certified here
    end-to-end. A replayed batch_id must overwrite, not duplicate."""
    from wikid_spark.queries.dedup import nd_incremental_dedup
    from wikid_spark.streaming import dedup_ingest

    docs = table(spark, SF, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new_docs = docs.filter(F.col("doc_id") % 10 == 0)

    index_dir = str(tmp_path / "lsh_index")
    dedup_ingest.persist_dedup_index(corpus, index_dir)

    src = str(tmp_path / "incoming")
    new_docs.repartition(3).write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    out_dir = str(tmp_path / "verdicts")
    q = (
        stream.writeStream.foreachBatch(
            # evolve=False: this test certifies the STATIC-index mode,
            # whose semantics are exactly the registered batch query
            dedup_ingest.dedup_verdict_batch_writer(
                spark, index_dir, out_dir, evolve=False
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        map(tuple, dedup_ingest.read_verdicts(spark, out_dir).collect())
    )
    want = sorted(map(tuple, nd_incremental_dedup(spark, SF).collect()))
    assert got == want and len(got) > 0

    # replay idempotency: delivering the same batch twice overwrites
    # its own output — row set unchanged, no duplicates
    out2 = str(tmp_path / "verdicts_replay")
    writer = dedup_ingest.dedup_verdict_batch_writer(spark, index_dir, out2)
    # deterministic replay batch: an unordered limit() may pick
    # different rows on each of the two writer calls
    replay = new_docs.orderBy("doc_id").limit(20)
    writer(replay, 0)
    once = sorted(
        map(tuple, dedup_ingest.read_verdicts(spark, out2).collect())
    )
    writer(replay, 0)
    twice = sorted(
        map(tuple, dedup_ingest.read_verdicts(spark, out2).collect())
    )
    assert once == twice and len(once) == 20


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


_CORPUS_ROWS = [
    (1, "oak maple birch cedar willow pine elm ash fir spruce"),
    (2, "red orange yellow green blue indigo violet purple pink teal"),
]
_DOC_A = "quantum entanglement allows correlated measurement outcomes across distance boundaries today"
_DOC_A_NEARDUP = "quantum entanglement allows correlated measurement outcomes across distance boundaries tomorrow"
_DOC_UNRELATED = "gravel cement asphalt concrete mortar brick tile slate plaster stone"


def test_evolving_index_catches_cross_batch_neardups(spark, tmp_path):
    """The read-your-own-writes contract: doc A arrives (and is kept)
    in batch 0; a near-dup of A — matching NOTHING in the original
    corpus — arrives in batch 1 and must get 'drop' with dup_of = A,
    because batch 0's kept signatures were appended to the index.
    Replaying batch 1 yields identical verdicts (its probe reads
    strictly batch_id < 1, so its own appends are invisible), and the
    verdicts equal a fresh static probe against corpus ∪ batch-0-kept
    (the batch-twin definition of the evolving semantics)."""
    from wikid_spark.streaming import dedup_ingest

    corpus = _mkdocs(spark, _CORPUS_ROWS)
    index_dir = str(tmp_path / "idx")
    dedup_ingest.persist_dedup_index(corpus, index_dir)

    out_dir = str(tmp_path / "verdicts")
    writer = dedup_ingest.dedup_verdict_batch_writer(spark, index_dir, out_dir)
    b0 = _mkdocs(spark, [(100, _DOC_A)])
    b1 = _mkdocs(spark, [(200, _DOC_A_NEARDUP), (201, _DOC_UNRELATED)])
    writer(b0, 0)
    writer(b1, 1)

    got = {
        r["doc_id"]: (r["verdict"], r["dup_of"])
        for r in dedup_ingest.read_verdicts(spark, out_dir).collect()
    }
    assert got[100] == ("keep", None)
    assert got[200] == ("drop", 100)  # cross-batch near-dup caught
    assert got[201] == ("keep", None)

    # replay idempotency including the index appends
    before = sorted(
        map(tuple, dedup_ingest.read_verdicts(spark, out_dir).collect())
    )
    writer(b1, 1)
    after = sorted(
        map(tuple, dedup_ingest.read_verdicts(spark, out_dir).collect())
    )
    assert before == after

    # batch-twin equality: evolving verdicts for batch 1 == static
    # verdicts against corpus ∪ earlier kept docs
    twin_dir = str(tmp_path / "twin_idx")
    dedup_ingest.persist_dedup_index(
        corpus.unionByName(b0), twin_dir
    )
    want = sorted(
        map(tuple, dedup_ingest.batch_verdicts(spark, b1, twin_dir).collect())
    )
    got1 = sorted(
        map(
            tuple,
            spark.read.parquet(f"{out_dir}/batch_id=1")
            .select("doc_id", "dup_of", "jaccard", "verdict")
            .collect(),
        )
    )
    assert got1 == want

    # compaction folds deltas into the base without changing probes
    dedup_ingest.compact_dedup_index(spark, index_dir)
    b2 = _mkdocs(spark, [(300, _DOC_A + " entirely")])
    v2 = {
        r["doc_id"]: r["verdict"]
        for r in dedup_ingest.batch_verdicts(spark, b2, index_dir).collect()
    }
    assert v2[300] == "drop"  # still sees doc 100 post-compaction

    # self-match guard: after compaction the base holds batch 1's OWN
    # kept doc (201) under batch_id=-1, so a replay of batch 1 probes
    # an index containing itself — without the old_id != new_id guard
    # it would self-match at jaccard 1.0 and flip to 'drop'
    writer(b1, 1)
    replayed = {
        r["doc_id"]: (r["verdict"], r["dup_of"])
        for r in spark.read.parquet(f"{out_dir}/batch_id=1").collect()
    }
    assert replayed[201] == ("keep", None)
    assert replayed[200] == ("drop", 100)


def test_evolving_index_through_stream(spark, tmp_path):
    """End-to-end through a real file-source stream: the near-dup pair
    spans two micro-batches (one file per trigger, mtime-ordered), so
    exactly one of the pair survives and the other names it dup_of."""
    import os
    import time

    from wikid_spark.streaming import dedup_ingest

    corpus = _mkdocs(spark, _CORPUS_ROWS)
    index_dir = str(tmp_path / "idx")
    dedup_ingest.persist_dedup_index(corpus, index_dir)

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    with open(f"{src}/f0.json", "w") as f:
        f.write(json.dumps({"doc_id": 100, "text": _DOC_A}) + "\n")
    with open(f"{src}/f1.json", "w") as f:
        f.write(json.dumps({"doc_id": 200, "text": _DOC_A_NEARDUP}) + "\n")
    now = time.time()
    os.utime(f"{src}/f0.json", (now - 60, now - 60))  # f0 strictly older

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    out_dir = str(tmp_path / "verdicts")
    q = (
        stream.writeStream.foreachBatch(
            dedup_ingest.dedup_verdict_batch_writer(spark, index_dir, out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (r["verdict"], r["dup_of"])
        for r in dedup_ingest.read_verdicts(spark, out_dir).collect()
    }
    assert len(got) == 2
    verdicts = sorted(v for v, _ in got.values())
    assert verdicts == ["drop", "keep"]  # one of the pair survives
    dropped = next(d for d, (v, _) in got.items() if v == "drop")
    kept = next(d for d, (v, _) in got.items() if v == "keep")
    assert got[dropped][1] == kept  # and names the survivor


def test_compaction_heals_crash_between_renames(spark, tmp_path):
    """Round-7 regression: `compact_dedup_index` swaps the folded base
    in with two renames — rename(live, old) then rename(tmp, live). A
    crash in the instant between them leaves NO live tree; the pre-r7
    code then unconditionally rmtree'd both `.old` and `.compacting`,
    destroying every surviving copy. Simulate each crash state and
    assert a re-run restores a correct, probe-able index.

    State A: live missing, `.old` present (+ a stale incomplete tmp) →
    heal from `.old` (it WAS the live tree)."""
    import os
    import shutil

    from wikid_spark.streaming import dedup_ingest

    corpus = _mkdocs(spark, _CORPUS_ROWS + [(3, _DOC_A)])
    index_dir = str(tmp_path / "idx")
    dedup_ingest.persist_dedup_index(corpus, index_dir)

    def probe_verdict():
        b = _mkdocs(spark, [(900, _DOC_A_NEARDUP)])
        rows = dedup_ingest.batch_verdicts(spark, b, index_dir).collect()
        return {r["doc_id"]: (r["verdict"], r["dup_of"]) for r in rows}

    baseline = probe_verdict()
    assert baseline[900] == ("drop", 3)

    # Crash state A for the 'bands' component: mid-swap, old holds the
    # only complete copy; tmp exists but is torn (no _SUCCESS).
    live = f"{index_dir}/bands"
    os.rename(live, f"{live}.old")
    os.makedirs(f"{live}.compacting/batch_id=-1")  # torn: no _SUCCESS
    dedup_ingest.compact_dedup_index(spark, index_dir)
    assert not os.path.exists(f"{live}.old")
    assert not os.path.exists(f"{live}.compacting")
    assert probe_verdict() == baseline

    # Crash state B: old already cleaned up, tmp is COMPLETE (_SUCCESS
    # present) — the crash hit after rename(live, old) and after the
    # fold finished writing but before rename(tmp, live)... i.e. the
    # re-run must adopt the complete tmp as live.
    shutil.move(live, f"{live}.compacting")
    assert os.path.exists(f"{live}.compacting/batch_id=-1/_SUCCESS")
    dedup_ingest.compact_dedup_index(spark, index_dir)
    assert probe_verdict() == baseline

    # Crash state C: nothing restorable → loud failure, no deletion of
    # the other components.
    shutil.rmtree(live)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="bands"):
        dedup_ingest.compact_dedup_index(spark, index_dir)
    assert os.path.exists(f"{index_dir}/shingles")  # untouched


def test_compaction_heals_with_appended_deltas(spark, tmp_path):
    """Healing composes with the evolving-index contract: corpus base
    plus a batch-0 delta, crash mid-swap on `shingles`, re-run, and
    the compacted index still catches a near-dup of the DELTA doc."""
    import os

    from wikid_spark.streaming import dedup_ingest

    corpus = _mkdocs(spark, _CORPUS_ROWS)
    index_dir = str(tmp_path / "idx")
    dedup_ingest.persist_dedup_index(corpus, index_dir)
    kept = _mkdocs(spark, [(100, _DOC_A)])
    kept_ids = kept.select("doc_id")
    dedup_ingest.append_kept_to_index(kept, kept_ids, index_dir, 0)

    live = f"{index_dir}/shingles"
    os.rename(live, f"{live}.old")  # crash between the two renames
    dedup_ingest.compact_dedup_index(spark, index_dir)

    b = _mkdocs(spark, [(901, _DOC_A_NEARDUP)])
    got = {
        r["doc_id"]: (r["verdict"], r["dup_of"])
        for r in dedup_ingest.batch_verdicts(spark, b, index_dir).collect()
    }
    assert got[901] == ("drop", 100)
    # Deltas folded: only the base partition remains.
    for part in ("bands", "shingles", "sizes"):
        kids = os.listdir(f"{index_dir}/{part}")
        assert [k for k in kids if k.startswith("batch_id=")] == [
            "batch_id=-1"
        ]


def test_lsm_cycle_append_compact_bucketed_probe(spark, tmp_path):
    """The full LSM cycle as one tested path: stream-append deltas to
    the path-partitioned index -> compact -> publish the folded base
    as the bucketed catalog tables -> probe. The bucketed probe must
    (a) return verdicts identical to the path-partitioned probe on
    the same index state — including a near-dup of a DELTA doc, so
    the fold provably carried the appends into the serving layout —
    and (b) bucket-prune every index scan (SelectedBucketsCount <
    total) post-compaction."""
    import contextlib
    import io
    import os
    import re

    from wikid_spark.streaming import dedup_ingest

    corpus = _mkdocs(spark, _CORPUS_ROWS)
    index_dir = str(tmp_path / "idx")
    dedup_ingest.persist_dedup_index(corpus, index_dir)

    # two streamed batches; batch 0's kept doc is the cross-batch bait
    out_dir = str(tmp_path / "verdicts")
    writer = dedup_ingest.dedup_verdict_batch_writer(
        spark, index_dir, out_dir
    )
    writer(_mkdocs(spark, [(100, _DOC_A)]), 0)
    writer(_mkdocs(spark, [(200, _DOC_UNRELATED)]), 1)
    # deltas exist pre-compaction
    kids = os.listdir(f"{index_dir}/bands")
    assert sorted(k for k in kids if k.startswith("batch_id=")) == [
        "batch_id=-1", "batch_id=0", "batch_id=1",
    ]

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS lsmidx LOCATION '{tmp_path}/db'"
    )
    try:
        dedup_ingest.compact_dedup_index_bucketed(
            spark, index_dir, "lsmidx.lsh", buckets=16
        )
        # path tree folded to a single base partition
        for part in ("bands", "shingles", "sizes"):
            kids = os.listdir(f"{index_dir}/{part}")
            assert [
                k for k in kids if k.startswith("batch_id=")
            ] == ["batch_id=-1"]

        probe = _mkdocs(
            spark,
            [(300, _DOC_A_NEARDUP), (301, "totally novel content here")],
        ).localCheckpoint()
        got_df = dedup_ingest.bucketed_batch_verdicts(
            spark, probe, "lsmidx.lsh"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            got_df.explain("formatted")
        selected = [
            (int(a), int(b))
            for a, b in re.findall(
                r"SelectedBucketsCount: (\d+) out of (\d+)", buf.getvalue()
            )
        ]
        assert len(selected) >= 3
        assert all(sel < total for sel, total in selected)

        got = {
            r["doc_id"]: (r["verdict"], r["dup_of"])
            for r in got_df.collect()
        }
        want = {
            r["doc_id"]: (r["verdict"], r["dup_of"])
            for r in dedup_ingest.batch_verdicts(
                spark, probe, index_dir
            ).collect()
        }
        assert got == want
        # the delta doc (batch 0's kept 100) is the keeper — proof the
        # appends survived the fold into the bucketed layout
        assert got[300] == ("drop", 100)
        assert got[301] == ("keep", None)
    finally:
        for t in ("lsh_bands", "lsh_shingles", "lsh_sizes"):
            spark.sql(f"DROP TABLE IF EXISTS lsmidx.{t}")
        spark.sql("DROP DATABASE IF EXISTS lsmidx")
