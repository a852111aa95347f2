"""Micro-batch alias-count ingestion, exactly-once under replay.

Replaces the reference's hand-rolled idempotency — pre-scanned id sets
+ `ON CONFLICT … count=count+excluded.count` upserts
(wikidata.py:90-92, 262-269; wikipedia.py:280-282, 108-115 in
/root/reference/scripts/wiki/) — with the Spark-native contract:
**foreachBatch + checkpoint** gives at-least-once batch delivery with a
monotonically increasing ``batch_id``, and each sink makes a replayed
batch a no-op. Two sink shapes, one per concern:

* **Append log** (`alias_count_batch_writer`, `start_alias_count_ingest`):
  each batch writes its own partial aggregate to a DETERMINISTIC path
  keyed by ``batch_id`` in overwrite mode — a replayed batch overwrites
  its own previous output. `read_alias_counts` merges the partials by
  re-aggregation (associative SUM — `plans.wiki.merge_alias_counts`
  semantics), so no reader ever sees a torn update. Every write is
  append-only and partition-local; the only global operation is the
  read-side groupBy, which AQE sizes at runtime.
* **Keyed merge** (`merge_upsert_batch_writer`): the one in-place
  upsert. Each batch folds into a ``pk``-bucketed table through a
  ledgered, leased stage-and-promote protocol that rewrites only the
  buckets the batch touches.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def alias_count_batch_writer(target_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch hook: partial-aggregate the micro-batch and write it
    under ``batch_id=<n>`` (overwrite → replay-idempotent)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        (
            batch.groupBy("alias", "entity_id")
            .agg(F.sum("count").alias("count"))
            .write.mode("overwrite")
            .parquet(f"{target_dir}/batch_id={batch_id}")
        )

    return write_batch


def read_alias_counts(spark: SparkSession, target_dir: str) -> DataFrame:
    """Merged view over all batch partials (associative re-aggregation)."""
    log = spark.read.option("basePath", target_dir).parquet(
        f"{target_dir}/batch_id=*"
    )
    return (
        log.groupBy("alias", "entity_id")
        .agg(F.sum("count").alias("count"))
    )


N_MERGE_BUCKETS = 64  # partition-key fanout of the keyed-merge table


def _merge_bucket(col):
    """Deterministic partition key for the keyed-merge table: a hash
    bucket, NOT the key itself, so partition count stays bounded at any
    key cardinality and hot keys spread by hash."""
    return F.pmod(F.xxhash64(col), F.lit(N_MERGE_BUCKETS)).cast("int")


def _merged_affected_state(
    spark: SparkSession, target_dir: str, updates: DataFrame
) -> DataFrame:
    """The post-merge (alias, entity_id, count, pk) rows for exactly the
    buckets ``updates`` touches, computed from the live table WITHOUT
    modifying it: partial-aggregate the updates, read only the affected
    ``pk`` buckets (partition pruning; the bucket list is
    metadata-scale, ≤ N_MERGE_BUCKETS values), then union and
    re-aggregate (associative SUM). (Spark's partition discovery
    ignores underscore- and dot-prefixed children, so staging
    directories and ledger markers inside ``target_dir`` are never read
    back as data.)"""
    partials = (
        updates.groupBy("alias", "entity_id")
        .agg(F.sum("count").alias("count"))
        .withColumn("pk", _merge_bucket(F.col("alias")))
    )
    from pyspark.errors import AnalysisException

    try:
        base = spark.read.parquet(target_dir)
    except AnalysisException:  # PATH_NOT_FOUND: first merge creates the table
        return partials
    affected = [r["pk"] for r in partials.select("pk").distinct().collect()]
    base = base.filter(F.col("pk").isin(affected)).select(
        "alias", "entity_id", "count"
    )
    return (
        base.unionByName(partials.drop("pk"))
        .groupBy("alias", "entity_id")
        .agg(F.sum("count").alias("count"))
        .withColumn("pk", _merge_bucket(F.col("alias")))
    )


LEASE_FILE = "_WRITER_LEASE"
DEFAULT_LEASE_SECONDS = 300.0


class ConcurrentWriterError(RuntimeError):
    """A second live writer attempted to own the keyed-merge target."""


def _lease_path(target_dir: str) -> str:
    """The driver-local lease file for ``target_dir``. The lease is
    taken with driver-local file operations, so it can only exclude
    writers that share the driver's filesystem: a bare path is used as
    given, a ``file:`` URI maps to its local path, and any other scheme
    raises ``ValueError`` (a lease under a literal ``./s3a:/…``
    directory would exclude no one)."""
    import os
    from urllib.parse import urlparse

    url = urlparse(target_dir)
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        target_dir = url.path
    elif url.scheme:
        raise ValueError(
            f"cannot lease {target_dir!r}: the writer lease is a "
            "driver-local file and only excludes writers on a local or "
            "file: root"
        )
    return os.path.join(target_dir, LEASE_FILE)


def _acquire_or_renew_lease(
    target_dir: str, writer_id: str, lease_seconds: float
) -> None:
    """Single-writer lease on the merge target: a lock file holding the
    writer id, heartbeat-renewed (mtime) on every batch. A DIFFERENT
    writer may take over only when the heartbeat is older than
    ``lease_seconds`` (holder crashed); a live holder makes the intruder
    raise instead of interleaving promotions.

    Takeover of a STALE lease is best-effort on a local filesystem: two
    successors can both pass the age check and rename concurrently —
    rename is atomic but last-writer-wins, so after renaming we RE-READ
    the lease and back off unless the file names us (closes the common
    interleaving; a successor that renames after our re-read is still
    caught by ``_assert_lease_held`` before promotion, though a window
    between that assert and the renames remains). True mutual exclusion
    needs storage with conditional-put / compare-and-swap (S3
    If-None-Match, HDFS atomic create, a lock service) — swap this
    function there; the call sites don't change."""
    import os
    import time

    path = _lease_path(target_dir)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, writer_id.encode())
        os.close(fd)
        return
    except FileExistsError:
        pass
    with open(path) as f:
        holder = f.read().strip()
    if holder == writer_id:
        os.utime(path)  # heartbeat
        return
    age = time.time() - os.path.getmtime(path)
    if age <= lease_seconds:
        raise ConcurrentWriterError(
            f"merge target {target_dir!r} is owned by live writer "
            f"{holder!r} (heartbeat {age:.0f}s ago, lease "
            f"{lease_seconds:.0f}s); refusing to interleave promotions"
        )
    tmp = f"{path}.takeover.{writer_id}"
    with open(tmp, "w") as f:
        f.write(writer_id)
    os.rename(tmp, path)  # atomic rename; concurrent takeovers race here
    with open(path) as f:
        winner = f.read().strip()
    if winner != writer_id:
        raise ConcurrentWriterError(
            f"lost stale-lease takeover race on {target_dir!r} to "
            f"{winner!r}; backing off"
        )


import contextlib as _contextlib


@_contextlib.contextmanager
def _lease_heartbeat(
    target_dir: str,
    writer_id: str,
    lease_seconds: float,
    on_lost=None,
):
    """Keep a held lease alive across a LONG blocking section (an index
    build is minutes at real scale — far past the 300 s default
    expiry, after which a second writer could legally take over and
    the two would interleave, the exact corruption the lease exists to
    prevent). A daemon thread renews the heartbeat every
    lease_seconds/3 until the context exits.

    Lost-lease discipline (ADVICE r15): a renewal that OBSERVES another
    holder (ConcurrentWriterError) means the lease genuinely changed
    hands — the heartbeat sets a lost event, fires ``on_lost`` once
    (callers pass a job-group cancel so in-flight writes stop, not just
    the final promotion), and the context manager RE-RAISES on exit, so
    a builder that lost ownership mid-build cannot fall through to the
    promotion assert with interleaved writes already on disk. Transient
    storage errors stay best-effort (retried next beat) — but once they
    persist past a full lease window the lease may have expired under a
    takeover we cannot see, so that degrades to lost as well. Yields
    the lost event for builders that want to poll mid-build."""
    import threading
    import time as _time

    stop = threading.Event()
    lost = threading.Event()

    def beat() -> None:
        # The expiry clock runs from the LAST SUCCESSFUL renewal (the
        # caller renewed just before entering), not from the first
        # failed beat — measuring from first failure declared loss up
        # to lease_seconds/3 late, a window in which this builder kept
        # writing into the shared dir after a successor could legally
        # take over (round-16 review).
        last_success = _time.monotonic()
        while not stop.wait(max(lease_seconds / 3.0, 1.0)):
            try:
                _acquire_or_renew_lease(target_dir, writer_id, lease_seconds)
                last_success = _time.monotonic()
            except ConcurrentWriterError:
                lost.set()
            except Exception:
                if _time.monotonic() - last_success >= lease_seconds:
                    lost.set()  # renewals dark past a full lease window
            if lost.is_set():
                if on_lost is not None:
                    try:
                        on_lost()
                    except Exception:
                        pass  # cancellation is best-effort
                return

    t = threading.Thread(target=beat, daemon=True)
    t.start()
    try:
        yield lost
    finally:
        stop.set()
        t.join(timeout=5)
    if lost.is_set():
        raise ConcurrentWriterError(
            f"lost lease on {target_dir!r} during heartbeat section; "
            "aborting before promotion (another writer owns the target)"
        )


def _release_lease(target_dir: str, writer_id: str) -> None:
    """Drop the lease iff we still hold it — a finished one-shot
    holder (e.g. a completed index refresh) releases so the NEXT
    writer proceeds immediately instead of waiting out the heartbeat
    expiry. A crashed holder never reaches this and its lease expires
    normally; losing a takeover race between the read and the remove
    deletes the usurper's fresh lease in the worst case, which only
    makes the usurper's next heartbeat re-create it (same best-effort
    envelope as `_acquire_or_renew_lease` on rename-only storage)."""
    import os

    path = _lease_path(target_dir)
    try:
        with open(path) as f:
            if f.read().strip() != writer_id:
                return
        os.remove(path)
    except OSError:
        pass


def _assert_lease_held(target_dir: str, writer_id: str) -> None:
    path = _lease_path(target_dir)
    try:
        with open(path) as f:
            holder = f.read().strip()
    except FileNotFoundError:
        holder = "<missing>"
    if holder != writer_id:
        raise ConcurrentWriterError(
            f"lost merge-target lease on {target_dir!r} to {holder!r} "
            "before promotion; aborting to avoid double-applying staged "
            "buckets over another writer's output"
        )


def merge_upsert_batch_writer(
    spark: SparkSession,
    target_dir: str,
    writer_id: str | None = None,
    lease_seconds: float = DEFAULT_LEASE_SECONDS,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch hook applying the keyed additive merge per
    micro-batch — the incremental half of the reference's ``ON CONFLICT
    (alias, entity_id) DO UPDATE SET count = count + excluded.count``
    upsert (wikidata.py:262-269) over plain parquet partitioned by
    ``pk`` (a hash bucket of ``alias``). Each batch reads and rewrites
    only the buckets it touches (`_merged_affected_state`).

    Idempotent under at-least-once replay INCLUDING a crash at any
    point inside the merge — an additive merge applied twice
    double-counts, so "skip if marker exists" alone is not enough (a
    crash between merge and marker would re-merge on replay).

    Stage-and-promote protocol, crash-safe at every boundary:

    1. ``_merged_batch_<id>`` exists → batch fully applied; no-op.
    2. Otherwise, if the staging dir lacks its ``_STAGED`` marker,
       compute the merged state of the affected buckets FROM THE LIVE
       TABLE (untouched until step 3) into
       ``_staging_batch_<id>/pk=*``, then write ``_STAGED``. A crash
       anywhere here leaves the live table unmodified; replay simply
       recomputes the stage (overwrite).
    3. Promote each staged bucket near-atomically: copy it to a
       dot-prefixed temp dir inside ``target_dir`` (invisible to
       partition discovery), then swap it in with two ``os.rename``
       metadata ops (live → trash, temp → live). The only window in
       which a reader can see the bucket absent is between the two
       renames. Deterministic staged content → re-promoting after a
       crash converges to the same state (replay sees ``_STAGED`` and
       resumes promotion WITHOUT recomputing from the now
       partially-promoted live table, which would double-count); a
       crash between the renames leaves that bucket absent until the
       batch replays, which re-runs promotion from staging.
    4. Write ``_merged_batch_<id>``, then clear staging.

    Single-writer protocol, guarded by a heartbeat lease
    (``_WRITER_LEASE``): each batch acquires/renews the lease before
    touching the table and re-asserts ownership between staging and
    promotion, so a second live writer raises ``ConcurrentWriterError``
    instead of interleaving bucket promotions; a crashed writer's lease
    expires after ``lease_seconds`` and a successor takes over (its
    replayed batch resumes from the ``_STAGED`` state exactly as a
    same-writer restart would). On a local filesystem the guard is
    BEST-EFFORT — stale-lease takeover is last-writer-wins rename plus
    a re-read/back-off, and a TOCTOU window remains between the
    ownership assert and the promotion renames; real deployments back
    ``_acquire_or_renew_lease`` with conditional-put/CAS storage (see
    its docstring). The promotion uses driver-side
    directory ops on a shared filesystem — on HDFS/S3 this maps to
    FileSystem.rename / multi-part copy next to the checkpoint."""
    import os
    import shutil
    import socket

    wid = writer_id or f"{socket.gethostname()}-{os.getpid()}"

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        _acquire_or_renew_lease(target_dir, wid, lease_seconds)
        done = os.path.join(target_dir, f"_merged_batch_{batch_id}")
        if os.path.exists(done):
            return
        staging = os.path.join(target_dir, f"_staging_batch_{batch_id}")
        staged_ok = os.path.join(staging, "_STAGED")
        if not os.path.exists(staged_ok):
            merged = _merged_affected_state(spark, target_dir, batch)
            merged.write.mode("overwrite").partitionBy("pk").parquet(staging)
            open(staged_ok, "w").close()
        _assert_lease_held(target_dir, wid)
        for child in os.listdir(staging):
            if not child.startswith("pk="):
                continue
            live = os.path.join(target_dir, child)
            tmp = os.path.join(target_dir, f"._promote_{batch_id}_{child}")
            trash = os.path.join(target_dir, f"._old_{batch_id}_{child}")
            # Idempotent under replay: clear any partial temp/trash first.
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            if os.path.exists(trash):
                shutil.rmtree(trash)
            shutil.copytree(os.path.join(staging, child), tmp)
            if os.path.exists(live):
                os.rename(live, trash)
            os.rename(tmp, live)
            shutil.rmtree(trash, ignore_errors=True)
        open(done, "w").close()
        shutil.rmtree(staging, ignore_errors=True)

    return write_batch


def start_alias_count_ingest(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire a streaming alias-count source into the merge sink.

    ``available_now=True`` drains everything currently in the source
    then stops — the batch-equivalent mode the tests (and backfills)
    use; ``False`` runs continuously on micro-batch triggers.
    """
    writer = (
        stream.writeStream.foreachBatch(alias_count_batch_writer(target_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
