"""The generic VERSIONED-ROOT lifecycle of a persisted index.

Round 14 built this machine for the ANN index (immutable content-keyed
version dirs + a single-object CURRENT pointer, lease-guarded
publishers, heartbeat-cancelled builds, hold-open GC); round 16
extracts it so the FTS index — and any future persisted layout — gets
the identical promotion contract from ONE implementation instead of a
hand-copy (the `streaming.evolving_index` precedent: one engine, N
index types). `queries.similarity` keeps its public API as thin
wrappers over this module.

Layout under ``root``::

    versions/<vid>/...   immutable artifacts (committed by <ok_marker>,
                         provenance in version.json)
    CURRENT              the live version id — promotion is ONE object
                         PUT, atomic on object stores, where a
                         directory rename is copy-then-delete

Guarantees (pinned by tests/test_versioned_index.py through the ANN
instance, shared by construction with every other instance):

* **Idempotent publish**: version ids are content-keyed, so racing
  publishers converge on the same immutable dir; a crashed publisher
  leaves either an uncommitted partial (deleted and rebuilt under the
  lease — provably a leftover, never a live build) or a
  committed-but-unpointed version (reused; only the pointer re-runs).
* **Single-writer lease**: builds run under ``<root>/.refresh_lock``
  with heartbeat renewal sized to the caller's lease, and a lost lease
  CANCELS the builder's in-flight Spark jobs (job-group scoped) so a
  deposed builder cannot interleave writes into a successor's build.
* **Hold-open GC**: ``gc_versions`` keeps the ``keep`` most recently
  committed versions plus CURRENT, so an in-flight serve that resolved
  the pointer before a flip keeps reading a live tree.
* **Provenance**: each version records the content fingerprint and
  layout generation it was built from (``version.json``, written and
  read only here); ``needs_layout_migration`` lets every refresh
  ladder distinguish a layout-only pointer mismatch (forced
  migration) from real content drift by one rule.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import SparkSession

from wikid_spark.fsutil import (
    _fs_delete,
    _fs_exists,
    _fs_list_names,
    _fs_read_text,
    _fs_write_text,
)

CURRENT_PTR = "CURRENT"
PROVENANCE = "version.json"


@contextlib.contextmanager
def build_job_group(spark: SparkSession, writer_id: str):
    """Scope the calling thread's Spark jobs to a cancellable group and
    yield the canceller — `_lease_heartbeat`'s ``on_lost`` hook, so a
    builder that loses its lease stops its in-flight writes (ADVICE
    r15) rather than interleaving them into a successor's build. Uses
    the local property directly (thread-scoped, like setJobGroup) and
    restores it on exit so unrelated jobs on this thread aren't swept
    into a later cancellation. The group name is unique PER ENTRY
    (uuid suffix), not per writer_id: a stable writer_id across
    successive builds would let a stale heartbeat thread's late
    on_lost() cancel the NEXT build's jobs (round-16 review)."""
    import uuid

    sc = spark.sparkContext
    group = f"wikid-lease-build-{writer_id}-{uuid.uuid4().hex[:8]}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield lambda: sc.cancelJobGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def read_current_version(spark: SparkSession, root: str) -> str | None:
    if not _fs_exists(spark, f"{root}/{CURRENT_PTR}"):
        return None
    vid = _fs_read_text(spark, f"{root}/{CURRENT_PTR}").strip()
    return vid or None


def committed_current(
    spark: SparkSession, root: str, ok_marker: str
) -> str | None:
    """The version id CURRENT names if that version is committed
    (``ok_marker`` present), else None — the one test both refresh
    ladders and `resolve_current` use for "is there a live index"."""
    vid = read_current_version(spark, root)
    if vid is None or not _fs_exists(
        spark, f"{root}/versions/{vid}/{ok_marker}"
    ):
        return None
    return vid


def resolve_current(spark: SparkSession, root: str, ok_marker: str) -> str:
    """The live version dir the pointer names. Retries briefly: on
    filesystems where the overwrite is create+truncate (local/HDFS)
    a reader can catch the pointer mid-write; on object stores the
    PUT is atomic and the first read wins."""
    import time as _time

    for _ in range(3):
        vid = committed_current(spark, root, ok_marker)
        if vid:
            return f"{root}/versions/{vid}"
        _time.sleep(0.05)
    raise FileNotFoundError(
        f"no committed CURRENT index under {root!r} — publish one with "
        "publish_version()"
    )


def needs_layout_migration(
    spark: SparkSession, vdir: str, fingerprint: str, layout: str
) -> bool:
    """Whether the version at ``vdir`` must be force-republished
    because OLDER code published it: no provenance at all, an older
    layout generation, or the very corpus bytes (``fingerprint``) the
    caller would publish now under a changed vid format. A pointer
    mismatch that fails all three is real content change, which the
    caller's own trigger decides."""
    import json

    if not _fs_exists(spark, f"{vdir}/{PROVENANCE}"):
        return True
    prov = json.loads(_fs_read_text(spark, f"{vdir}/{PROVENANCE}"))
    return prov.get("layout") != layout or prov.get("fingerprint") == fingerprint


def publish_version(
    spark: SparkSession,
    root: str,
    vid: str,
    build_fn,
    ok_marker: str,
    fingerprint: str,
    layout: str,
    writer_id: str | None = None,
    lease_seconds: float | None = None,
) -> dict:
    """Build (if absent) version ``vid`` with ``build_fn(vdir)`` and
    flip the pointer to it. Idempotent at every step — see the module
    docstring's publish guarantee. The provenance — the corpus content
    ``fingerprint`` and ``layout`` generation the version is built
    from — is written (healed if missing) AFTER the commit-marker
    check so a crash between the marker and the provenance write
    converges on the next publish.
    Callers already holding the root's lease pass their ``writer_id``
    AND ``lease_seconds`` — the acquire is then a heartbeat renew
    sized to the caller's cadence, and the lease is NOT released here
    (ADVICE r14/r15). Returns {version, dir, built, previous}."""
    import json
    import uuid

    from wikid_spark.streaming.ingest import (
        DEFAULT_LEASE_SECONDS,
        _acquire_or_renew_lease,
        _lease_heartbeat,
        _release_lease,
    )

    lease_s = DEFAULT_LEASE_SECONDS if lease_seconds is None else lease_seconds
    vdir = f"{root}/versions/{vid}"
    lock_dir = root + "/.refresh_lock"
    own_lease = writer_id is None
    writer_id = writer_id or f"publish-{uuid.uuid4().hex[:12]}"
    _acquire_or_renew_lease(lock_dir, writer_id, lease_s)
    try:
        built = False
        if not _fs_exists(spark, f"{vdir}/{ok_marker}"):
            _fs_delete(spark, vdir)  # lease-held: provably a crashed partial
            # The build is minutes at real scale — far past the lease
            # expiry; heartbeat it alive or a second publisher could
            # legally take over mid-build and interleave.
            with build_job_group(spark, writer_id) as cancel:
                with _lease_heartbeat(
                    lock_dir, writer_id, lease_s, on_lost=cancel
                ):
                    build_fn(vdir)
            built = True
        if not _fs_exists(spark, f"{vdir}/{PROVENANCE}"):
            _fs_write_text(
                spark,
                f"{vdir}/{PROVENANCE}",
                json.dumps({"fingerprint": fingerprint, "layout": layout}),
            )
        prev = read_current_version(spark, root)
        if prev != vid:
            _fs_write_text(spark, f"{root}/{CURRENT_PTR}", vid)
        return {"version": vid, "dir": vdir, "built": built, "previous": prev}
    finally:
        if own_lease:
            _release_lease(lock_dir, writer_id)


def gc_versions(
    spark: SparkSession, root: str, keep: int, ok_marker: str
) -> list[str]:
    """Delete committed versions beyond the ``keep`` most recently
    committed (CURRENT always retained). ``keep >= 2`` leaves the
    previously-current version alive for in-flight serves that
    resolved the pointer before the last flip. UNCOMMITTED dirs are
    left alone — one may be another publisher's in-progress build; the
    publisher that owns a partial deletes it itself on retry. Returns
    the deleted version ids."""
    from wikid_spark.fsutil import _fs_and_path

    current = read_current_version(spark, root)
    fs, _ = _fs_and_path(spark, root)
    committed: list[tuple[int, str]] = []
    for name in _fs_list_names(spark, f"{root}/versions"):
        ok = f"{root}/versions/{name}/{ok_marker}"
        if not _fs_exists(spark, ok):
            continue
        _, okp = _fs_and_path(spark, ok)
        committed.append((fs.getFileStatus(okp).getModificationTime(), name))
    committed.sort(reverse=True)  # newest commit first
    keep_ids = {name for _, name in committed[: max(keep, 1)]}
    if current:
        keep_ids.add(current)
    dropped = []
    for _, name in committed:
        if name not in keep_ids:
            _fs_delete(spark, f"{root}/versions/{name}")
            dropped.append(name)
    return dropped
