"""Incremental (manifest-driven) conversion — engine extension beyond
the reference's one-shot CLI (`main.rs` converts exactly one file per
invocation): convert a DIRECTORY of inputs into a parquet dataset,
recording per-file (size, mtime) in a JSON manifest so a re-run
converts only new or changed files. This is the continuous-ingestion
shape: a crawler keeps dropping CSV/JSONL files, the converter runs on
a schedule, and each run costs only the delta.

Design notes for the 100 TB path:
- Each batch writes under ``out_dir/batch=<n>/`` in multi-part mode —
  batches are immutable once committed, so readers (Spark, DuckDB with
  ``hive_partitioning``) see a consistent dataset and the writer never
  rewrites history (the same append-only contract as the streaming
  sinks in ``streaming/sinks.py``).
- The manifest commit is atomic (tmp file + ``os.replace``) and happens
  AFTER the batch directory is fully written: a crash mid-batch leaves
  an orphan ``batch=`` dir that the next run overwrites (same batch
  number is re-derived from the manifest), never a manifest that
  claims unconverted data.
- File identity is (path, size, mtime_ns): content-hashing every input
  would re-read the corpus; size+mtime is the rsync-style tradeoff and
  a CHANGED file (same path, new stats) is reconverted in the next
  batch — last batch wins for readers that dedup on input_file.
"""

from __future__ import annotations

import json
import os
import tempfile
from contextlib import contextmanager
from dataclasses import asdict, dataclass, replace

from pyspark.sql import SparkSession

from csv2parquet_spark.converter.convert import (
    ConvertOptions,
    convert_input,
    input_format,
    write_parquet,
)


@dataclass
class IncrementalResult:
    batch: int | None          # None = nothing new
    converted: list[str]       # input paths converted this run
    skipped: int               # inputs already in the manifest


def _load_manifest(path: str) -> dict:
    """Missing manifest = a fresh dataset (start at batch 0). A manifest
    that EXISTS but cannot be parsed is corruption, not freshness —
    silently resetting to ``next_batch: 0`` would reconvert the whole
    corpus into ``batch=0`` alongside the committed ``batch=1..n`` dirs,
    and every ``batch=*/`` reader would see full duplicates (ADVICE r6).
    Raise and make the operator decide (restore the manifest or wipe the
    output dir)."""
    if not os.path.exists(path):
        return {"files": {}, "next_batch": 0}
    try:
        with open(path) as f:
            m = json.load(f)
    except (OSError, json.JSONDecodeError) as exc:
        raise ValueError(
            f"incremental manifest {path!r} exists but is unreadable or "
            f"not valid JSON ({exc}); refusing to reset next_batch — "
            "restore the manifest or remove it together with the output "
            "batch=* directories"
        ) from exc
    if not isinstance(m, dict) or not isinstance(m.get("files"), dict):
        raise ValueError(
            f"incremental manifest {path!r} parsed but lacks the "
            "expected {'files': {...}, 'next_batch': n} shape; refusing "
            "to reset next_batch"
        )
    m.setdefault("next_batch", 0)
    return m


def _commit_manifest(path: str, manifest: dict) -> None:
    d = os.path.dirname(os.path.abspath(path)) or "."
    fd, tmp = tempfile.mkstemp(prefix=".manifest", dir=d)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


@contextmanager
def _writer_lock(manifest_path: str, timeout: float):
    """Mutual exclusion for layout writers (ingest / compact / GC).

    Two concurrent ingest runs that both load ``next_batch = n`` would
    race Spark ``overwrite`` writes inside the SAME ``batch=n/`` dir —
    interleaved delete/write of part files can leave a corrupt mix of
    both runs' parts that READERS then see (the manifest race itself is
    benign: last-batch-wins absorbs a lost record as one redundant
    reconversion). An exclusive ``flock`` on a sidecar ``.lock`` file
    serializes writers; the lock is its OWN file because the manifest
    inode is replaced on every commit (``os.replace``), which would
    strand a lock held on the old inode.

    Advisory and local-FS scoped — the right tool for this engine's
    single-box layout. On object storage there is no flock; a real
    deployment serializes writers by scheduling or a coordination
    service (the same assumption Delta/Iceberg place on their commit
    protocol's atomic-rename/conditional-put primitive)."""
    import fcntl
    import time as _time

    lock_path = manifest_path + ".lock"
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        deadline = _time.monotonic() + timeout
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            # ONLY lock-held (EWOULDBLOCK/EAGAIN → BlockingIOError) is
            # worth retrying; a filesystem without flock support
            # (ENOTSUP/ENOLCK on some NFS/overlay mounts) must raise
            # immediately, not spin out the timeout and then blame a
            # phantom concurrent writer.
            except BlockingIOError:
                if _time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"another writer holds {lock_path!r} (waited "
                        f"{timeout:.0f} s) — ingest/compact/gc runs on one "
                        "dataset must not overlap"
                    ) from None
                _time.sleep(0.05)
        yield
    finally:
        os.close(fd)  # closing the fd releases the flock


def _clear_dir(path: str) -> None:
    """Fresh empty dir at ``path`` (removing any crashed-run orphan)."""
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)


def _stem(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


def _file_key(path: str) -> str:
    st = os.stat(path)
    return f"{st.st_size}:{st.st_mtime_ns}"


def _batch_options(opts: ConvertOptions) -> ConvertOptions:
    """The options a batch is written with: ``opts`` in multi-part mode,
    so each file's write parallelizes across its splits."""
    return replace(opts, single_file=False, print_schema=False, dry=False)


def convert_incremental(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    manifest_path: str,
    opts: ConvertOptions | None = None,
    extensions: tuple[str, ...] = (".csv", ".jsonl", ".json", ".xml", ".orc", ".parquet"),
    lock_timeout: float = 600.0,
    row_tag: str = "row",
) -> IncrementalResult:
    """Convert every not-yet-seen input file under ``input_dir`` into
    ``output_dir/batch=<n>/<stem>.parquet``; record conversions in the
    manifest at ``manifest_path``. Returns what happened.

    Each input converts through the converter front as the format its
    extension names (:func:`input_format`, the CLI's ``--format auto``
    rule; schema inference / schema file / all write knobs in ``opts``
    apply; ``row_tag`` names the record element of XML inputs), in
    multi-part mode per file so each conversion parallelizes across the
    file's splits. Two inputs with one stem (``a.csv`` and
    ``a.jsonl``) would write the same ``<stem>.parquet``, so they raise
    ValueError before anything is written. Writers on one dataset are
    serialized by
    :func:`_writer_lock` — a concurrent run blocks up to
    ``lock_timeout`` seconds, then raises.
    """
    with _writer_lock(manifest_path, lock_timeout):
        return _convert_incremental_locked(
            spark, input_dir, output_dir, manifest_path, opts, extensions, row_tag
        )


def _convert_incremental_locked(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    manifest_path: str,
    opts: ConvertOptions | None,
    extensions: tuple[str, ...],
    row_tag: str,
) -> IncrementalResult:
    opts = opts or ConvertOptions()
    manifest = _load_manifest(manifest_path)
    seen: dict = manifest["files"]

    inputs = sorted(
        os.path.join(input_dir, f)
        for f in os.listdir(input_dir)
        if os.path.isfile(os.path.join(input_dir, f))
        and f.lower().endswith(extensions)
    )
    by_stem: dict[str, str] = {}
    for p in inputs:
        other = by_stem.setdefault(_stem(p), p)
        if other != p:
            raise ValueError(
                f"inputs {other!r} and {p!r} share the stem {_stem(p)!r}; "
                "both would write the same <stem>.parquet — rename one"
            )
    todo = [p for p in inputs if seen.get(p) != _file_key(p)]
    skipped = len(inputs) - len(todo)
    if not todo:
        return IncrementalResult(batch=None, converted=[], skipped=skipped)

    batch = int(manifest["next_batch"])
    batch_dir = os.path.join(output_dir, f"batch={batch}")
    # A pre-existing dir is an orphan from a crashed uncommitted run.
    # CLEAR it rather than write alongside: the orphan may hold stems
    # this run won't rewrite (input deleted since), and committing the
    # batch would make those never-committed rows permanently visible
    # to last-batch-wins readers.
    _clear_dir(batch_dir)
    multi = _batch_options(opts)
    converted: list[str] = []
    for p in todo:
        out = os.path.join(batch_dir, f"{_stem(p)}.parquet")
        convert_input(spark, input_format(p), p, out, multi, row_tag=row_tag)
        converted.append(p)

    # Commit only after every file in the batch landed (see module note
    # on crash behavior).
    for p in converted:
        seen[p] = _file_key(p)
    manifest["next_batch"] = batch + 1
    # compaction rewrites with the options of the last ingest
    manifest["writer"] = asdict(multi)
    _commit_manifest(manifest_path, manifest)
    return IncrementalResult(batch=batch, converted=converted, skipped=skipped)


# ---------------------------------------------------------------------------
# Compaction + retention GC (VERDICT r7 "Next round" #7): the append-only
# batch=*/ layout grows forever — a changed input leaves its superseded
# rows in old batches, and a long-running ingest accumulates thousands
# of small batch dirs (the classic small-file problem at 100 TB).
# Compaction rewrites the reconciled LATEST state into one fresh batch;
# GC then drops the superseded dirs, with reader-safety coming from the
# layout's own last-batch-wins contract:
#
#   - The compacted batch gets the NEXT batch number, so for every
#     source it is the maximum batch and wins reconciliation. While old
#     and compacted batches coexist, a last-batch-wins reader sees
#     IDENTICAL data before, during, and after compaction — there is no
#     moment where the dataset is wrong, only a window where it is
#     stored twice.
#   - GC deletes only batches at or below a compaction point that the
#     MANIFEST has committed (`compacted_upto`). A crash after writing
#     the compacted dir but before the manifest commit leaves an orphan
#     that the next compact() re-derives and overwrites (the existing
#     convert_incremental crash contract); GC never acts on it.
#   - `min_age_sec` is the in-flight-reader grace period: a reader that
#     planned its scan before compaction still holds paths into old
#     batch dirs; deleting them mid-scan fails the read. Retaining
#     superseded dirs for longer than the longest expected scan is the
#     standard snapshot-expiry tradeoff (Iceberg/Delta vacuum semantics).
#   - Writers (ingest runs, compact, gc) are serialized by the shared
#     flock in _writer_lock — a concurrent run blocks, then times out.
# ---------------------------------------------------------------------------


@dataclass
class CompactResult:
    batch: int | None        # the compacted batch number; None = nothing to do
    covers_upto: int | None  # highest batch folded into it
    sources: list[str]       # source stems rewritten


def _batch_dirs(output_dir: str) -> dict[int, str]:
    out: dict[int, str] = {}
    if not os.path.isdir(output_dir):
        return out
    for name in os.listdir(output_dir):
        if name.startswith("batch=") and name[6:].isdigit():
            out[int(name[6:])] = os.path.join(output_dir, name)
    return out


def compact_incremental(
    spark: SparkSession,
    output_dir: str,
    manifest_path: str,
    lock_timeout: float = 600.0,
) -> CompactResult:
    """Fold every committed batch into ONE new batch holding the
    reconciled latest state (per source stem, the rows of its highest
    batch — exactly what a last-batch-wins reader computes), then record
    the compaction point in the manifest. Superseded dirs become GC
    candidates; they are NOT deleted here (see :func:`gc_batches`).

    Each winner is rewritten through the converter's sink
    (:func:`write_parquet`) with the writer options the last ingest
    recorded in the manifest (``writer``; a manifest without it means
    the default batch options), so the compacted batch keeps the ingest's
    codec, ``created_by`` and every other writer knob.

    Scale shape: the winner map is a directory listing (file-count-
    sized, driver-side); each winner stem is rewritten with one
    parallel read→write, which also coalesces each source's small
    incremental parts into full-size files (the actual point of
    compaction at scale)."""
    with _writer_lock(manifest_path, lock_timeout):
        return _compact_incremental_locked(spark, output_dir, manifest_path)


def _compact_incremental_locked(
    spark: SparkSession, output_dir: str, manifest_path: str
) -> CompactResult:
    manifest = _load_manifest(manifest_path)
    committed_upto = int(manifest["next_batch"]) - 1
    if committed_upto < 0:
        return CompactResult(batch=None, covers_upto=None, sources=[])
    already = int(manifest.get("compacted_upto", -1))
    dirs = _batch_dirs(output_dir)
    live = {b: d for b, d in dirs.items() if b <= committed_upto}
    if not live or (
        # only the previous compaction's own output remains — idempotent.
        # `already >= 0` is load-bearing: with NO prior compaction a
        # single-ingest-batch dataset (committed_upto=0, already=-1)
        # would false-match and never compact, losing the small-part
        # coalescing that is compaction's actual point at scale.
        already >= 0
        and set(live) == {committed_upto}
        and already == committed_upto - 1
    ):
        return CompactResult(batch=None, covers_upto=None, sources=[])

    # winner per source stem = its highest committed batch
    winners: dict[str, tuple[int, str]] = {}
    for b in sorted(live):
        d = live[b]
        for entry in sorted(os.listdir(d)):
            if entry.endswith(".parquet"):
                winners[entry[: -len(".parquet")]] = (b, os.path.join(d, entry))
    if not winners:
        return CompactResult(batch=None, covers_upto=None, sources=[])

    batch = int(manifest["next_batch"])
    batch_dir = os.path.join(output_dir, f"batch={batch}")
    # Same orphan contract as ingest: a crashed UNCOMMITTED run may have
    # left this dir with stems that are not winners; clearing it keeps
    # never-committed rows out of the committed compacted batch.
    _clear_dir(batch_dir)
    opts = _batch_options(ConvertOptions(**manifest.get("writer", {})))
    for stem, (_, src) in sorted(winners.items()):
        # per-source rewrite: schemas differ across sources, so each
        # stem is its own (parallel) read→write job
        out = os.path.join(batch_dir, f"{stem}.parquet")
        write_parquet(spark, spark.read.parquet(src), src, out, opts)
    import time as _time

    manifest["next_batch"] = batch + 1
    manifest["compacted_upto"] = committed_upto
    # GC's in-flight-reader grace period anchors HERE — the moment the
    # old batches became superseded — not on dir mtimes (a week-old
    # batch dir would otherwise be "old enough" the instant compaction
    # lands, defeating the grace entirely).
    manifest["compacted_at"] = _time.time()
    _commit_manifest(manifest_path, manifest)
    return CompactResult(
        batch=batch, covers_upto=committed_upto, sources=sorted(winners)
    )


def gc_batches(
    output_dir: str,
    manifest_path: str,
    min_age_sec: float = 0.0,
    lock_timeout: float = 600.0,
) -> list[str]:
    """Delete batch dirs superseded by a COMMITTED compaction point
    (``batch <= compacted_upto``), returning the deleted paths. If the
    compaction landed less than ``min_age_sec`` ago (the manifest's
    ``compacted_at``), everything is retained this pass — the
    in-flight-reader grace period, anchored on when the dirs became
    SUPERSEDED (a reader that planned its scan just before compaction
    still holds paths into them; their own mtimes say nothing about
    that). With no compaction recorded, nothing is eligible and this
    is a no-op."""
    with _writer_lock(manifest_path, lock_timeout):
        return _gc_batches_locked(output_dir, manifest_path, min_age_sec)


def _gc_batches_locked(
    output_dir: str, manifest_path: str, min_age_sec: float
) -> list[str]:
    import shutil
    import time

    manifest = _load_manifest(manifest_path)
    upto = int(manifest.get("compacted_upto", -1))
    if upto < 0:
        return []
    now = time.time()
    if min_age_sec > 0:
        # Grace anchored on the compaction COMMIT (when the dirs became
        # superseded). A manifest from before the field existed (ADVICE
        # r8: defaulting it to `now` made this early return fire on
        # EVERY pass, blocking GC indefinitely) defaults to 0.0 so it
        # falls through to the per-dir mtime check below — strictly
        # more conservative only for freshly written dirs.
        compacted_at = float(manifest.get("compacted_at", 0.0))
        if now - compacted_at < min_age_sec:
            return []
    deleted: list[str] = []
    for b, d in sorted(_batch_dirs(output_dir).items()):
        if b > upto:
            continue
        if min_age_sec > 0 and now - os.stat(d).st_mtime < min_age_sec:
            continue
        shutil.rmtree(d)
        deleted.append(d)
    return deleted
