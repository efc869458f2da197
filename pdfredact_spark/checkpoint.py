"""Per-partition lineage + commit-log resumability (SURVEY.md §4.3/§4.4).

Spark batch jobs have no cross-job resume, so the pipeline processes the
input in deterministic PARTITION BUCKETS and commits a manifest per batch:

- every document is assigned ``bucket = pmod(xxhash64(doc_id), n_buckets)``
  — deterministic under retries and across runs;
- the job loops over bucket batches; each batch is one Spark job whose
  Arrow stage redacts and writes every row, clean and quarantined, once
  under ``<out>/data/batch=<k>/bucket=<b>/`` (:func:`_materialize`), and
  the driver writes its lineage rows under ``<out>/metrics/batch=<k>/``;
- a batch is COMMITTED by atomically renaming a manifest into
  ``<out>/_commits/batch-<k>.json`` (os.rename is atomic on POSIX);
- on restart, committed batches are skipped (the left-anti filter is a
  driver-side bucket-set difference, so no Spark work is scheduled for
  committed data at all);
- every read (the returned frame, ``read_metrics``, ``read_errors``)
  serves committed batches only.

Batches are pipelined, two in flight: batch k+1's Spark work runs on a
driver worker thread while the caller's thread waits on and commits
batch k. Commits stay on the caller's thread, strictly in batch order.
So a crash can leave the files of two uncommitted batches behind (the one
awaiting its commit and the one in flight), one more than a sequential
loop; the resume replaces both like any uncommitted batch.

This is the Parquet+manifest stand-in for an Iceberg catalog: task-written
data files plus one manifest commit is Iceberg's append-files commit (the
pinned PySpark ships no Iceberg runtime, TESTDATA.md).
"""

from __future__ import annotations

import heapq
import json
import os
import shutil
import time
import uuid
from collections.abc import Iterator
from concurrent.futures import Future, ThreadPoolExecutor, wait

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import IntegerType, StructType

from pdfredact_spark.catalog import (
    LOCAL_LEDGER_STORAGE,
    LedgerStorage,
    acquire_lease_blocking,
    unique_owner,
    verify_lease_still_held,
)
from pdfredact_spark.model import Rule
from pdfredact_spark.pipeline import REDACTED_SCHEMA, _make_doc_map_arrow, _pass_through

#: ``data/``: every redacted row plus the partition columns. Given to
#: reads, so no Spark job infers it and an out_dir with no data file (empty
#: input) reads as an empty frame. (A new field list: ``StructType.add``
#: appends to the list it was built on.)
_DATA_SCHEMA = (
    StructType(list(REDACTED_SCHEMA.fields)).add("batch", IntegerType()).add("bucket", IntegerType())
)
#: the metrics table's lineage columns, over one bucket's clean rows, with
#: the meaning of Spark's ``min(doc_id)``, ``max(doc_id)``, ``count(1)``,
#: ``sum(size(spans))``, ``sum(n_rule_hits)`` and ``sum(aggregate(spans,
#: 0L, (acc, s) -> acc + length(s.text) + length(s.media_ref) + 8))``
_LINEAGE = [
    ("doc_id_min", pa.string()), ("doc_id_max", pa.string()), ("n_docs", pa.int64()),
    ("n_spans", pa.int64()), ("n_rule_hits", pa.int64()), ("bytes_processed", pa.int64()),
]
#: ``metrics/batch=<k>``, written by the driver in read_metrics' schema
_METRICS_SCHEMA = pa.schema(
    [("bucket", pa.int32()), *_LINEAGE, ("run_id", pa.string()), ("partition_id", pa.int32())]
)
#: ``metrics/``, as read_metrics serves it
_METRICS_READ_SCHEMA = from_arrow_schema(_METRICS_SCHEMA).add("batch", IntegerType())
#: the row a batch task returns per data file it wrote: the file, the
#: lineage partials and error count of its rows, its first error rows, and
#: the task's stage seconds (on the task's first file, 0 on the others)
_FILE_SCHEMA = pa.schema(
    [("bucket", pa.int32()), ("file", pa.string()), *_LINEAGE, ("n_errors", pa.int64()),
     ("errors", pa.list_(pa.struct([("doc_id", pa.string()), ("error", pa.string())]))),
     ("redact_s", pa.float64()), ("write_s", pa.float64())]
)
#: the most error rows a manifest keeps
_ERROR_SAMPLE = 100
#: the most bytes of rows a batch task buffers over all its bucket files;
#: past it, the largest buffer is written as one row group, so row groups
#: are not one per Arrow batch and memory does not grow with the buckets
_ROW_GROUP_BYTES = 32 << 20


def _first_errors(errors) -> list[dict]:
    """The first ``_ERROR_SAMPLE`` ``{"doc_id", "error"}`` rows in Spark's
    ``ORDER BY doc_id, error``: a NULL doc id first, as ascending order puts
    nulls first (an error row's error is never null)."""
    return heapq.nsmallest(_ERROR_SAMPLE, errors, key=lambda e: (
        e["doc_id"] is not None, e["doc_id"] or "", e["error"]))


def _merge(parts: list[dict]) -> dict:
    """The lineage columns, error count and first error rows of the union
    of the rows of ``parts``; a lineage column that is NULL in every part
    stays NULL, as Spark's ``min``, ``max`` and ``sum`` leave it."""
    def present(k):
        return [p[k] for p in parts if p[k] is not None]

    sums = {k: sum(v) if (v := present(k)) else None
            for k in ("n_spans", "n_rule_hits", "bytes_processed")}
    return {"doc_id_min": min(present("doc_id_min"), default=None),
            "doc_id_max": max(present("doc_id_max"), default=None),
            "n_docs": sum(p["n_docs"] for p in parts), **sums,
            "n_errors": sum(p["n_errors"] for p in parts),
            "errors": _first_errors(e for p in parts for e in p["errors"])}


def _summary(rb: pa.RecordBatch) -> dict:
    """:func:`_merge`'s fields over the redacted batch ``rb``, the lineage
    over its clean rows. A doc with a NULL text or media_ref in any span
    has a NULL ``bytes_processed`` term, which the sum skips, as in Spark."""
    errors = rb.filter(rb.column("error").is_valid()).select(["doc_id", "error"])
    rb = rb.filter(rb.column("error").is_null())
    spans = rb.column("spans")
    lens = pc.list_value_length(spans).to_numpy(zero_copy_only=False)
    flat = spans.flatten()
    term = pc.add(pc.add(pc.utf8_length(pc.struct_field(flat, "text")).cast(pa.int64()),
                         pc.utf8_length(pc.struct_field(flat, "media_ref"))), 8)
    # per-doc sums and NULL counts as differences of running sums at the
    # docs' span bounds (an empty spans array sums to 0)
    ends = np.cumsum(lens)
    starts = ends - lens
    total = np.concatenate(([0], np.cumsum(term.fill_null(0).to_numpy(zero_copy_only=False))))
    nulls = np.concatenate(([0], np.cumsum(term.is_null().to_numpy(zero_copy_only=False))))
    ok = nulls[ends] == nulls[starts]
    ids = pc.min_max(rb.column("doc_id"))
    return {
        "doc_id_min": ids["min"].as_py(), "doc_id_max": ids["max"].as_py(),
        "n_docs": rb.num_rows, "n_spans": int(lens.sum()),
        "n_rule_hits": pc.sum(rb.column("n_rule_hits")).as_py(),
        "bytes_processed": int((total[ends] - total[starts])[ok].sum()) if ok.any() else None,
        "n_errors": errors.num_rows, "errors": _first_errors(errors.to_pylist()),
    }


class _BucketFile:
    """One bucket's data file in one task attempt. Rows buffered by ``add``
    are written as one row group by ``flush``, through one ``ParquetWriter``
    in the schema of the stage's output batches, under a hidden name unique
    to the attempt, which Spark's reader ignores until the driver promotes
    it; ``row`` is the file's row of ``_FILE_SCHEMA``."""

    def __init__(self, data_path: str, bucket: int, partition: int):
        name = f"part-{partition:05d}-{uuid.uuid4().hex}.parquet"
        self.path = os.path.join(data_path, f"bucket={bucket}", "." + name)
        self.row = {"bucket": bucket, "file": name, **_merge([]), "redact_s": 0.0, "write_s": 0.0}
        self.buf: list[pa.RecordBatch] = []
        self.nbytes, self.writer = 0, None

    def add(self, rb: pa.RecordBatch) -> None:
        self.row.update(_merge([self.row, _summary(rb)]))
        self.buf.append(rb)
        self.nbytes += rb.nbytes

    def flush(self) -> None:
        if self.writer is None:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            self.writer = pq.ParquetWriter(self.path, self.buf[0].schema)
        self.writer.write_table(pa.Table.from_batches(self.buf))  # one row group
        self.buf, self.nbytes = [], 0

    def close(self) -> dict:
        if self.buf:
            self.flush()
        self.writer.close()
        return self.row


def _write_stage(data_path: str, rules: list[Rule], flatten: bool):
    """A batch's Arrow stage: redacts each Arrow batch of ``(doc_id, spans,
    bucket)`` (with no rules and no flatten its input is already redacted
    by ``pipeline._pass_through``), writes its rows to one :class:`_BucketFile`
    per bucket, and at the end yields one ``_FILE_SCHEMA`` row per file."""
    redact = (_make_doc_map_arrow(rules, flatten) if rules or flatten
              else lambda batches: (rb.select(REDACTED_SCHEMA.names) for rb in batches))
    cap = _ROW_GROUP_BYTES  # read on the driver, shipped with the stage

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        partition = TaskContext.get().partitionId()
        files: dict[int, _BucketFile] = {}
        redact_s = write_s = 0.0
        for rb in batches:
            t0 = time.perf_counter()
            (out,) = redact([rb])
            t1 = time.perf_counter()
            bucket = rb.column("bucket")
            in_batch = pc.unique(bucket).to_pylist()
            for b in in_batch:
                if b not in files:
                    files[b] = _BucketFile(data_path, b, partition)
                files[b].add(out if len(in_batch) == 1 else out.filter(pc.equal(bucket, b)))
            while sum(f.nbytes for f in files.values()) >= cap:
                max(files.values(), key=lambda f: f.nbytes).flush()
            redact_s += t1 - t0
            write_s += time.perf_counter() - t1
        if not files:
            return
        t0 = time.perf_counter()
        rows = [f.close() for f in files.values()]
        rows[0]["redact_s"] = redact_s
        rows[0]["write_s"] = write_s + time.perf_counter() - t0
        yield pa.RecordBatch.from_pylist(rows, schema=_FILE_SCHEMA)

    return stage


class KillSwitch(Exception):
    """Raised by tests to simulate a mid-run job kill."""


def _commit_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_commits")


def committed_batches(out_dir: str) -> set[int]:
    import re

    cdir = _commit_dir(out_dir)
    if not os.path.isdir(cdir):
        return set()
    out = set()
    for name in os.listdir(cdir):
        # exact-name match only (round-5 review): a stray foreign file
        # like "batch-0 (copy).json" must be ignored, not crash every
        # later resume with int()'s ValueError. A file that doesn't
        # match can't have been written by _commit, so skipping it never
        # skips a real batch.
        m = re.fullmatch(r"batch-(\d+)\.json", name)
        if m:
            out.add(int(m.group(1)))
    return out


def _config_fingerprint(rules: list[Rule], flatten: bool, n_buckets: int) -> str:
    """Deterministic digest of everything that changes a batch's OUTPUT:
    the full rule list (order matters — apply order is deterministic),
    the flatten toggle, and the bucket modulus. Stored in every manifest
    so resume can refuse to mix batches redacted under different
    configs (round-5 review: the n_buckets guard existed, the rules/
    flatten axis did not — a killed job resumed with a different rules
    file silently produced a mixed corpus). Rule.description is
    deliberately EXCLUDED (ADVICE r5): it never reaches the kernel, so
    a cosmetic description edit in the rules file must not hard-fail an
    otherwise-valid resume. NOTE this made the digest a v2: manifests
    written by pre-round-6 builds (description included) no longer
    match, so their resume fails closed with the drift error — rerun
    from scratch; there is no silent mixing either way."""
    import hashlib

    payload = json.dumps(
        {
            "rules": [
                [
                    r.pattern,
                    r.is_regex,
                    r.case_sensitive,
                    r.fragment_aware,
                    r.regex_flags,
                ]
                for r in rules
            ],
            "flatten": flatten,
            "n_buckets": n_buckets,
        },
        sort_keys=True,
    )
    return hashlib.md5(payload.encode()).hexdigest()


def guard_stream_config(
    out_dir: str, checkpoint_name: str, config: dict, operator: str
) -> None:
    """Config-at-checkpoint-birth guard for streaming operators (round-7,
    verdict next #2) — the streaming twin of _config_fingerprint: the
    first run persists the operator's semantic config as a JSON sidecar
    next to its checkpoint dir; every restart compares and hard-fails on
    ANY drift (a restored state store was built under the birth config;
    running it under another silently changes watermark/eviction/merge
    semantics for restored keys). A checkpoint that predates the sidecar
    fails closed — its birth config is unknowable, the same policy as
    manifests missing n_buckets."""
    path = os.path.join(out_dir, f"{checkpoint_name}_config.json")
    ckpt = os.path.join(out_dir, checkpoint_name)

    def stamp() -> None:  # one serialization site for first-stamp AND re-stamp
        os.makedirs(out_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(config, fh)
        os.replace(tmp, path)

    if os.path.isfile(path):
        with open(path) as fh:
            born = json.load(fh)
        if born != config and not os.path.isdir(ckpt):
            # Sidecar written but the checkpoint was never born (first
            # run failed before the stream started — bad source path,
            # schema error). There is no state store to protect, so a
            # corrected config must not wedge the out_dir (round-7
            # review): the CHECKPOINT's birth, not the sidecar's, is
            # the semantic anchor. Re-stamp and proceed.
            stamp()
            return
        if born != config:
            drift = sorted(
                k for k in set(born) | set(config)
                if born.get(k) != config.get(k)
            )
            detail = ", ".join(
                f"{k}: {born.get(k)!r} -> {config.get(k)!r}" for k in drift
            )
            raise ValueError(
                f"{operator} config drift vs checkpoint birth in "
                f"{out_dir}: {detail}. The streaming state store was "
                f"built under the original config; restarting with a "
                f"different one changes semantics for restored keys. Use "
                f"a NEW out_dir (replay the source — availableNow plus "
                f"idempotent sinks makes that safe) or restore the "
                f"original config."
            )
        return
    if os.path.isdir(ckpt):
        raise ValueError(
            f"existing {checkpoint_name} in {out_dir} has no config "
            f"sidecar (created by a pre-fingerprint build); its birth "
            f"config is unknowable, refusing to guess. Use a new out_dir."
        )
    stamp()


def _data_file_listing(out_dir: str, batch_id: int) -> list[list]:
    """Sorted ``[relpath, size]`` pairs of the parquet files under
    ``data/batch=<k>`` that Spark's reader serves (it skips names starting
    with ``.`` or ``_``) — stamped into the manifest at commit time and
    re-verified for every committed batch on every later run (round-7
    cont. third pass). A late zombie or speculative task attempt can only
    leave a hidden file, which is never served and not listed; a visible
    file that appears or changes after commit (a zombie driver, manual
    tampering, a partial restore) is a loud integrity failure at the next
    resume, of the output and of read_errors' quarantined rows alike.
    Driver-side listing: one walk per batch per run, independent of data
    size."""
    base = os.path.join(out_dir, "data", f"batch={batch_id}")
    out = []
    for root, _dirs, files in os.walk(base):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out.append([os.path.relpath(p, base), os.path.getsize(p)])
    return sorted(out)


def _commit(out_dir: str, batch_id: int, manifest: dict) -> None:
    cdir = _commit_dir(out_dir)
    os.makedirs(cdir, exist_ok=True)
    tmp = os.path.join(cdir, f".batch-{batch_id}.json.tmp")
    final = os.path.join(cdir, f"batch-{batch_id}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
        # rename is atomic vs process crash but NOT power loss: without
        # fsync the rename can reach disk before the data blocks,
        # leaving a truncated "committed" manifest that blocks resume
        # (or skips a batch whose data never hit disk). fsync file, then
        # rename, then fsync the directory entry.
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)  # atomic commit point
    dfd = os.open(cdir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def run_resumable(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    rules: list[Rule],
    run_id: str = "run-0",
    n_buckets: int = 16,
    buckets_per_batch: int = 4,
    flatten: bool = False,
    kill_after_batches: int | None = None,
    lease_ttl_sec: float | None = None,
    lease_owner: str | None = None,
    lease_wait_sec: float | None = None,
    storage: LedgerStorage = LOCAL_LEDGER_STORAGE,
    _hold_before_commit_sec: float = 0.0,
) -> DataFrame:
    """Resumable redaction over ``docs`` (doc_id, spans).

    Returns the clean rows (doc_id, spans, batch, bucket) read back from
    ``out_dir/data``, whose quarantined rows :func:`read_errors` reads.
    ``kill_after_batches`` simulates a crash for the resume test.

    ``lease_ttl_sec`` guards the run with a storage lease
    (``out_dir/run.lease``, same object family as the streaming ledger's
    ``compaction.lease``): without it, two concurrent drivers on one
    out_dir (orchestrator double-launch, zombie retry) both read an
    empty committed set and both ``overwrite`` the same batch dirs — if
    one commits the manifest and the other dies mid-overwrite, the
    committed manifest sits over a half-written data dir and every
    future resume SKIPS the batch, silently losing documents (reproduced
    across two real spark-submit drivers; journal, round-7 cont.). The
    leased run (a) blocks on a live foreign holder (loud timeout at
    ``lease_wait_sec``, default ttl+30), (b) reads ``committed_batches``
    only AFTER acquiring — a loser that waited out a winner re-processes
    nothing, (c) renews the lease before submitting each batch, failing
    loudly if the lease was usurped, and (d) re-verifies ownership
    immediately before every manifest commit (the streaming micro-batch
    check) so an outrun ttl with a real usurper can never stamp a
    manifest over a possibly-raced batch. A ``kill_after_batches``
    "crash" deliberately does NOT release (a real SIGKILL couldn't): the
    lease expires into takeover. Back-compat: ``None`` (default) keeps
    the single-driver-per-out_dir contract unleased, exactly as before.
    ``_hold_before_commit_sec`` is a drive/test hook — park once, before
    the FIRST commit, while holding the lease, so a second real driver's
    exclusion is provable.

    Batches run two in flight (module docstring): batch k+1 materializes
    on a driver worker thread, under the caller's job group and tags, while
    batch k commits. Each batch's jobs carry the description
    ``run_resumable <run_id> batch <k>/<n_batches>`` (``k`` as in
    ``data/batch=<k>``). The renewal before each submission keeps the ttl
    needing to outlast only about one batch. Any exception that ends the
    run, lease loss and ``KillSwitch`` included, first
    cancels the Spark jobs of the batches still in flight, so a run that
    will not commit them stops writing at once; a crash that skips it
    leaves at most two uncommitted batches for the resume to overwrite.
    """
    lease_path = storage.join(out_dir, "run.lease")
    if lease_ttl_sec is not None:
        if lease_owner is None:
            lease_owner = unique_owner("runner")
        if lease_wait_sec is None:
            lease_wait_sec = lease_ttl_sec + 30.0
        os.makedirs(out_dir, exist_ok=True)
        acquire_lease_blocking(
            storage, lease_path, lease_owner, lease_ttl_sec, lease_wait_sec
        )
    crashed = False
    try:
        return _run_resumable_batches(
            spark, docs, out_dir, rules, run_id, n_buckets,
            buckets_per_batch, flatten, kill_after_batches,
            lease_ttl_sec, lease_owner, storage, _hold_before_commit_sec,
        )
    except KillSwitch:
        crashed = True  # simulated SIGKILL: leave the lease to expire
        raise
    finally:
        if lease_ttl_sec is not None and not crashed:
            storage.release_lease(lease_path, lease_owner)


def _manifest(out_dir: str, batch_id: int) -> dict:
    """Batch ``batch_id``'s committed manifest. One of the two-write layout
    (``raw/`` + ``data/``, listing ``raw_files``) fails closed: its data
    files hold no quarantined rows."""
    with open(os.path.join(_commit_dir(out_dir), f"batch-{batch_id}.json")) as f:
        manifest = json.load(f)
    if "raw_files" in manifest:
        raise ValueError(
            f"batch {batch_id} of {out_dir} was committed under the two-write "
            f"layout (raw/ + data/), whose data files hold no quarantined rows. "
            f"Re-run into a fresh out_dir."
        )
    return manifest


def _check_committed(
    out_dir: str, batch_id: int, lo: int, hi: int, n_buckets: int, config_fp: str
) -> None:
    """Refuse to skip a committed batch whose manifest does not match this
    run's partitioning and config, or whose files changed since commit:
    skipping it would drop, double or mix documents. A manifest missing a
    field predates its guard, so its value is unverifiable: a hard error
    too, never defaulted to this run's value."""
    manifest = _manifest(out_dir, batch_id)
    # the modulus matters even when ranges coincide: batch 0 is [0,4)
    # under both n_buckets=8 and 16, but pmod(h,8) and pmod(h,16) assign
    # DIFFERENT documents to it
    if (manifest.get("buckets"), manifest.get("n_buckets")) != (list(range(lo, hi)), n_buckets):
        raise ValueError(
            f"batch {batch_id} was committed for buckets "
            f"{manifest.get('buckets')} of {manifest.get('n_buckets')} "
            f"but this run derives {list(range(lo, hi))} of {n_buckets} "
            f"— resume with the original n_buckets/buckets_per_batch"
        )
    if manifest.get("config_fp") != config_fp:
        raise ValueError(
            f"batch {batch_id} was committed under config "
            f"{manifest.get('config_fp')} but this run's rules/"
            f"flatten fingerprint is {config_fp} — resume with "
            "the original rules and flatten setting (or use a "
            "fresh out_dir)"
        )
    listing = _data_file_listing(out_dir, batch_id)
    if manifest.get("data_files") != listing:
        # a zombie runner's late file-moves, manual tampering or a partial
        # restore: mixing them in, or serving fewer rows, is the loss the
        # manifest exists to prevent
        n_rec = manifest.get("data_files")
        raise ValueError(
            f"batch {batch_id}'s data files do not match its "
            f"committed manifest (recorded "
            f"{'<absent>' if n_rec is None else len(n_rec)} "
            f"files, found {len(listing)}): the batch dir was "
            f"modified after commit (zombie writer, tampering, "
            f"partial restore) or the manifest predates the "
            f"integrity guard. Re-run this out_dir from scratch "
            f"or restore the committed files."
        )


def _materialize(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    batch_id: int,
    lo: int,
    hi: int,
    rules: list[Rule],
    flatten: bool,
    run_id: str,
) -> dict:
    """Write batch ``batch_id``'s data and metrics dirs in one Spark job and
    return its manifest's ``n_errors``, ``errors``, ``stage_s`` and
    ``n_files``. Spark work only — it touches no commit-log or lease state,
    so it runs on a worker thread while the caller commits the batch before
    it. Each task writes hidden files (:func:`_write_stage`); ``collect``
    returns the file rows of each partition's successful attempt only, so
    the driver promotes exactly those files and deletes everything else in
    the batch dir (a failed, retried or earlier run's files). A zombie
    attempt that writes later leaves only a hidden file, which no read
    serves. Task-written files plus one manifest commit is Iceberg's
    append-files commit."""
    data_path = os.path.join(out_dir, "data", f"batch={batch_id}")
    batch = docs.filter((F.col("bucket") >= lo) & (F.col("bucket") < hi))
    files = [
        r.asDict(recursive=True) for r in
        (batch.select("doc_id", "spans", "bucket") if rules or flatten
         else _pass_through(batch, "bucket"))
        .mapInArrow(_write_stage(data_path, rules, flatten), schema=from_arrow_schema(_FILE_SCHEMA))
        .collect()
    ]

    served = {os.path.join(f"bucket={f['bucket']}", f["file"]) for f in files}
    for rel in served:
        d, name = os.path.split(os.path.join(data_path, rel))
        os.rename(os.path.join(d, "." + name), os.path.join(d, name))
    for root, _dirs, names in os.walk(data_path):
        for n in names:
            if os.path.relpath(os.path.join(root, n), data_path) not in served:
                os.remove(os.path.join(root, n))
    os.makedirs(data_path, exist_ok=True)
    listed = {rel for rel, _size in _data_file_listing(out_dir, batch_id)}
    if listed != served:
        raise RuntimeError(f"batch {batch_id}'s visible data files {sorted(listed)} are not "
                           f"the {sorted(served)} its tasks wrote: another writer is in {data_path}")

    # Lineage rows: one per bucket with clean rows (the resume partition unit).
    buckets = [{"bucket": b, **_merge([f for f in files if f["bucket"] == b]),
                "run_id": run_id, "partition_id": b} for b in range(lo, hi)]
    metrics_path = os.path.join(out_dir, "metrics", f"batch={batch_id}")
    shutil.rmtree(metrics_path, ignore_errors=True)
    os.makedirs(metrics_path)
    pq.write_table(
        pa.Table.from_pylist([r for r in buckets if r["n_docs"]], schema=_METRICS_SCHEMA),
        os.path.join(metrics_path, "part-00000.parquet"),
    )
    batch = _merge(files)
    return {
        "n_errors": batch["n_errors"], "errors": batch["errors"],
        "stage_s": {k: sum(f[f"{k}_s"] for f in files) for k in ("redact", "write")},
        "n_files": len(files),
    }


def _tagged(sc, tag: str, description: str, fn, *args):
    """Run ``fn`` with every Spark job it starts carrying job tag ``tag``
    and ``description``; the thread's job group is left as it is.
    A SparkContext job tag, not a session tag: ``SparkSession.interruptTag``
    resolves a tag through the CALLING thread's own tag map, so from the
    committing thread it cancels nothing (measured on pyspark 4.1: it
    returned no operations and the tagged job ran to completion), while
    ``cancelJobsWithTag`` matches the tag wherever the job started."""
    inherited = sc.getLocalProperty("spark.job.description")
    sc.addJobTag(tag)
    sc.setJobDescription(description)
    try:
        return fn(*args)
    finally:
        sc.setJobDescription(inherited)
        sc.removeJobTag(tag)


def _cancel(sc, tag: str, fut: Future) -> None:
    """Stop an in-flight batch nobody will commit: cancel its tagged jobs
    until its materialize returns (a job it starts after one cancel meets
    the next), so no Spark work outlives the run."""
    fut.cancel()
    while not fut.done():
        sc.cancelJobsWithTag(tag)
        wait([fut], timeout=0.1)


def _run_resumable_batches(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    rules: list[Rule],
    run_id: str,
    n_buckets: int,
    buckets_per_batch: int,
    flatten: bool,
    kill_after_batches: int | None,
    lease_ttl_sec: float | None,
    lease_owner: str | None,
    storage: LedgerStorage,
    _hold_before_commit_sec: float,
) -> DataFrame:
    lease_path = storage.join(out_dir, "run.lease")
    docs = docs.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )
    config_fp = _config_fingerprint(rules, flatten, n_buckets)
    # Under the lease this read is serialized AFTER any prior holder's
    # commits — a blocked second driver sees the winner's manifests here
    # and re-processes nothing.
    done = committed_batches(out_dir)
    todo = []
    n_batches = (n_buckets + buckets_per_batch - 1) // buckets_per_batch
    for batch_id in range(n_batches):
        lo = batch_id * buckets_per_batch
        hi = min(lo + buckets_per_batch, n_buckets)
        if batch_id in done:
            _check_committed(out_dir, batch_id, lo, hi, n_buckets, config_fp)
        else:
            todo.append((batch_id, lo, hi))

    sc = spark.sparkContext
    run_tag = f"pdfredact-run-{uuid.uuid4().hex}"
    in_flight: list[tuple] = []  # (batch_id, lo, hi, tag, future), oldest first
    processed = 0

    def commit_oldest() -> None:
        nonlocal processed
        batch_id, lo, hi, _tag, fut = in_flight[0]
        fields = fut.result()
        if _hold_before_commit_sec and processed == 0:
            # drive/test hook: park ONCE before the first commit, lease
            # held, so a second real driver's blocking acquire is provable
            time.sleep(_hold_before_commit_sec)
        if lease_ttl_sec is not None:
            # The streaming micro-batch check, on the commit point: a
            # batch that outran the ttl AND lost the lease to a usurper
            # may have raced that runner's overwrite of this very batch
            # dir — committing the manifest would stamp "done" over it.
            verify_lease_still_held(storage, lease_path, lease_owner)
        _commit(
            out_dir,
            batch_id,
            {
                "run_id": run_id,
                "batch_id": batch_id,
                "buckets": list(range(lo, hi)),
                "n_buckets": n_buckets,
                "config_fp": config_fp,
                **fields,
                "data_files": _data_file_listing(out_dir, batch_id),
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
        )
        in_flight.pop(0)
        processed += 1
        if kill_after_batches is not None and processed >= kill_after_batches:
            raise KillSwitch(f"killed after {processed} batch(es)")

    # Two batches in flight: batch k+1 materializes on a worker thread
    # while the caller waits on and commits batch k, so one batch's
    # driver-side gaps and commit overlap the next one's Spark jobs.
    # Commits stay on this thread, strictly in batch order.
    with ThreadPoolExecutor(max_workers=2, thread_name_prefix="run-resumable") as pool:
        try:
            for batch_id, lo, hi in todo:
                if lease_ttl_sec is not None and not storage.renew_lease(
                    lease_path, lease_owner, lease_ttl_sec
                ):
                    # The record is gone, tombstoned, or foreign: a usurper
                    # ran (or is running) against this out_dir. Processing
                    # on would overwrite batch dirs a concurrent runner may
                    # be committing.
                    raise RuntimeError(
                        f"run lease {lease_path} was taken over before batch "
                        f"{batch_id} (owner {lease_owner}): a concurrent runner "
                        f"claimed this out_dir — this run outran lease_ttl_sec. "
                        f"Increase the ttl above the longest batch; audit the "
                        f"usurper's progress before retrying."
                    )
                tag = f"{run_tag}-batch-{batch_id}"
                # Wrapped per submission, so each batch's thread gets its
                # own copy of the caller's job group and tags: one copy
                # shared by two threads would carry one thread's per-job
                # settings (SQL execution id, batch tag and description)
                # into the other's jobs. (With py4j's pinned threads off
                # there is nothing per-thread to copy, and the wrapper
                # hands back the session itself.)
                wrap = inheritable_thread_target(spark)
                target = _tagged if wrap is spark else wrap(_tagged)
                fut = pool.submit(
                    target, sc, tag, f"run_resumable {run_id} batch {batch_id}/{n_batches}",
                    _materialize, spark, docs, out_dir,
                    batch_id, lo, hi, rules, flatten, run_id,
                )
                in_flight.append((batch_id, lo, hi, tag, fut))
                if len(in_flight) == 2:
                    commit_oldest()
            while in_flight:
                commit_oldest()
        except BaseException:
            # lease loss, a failed batch, KillSwitch: the batches still in
            # flight will never be committed — stop their writes now
            for _b, _lo, _hi, tag, fut in in_flight:
                _cancel(sc, tag, fut)
            raise

    return _read_committed(spark, out_dir, "data", _DATA_SCHEMA).where(
        F.col("error").isNull()
    ).select("doc_id", "spans", "batch", "bucket")


def _read_committed(spark: SparkSession, out_dir: str, table: str, schema: StructType) -> DataFrame:
    """The committed batches' rows of ``<out_dir>/<table>``: a crash can
    leave an uncommitted batch's files behind, which no read may serve.
    The ``batch`` filter prunes partitions at planning time; with nothing
    committed the frame is empty."""
    done = sorted(committed_batches(out_dir))
    if not done:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema).parquet(os.path.join(out_dir, table))
        .where(F.col("batch").isin(done))
    )


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Lineage rows, one per (committed batch, bucket with clean rows)."""
    return _read_committed(spark, out_dir, "metrics", _METRICS_READ_SCHEMA)


def read_errors(spark: SparkSession, out_dir: str) -> DataFrame:
    """Quarantined documents (rotation fail-fast / malformed rows) of the
    committed batches with their error messages: the ``error IS NOT NULL``
    rows of ``data/``. Fails closed on an out_dir committed under the
    two-write layout."""
    for batch_id in committed_batches(out_dir):
        _manifest(out_dir, batch_id)
    return _read_committed(spark, out_dir, "data", _DATA_SCHEMA).where(
        F.col("error").isNotNull()
    ).select("doc_id", "error")
