"""Per-layer measurements, taken from outside: each times calls into one
``pdfredact_spark`` module's public functions. Only the traced run uses
these.
"""

from __future__ import annotations

import os
import time

from harness import Tracer, job_group, median


# --------------------------------------------------------------------------
# catalog: an instrumented LedgerStorage passed through ``storage=``
# --------------------------------------------------------------------------
def counting_storage():
    from pdfredact_spark.catalog import LedgerStorage

    class CountingStorage(LedgerStorage):
        """Counts and times the lease operations (acquire, renew, release,
        and the lease reads of the post-commit ownership check)."""

        def __init__(self):
            self.reset()

        def reset(self) -> None:
            self.ops = 0
            self.busy_s = 0.0
            self.failed = 0
            self._depth = 0

        def _timed(self, fn, *args):
            if self._depth:  # a read inside acquire/renew/release
                return fn(*args)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args)
            finally:
                self._depth -= 1
                self.ops += 1
                self.busy_s += time.perf_counter() - t0

        def try_acquire_lease(self, path, owner, ttl_sec):
            ok = self._timed(super().try_acquire_lease, path, owner, ttl_sec)
            self.failed += not ok
            return ok

        def renew_lease(self, path, owner, ttl_sec):
            ok = self._timed(super().renew_lease, path, owner, ttl_sec)
            self.failed += not ok
            return ok

        def release_lease(self, path, owner):
            return self._timed(super().release_lease, path, owner)

        def read_json(self, path):
            if path.endswith(".lease"):
                return self._timed(super().read_json, path)
            return super().read_json(path)

    return CountingStorage()


# --------------------------------------------------------------------------
# kernel: single-thread, in-process, on the generator's prototype docs
# --------------------------------------------------------------------------
def _per_call_s(fn, min_s: float = 0.3, min_reps: int = 3) -> float:
    times = []
    t_end = time.perf_counter() + min_s
    while len(times) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def kernel_sweep(rules: list, tracer: Tracer) -> dict:
    """``kernel.redact_us_per_doc`` at R = 1, 10, 50 (prefixes of one rule
    list) over the 7 digit-permutation prototypes of the bulk shape, plus
    the mega doc and locate-only."""
    from inputs import BULK_LINES_MULT
    from pdfredact_spark.fixtures import corpus_doc, mega_doc
    from pdfredact_spark.kernel import (
        cols_from_spans, locate_document_cols, redact_document_cols,
    )

    protos = [corpus_doc(j, BULK_LINES_MULT) for j in range(7)]
    cols = [(d["doc_id"], cols_from_spans(d["spans"])) for d in protos]

    def redact_all(rs):
        return [redact_document_cols(i, k, t, r, o, rs)[5] for i, (k, t, r, o) in cols]

    out = {}
    with tracer.span("kernel.sweep"):
        for n in (1, 10, 50):
            rs = rules[:n]
            out[f"kernel.redact_us_per_doc.r{n}"] = (
                _per_call_s(lambda: redact_all(rs)) / len(cols) * 1e6)
            if n in (1, 10):
                out[f"kernel.hits_per_doc.r{n}"] = sum(redact_all(rs)) / len(cols)
        out["kernel.locate_us_per_doc.r1"] = _per_call_s(
            lambda: [locate_document_cols(i, k, t, o, rules[:1]) for i, (k, t, _r, o) in cols]
        ) / len(cols) * 1e6
        m = mega_doc("d000002000")
        mk, mt, mr, mo = cols_from_spans(m["spans"])
        out["kernel.redact_ms_per_mega_doc"] = _per_call_s(
            lambda: redact_document_cols(m["doc_id"], mk, mt, mr, mo, rules[:1]),
            min_s=0.0,
        ) * 1e3
    return out


# --------------------------------------------------------------------------
# pipeline: the redaction leg split from outside, tools/profile_redact_leg.py
# style, plus the JVM-scan twin of the redact-to-noop job
# --------------------------------------------------------------------------
def pipeline_decomposition(spark, corpus: str, rules: list, out_path: str,
                           tracer: Tracer) -> dict:
    """Runs after the workload's timed ops, so every job here is warm."""
    from pdfredact_spark.pipeline import redact

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def ident(batches):
        yield from batches

    def timed(name, fn):
        with job_group(spark, f"probe-{name}"), tracer.span(f"pipeline.{name}"):
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

    def jvm_scan_noop():
        prev = os.environ.get("PDFREDACT_PYREAD")
        os.environ["PDFREDACT_PYREAD"] = "0"  # planning-time switch: JVM scan
        try:
            noop(redact(df, rules)[0])
        finally:
            if prev is None:
                os.environ.pop("PDFREDACT_PYREAD")
            else:
                os.environ["PDFREDACT_PYREAD"] = prev

    df = spark.read.parquet(corpus)
    scan = timed("scan", lambda: noop(df))
    identity = timed("identity", lambda: noop(df.mapInArrow(ident, schema=df.schema)))
    # the pyarrow-scan / JVM-scan pair runs twice, interleaved, keeping each
    # one's faster run, so neither carries the other's first-use cost
    pyread, jvm = [], []
    for _ in range(2):
        pyread.append(timed("redact_noop", lambda: noop(redact(df, rules)[0])))
        jvm.append(timed("redact_noop_jvmscan", jvm_scan_noop))
    redact_noop, jvm_noop = min(pyread), min(jvm)
    parquet_s = timed("redact_parquet", lambda: redact(df, rules)[0]
                      .write.mode("overwrite").parquet(out_path))
    return {
        "pipeline.scan_s": scan,
        "pipeline.boundary_s": identity - scan,
        "pipeline.redact_noop_s": redact_noop,
        "pipeline.redact_noop_jvmscan_s": jvm_noop,
        "pipeline.write_s": parquet_s - redact_noop,
    }


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# --------------------------------------------------------------------------
# streaming: three availableNow waves into a leased dedup_stream, with an
# explicit compact_ledger between waves
# --------------------------------------------------------------------------
def streaming_probe(spark, root: str, work: str, tracer: Tracer) -> tuple[dict, list[str]]:
    """The waves come from tools/soak_stream.py's generator, at a small
    size; they do not depend on the seed."""
    import sys

    from inputs import STREAM_DOCS_PER_WAVE, STREAM_WAVES, stream_distinct_texts
    from pdfredact_spark.streaming import compact_ledger, dedup_stream

    sys.path.insert(0, os.path.join(root, "tools"))
    from soak_stream import _gen_doc_wave

    in_dir = os.path.join(work, "stream-in")
    out_dir = os.path.join(work, "stream-out")
    storage = counting_storage()
    out: dict = {}
    rows_read = 0
    drains = []
    compact_s = 0.0
    with tracer.span("streaming.waves"):
        for w in range(STREAM_WAVES):
            with job_group(spark, f"stream-input-{w}"):
                _gen_doc_wave(spark, in_dir, w, STREAM_DOCS_PER_WAVE)
            batches: list = []
            with job_group(spark, f"stream-drain-{w}"), tracer.span("streaming.drain", wave=w):
                t0 = time.perf_counter()
                dedup_stream(spark, in_dir, out_dir, metrics=batches,
                             storage=storage, lease_ttl_sec=600.0)
                drains.append(time.perf_counter() - t0)
            rows_read += sum(b.get("compacted_rows_read", 0) for b in batches)
            if w + 1 < STREAM_WAVES:
                with job_group(spark, f"stream-compact-{w}"), tracer.span("streaming.compact"):
                    t0 = time.perf_counter()
                    compact_ledger(spark, out_dir, storage=storage, lease_ttl_sec=600.0)
                    compact_s += time.perf_counter() - t0
    emitted = spark.read.parquet(os.path.join(out_dir, "data")).count()
    expected = stream_distinct_texts()
    for w, s in enumerate(drains):
        out[f"streaming.drain_s.w{w}"] = s
    out.update({
        "streaming.docs_per_s": STREAM_WAVES * STREAM_DOCS_PER_WAVE / sum(drains),
        "streaming.compact_s": compact_s,
        "streaming.compacted_rows_read": rows_read,
        "streaming.ledger_bytes": storage.parquet_bytes_under([
            os.path.join(out_dir, "ledger"), os.path.join(out_dir, "ledger_compacted")]),
        "streaming.emitted_docs": emitted,
        "streaming.lease_ops": storage.ops,
        "streaming.lease_s": storage.busy_s,
    })
    problems = [] if emitted == expected else [
        f"dedup_stream emitted {emitted} docs, expected {expected}"]
    return out, problems
