"""Seeded input generation. The program under test sees only what these
functions write; the same seed always writes the same bytes.

Document content comes from ``pdfredact_spark.fixtures`` (the generator
the graded bench uses), so a doc's text depends only on its index mod 7
and the seed only shifts the index range: sizes and mix stay fixed.
"""

from __future__ import annotations

import os
import random

# bench.py's redaction shape: page fill and one 20k-span mega doc per 2000.
# Small, so a run times several ops; 8 files give 4 task waves per op on
# 2 slots, and each task carries ~0.4 s of fixed cost (scan, Arrow
# boundary, write) beside its documents.
BULK_DOCS = 2_000
BULK_LINES_MULT = 5
MEGA_EVERY = 2000
BULK_FILES = 8

RESUME_DOCS = 2_000
RESUME_ROTATED = 20  # rotation-error docs: quarantined, never clean
RESUME_FILES = 2  # one per core: a task each per batch scan

# the seed picks a window of this many index ranges; kept small enough
# that doc ids stay 9 digits
_SEED_WINDOWS = 10_000


def index_range(seed: int, n: int) -> range:
    """Docs ``[lo, lo + n)``. ``lo`` is 1 mod MEGA_EVERY, so every seed sees
    exactly ``n // MEGA_EVERY`` mega docs."""
    lo = 1 + (seed % _SEED_WINDOWS) * n
    return range(lo, lo + n)


def doc_arrow_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdfredact_spark.model import DOC_SCHEMA

    return to_arrow_schema(DOC_SCHEMA)


def bulk_doc(i: int) -> dict:
    from pdfredact_spark.fixtures import corpus_doc, mega_doc

    if i % MEGA_EVERY == 0:
        return mega_doc(f"d{i:09d}")
    return corpus_doc(i, BULK_LINES_MULT)


def rotated_indices(seed: int, idx: range) -> set[int]:
    return set(random.Random(seed).sample(idx, RESUME_ROTATED))


def resume_doc(i: int, rotated: set[int]) -> dict:
    from pdfredact_spark.fixtures import corpus_doc, demo_doc

    if i in rotated:
        return demo_doc(f"d{i:09d}", rotation_page1=90)
    return corpus_doc(i, 1)


def write_docs(out_dir: str, docs: list[dict], n_files: int) -> int:
    """Write span documents as ``n_files`` bare parquet files (the layout
    ``spark.read.parquet(dir)`` hands the pipeline). Returns bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(docs, schema=doc_arrow_schema())
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // n_files)
    total = 0
    for k in range(n_files):
        path = os.path.join(out_dir, f"part-{k:04d}.parquet")
        pq.write_table(table.slice(k * per, per), path)
        total += os.path.getsize(path)
    return total


# --------------------------------------------------------------------------
# Streaming waves: tools/soak_stream._gen_doc_wave writes them. The dup
# slice (j % 5 == 0) of every later wave repeats wave 0's text for the
# same j; every other row is unique.
# --------------------------------------------------------------------------
STREAM_WAVES = 3
STREAM_DOCS_PER_WAVE = 5_000


def stream_distinct_texts(waves: int = STREAM_WAVES, d: int = STREAM_DOCS_PER_WAVE) -> int:
    """W·(D − ⌈D/5⌉) + ⌈D/5⌉: the dup slots are shared by all waves."""
    dup = -(-d // 5)
    return waves * (d - dup) + dup
