"""Self-test of the benchmark's own accounting: a clean redact_bulk op must
pass its check, and the same op with one output document corrupted (one
mask span dropped) must be counted as failed. Also checks that
BENCHMARK.json names exactly the metrics run.py prints.

    python3 perfbench/run.py --self-test
"""

from __future__ import annotations

import glob
import json
import os
import shutil


def _drop_one_mask(out_dir: str) -> str:
    """Rewrite one output file with the first masked doc's first mask span
    removed. Returns that doc's id."""
    import pyarrow.parquet as pq

    for path in sorted(glob.glob(os.path.join(out_dir, "part-*.parquet"))):
        table = pq.read_table(path)
        rows = table.to_pylist()
        for row in rows:
            masks = [s for s in row["spans"] if s["kind"] == "mask"]
            if masks:
                row["spans"].remove(masks[0])
                pq.write_table(table.from_pylist(rows, schema=table.schema), path)
                crc = os.path.join(out_dir, f".{os.path.basename(path)}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                return row["doc_id"]
    raise RuntimeError(f"no masked document under {out_dir}")


def check_benchmark_json(root: str) -> list[str]:
    import run

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    e2e = {m["name"] for m in spec["end_to_end"]}
    if e2e != set(run.END_TO_END_UNITS):
        problems.append(f"end_to_end names {sorted(e2e ^ set(run.END_TO_END_UNITS))} differ")
    layer = {m["name"] for m in spec["per_layer"]}
    if layer != set(run.PER_LAYER_UNITS):
        problems.append(f"per_layer names {sorted(layer ^ set(run.PER_LAYER_UNITS))} differ")
    for m in spec["end_to_end"] + spec["per_layer"]:
        want = {**run.END_TO_END_UNITS, **run.PER_LAYER_UNITS}.get(m["name"])
        if want is not None and m["unit"] != want:
            problems.append(f"{m['name']}: unit {m['unit']} in BENCHMARK.json, {want} printed")
    return problems


def main(root: str) -> int:
    import harness
    import run
    from pdfredact_spark.catalog import LedgerStorage
    from workloads import RedactBulk

    problems = check_benchmark_json(root)

    class Corrupting(RedactBulk):
        corrupt = False

        def op(self, spark, k, storage):
            dt = super().op(spark, k, storage)
            if self.corrupt:
                self.corrupted = _drop_one_mask(self.out)
            return dt

    work = os.path.join(root, ".perfbench", f"selftest-{os.getpid()}")
    run.prepare_environment(work)
    tracer = harness.Tracer(enabled=False)
    wl = Corrupting(root, work, 0, tracer)
    try:
        wl.make_inputs()
        spark, _, _ = harness.start_session(run.MASTER, run.session_conf(work), tracer, "selftest")
        storage = LedgerStorage()
        ok_loop = run.run_loop(wl, spark, 0, storage, "clean", tracer)
        wl.corrupt = True
        bad_loop = run.run_loop(wl, spark, 0, storage, "corrupt", tracer)
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if (ok_loop["attempted"], ok_loop["failed"]) != (1, 0):
        problems.append(f"clean op not counted as passed: {ok_loop}")
    if (bad_loop["attempted"], bad_loop["failed"]) != (1, 1):
        problems.append(f"corrupted op not counted as failed: {bad_loop}")
    print(json.dumps({"clean": ok_loop, "corrupted": bad_loop,
                      "corrupted_doc": getattr(wl, "corrupted", None),
                      "problems": problems}))
    print("SELF-TEST " + ("OK" if not problems else "FAILED"))
    return 0 if not problems else 1
