"""End-to-end Spark pipeline tests: the fixture corpus through the
distributed engine must produce exactly the kernel/golden span sequences
(span-sequence equality on (kind, text, media_ref, order) — the
BASELINE.json invariant), plus error routing, flatten, locate parity and
mega-doc handling.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdfredact_spark.fixtures import (
    MULTI_RULES,
    SSN_RULE,
    all_fixtures,
    corpus,
    demo_doc,
    mega_doc,
)
from pdfredact_spark.kernel import locate_document, redact_document
from pdfredact_spark.pipeline import (
    docs_to_df,
    locate_regions,
    redact,
    redact_with_hits,
    region_summary,
)


def invariant_rows(df):
    """doc_id -> [(kind, text, media_ref), ...] in offset order."""
    rows = df.collect()
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in rows
    }


def expected_invariant(fx):
    return [(s["kind"], s["text"], s["media_ref"]) for s in fx["expected"]]


def test_fixture_corpus_through_spark(spark):
    fixtures = all_fixtures()
    plain = {k: v for k, v in fixtures.items()
             if v["expected"] != "error" and not v.get("flatten")}
    # group fixtures by rule set is unnecessary — run each fixture's rules on
    # its own single-doc frame, all unioned per rule family would complicate;
    # here we run per fixture (cheap at this size).
    for fid, fx in sorted(plain.items()):
        df = docs_to_df(spark, [fx["doc"]])
        out, errs = redact(df, fx["rules"])
        assert errs.count() == 0, fid
        got = invariant_rows(out)
        assert got[fx["doc"]["doc_id"]] == expected_invariant(fx), fid


def test_rotation_error_routes_doc_out(spark):
    fx = all_fixtures()["fx-11"]
    ok = demo_doc("ok-1")
    df = docs_to_df(spark, [fx["doc"], ok])
    out, errs = redact(df, fx["rules"])
    err_rows = errs.collect()
    assert [r["doc_id"] for r in err_rows] == ["fx-11"]
    assert "rotation" in err_rows[0]["error"].lower()
    got = invariant_rows(out)
    assert set(got) == {"ok-1"}  # whole rotated doc excluded from main output


def test_flatten_mode(spark):
    fx = all_fixtures()["fx-12"]
    df = docs_to_df(spark, [fx["doc"]])
    out, errs = redact(df, fx["rules"], flatten=True)
    got = invariant_rows(out)
    assert got["fx-12"] == expected_invariant(fx)


def test_empty_rules_identity(spark):
    """P1 empty-rules guard: identity spans, zero hits, no Python stage
    in the plan — and (round-5 review) a normalized (doc_id, spans)
    schema plus NULL-spans routing, instead of the old verbatim
    `return df` that leaked extra input columns and emitted garbage
    rows as clean docs."""
    doc = demo_doc("id-1")
    df = docs_to_df(spark, [doc]).withColumn("extra", F.lit(1))
    out, errs = redact(df, [])
    assert errs.count() == 0
    assert out.columns == ["doc_id", "spans"]  # extra column dropped
    got = out.collect()[0]
    assert [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got["spans"]
    ] == [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in doc["spans"]
    ]
    # still the driver-side short-circuit: no Arrow/Python stage
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "MapInArrow" not in plan


def test_empty_rules_routes_null_spans(spark):
    """Round-5 review: the empty-rules pass-through emitted NULL-spans
    garbage rows as CLEAN docs while every other path quarantines them."""
    df = spark.createDataFrame(
        [("good", [("text", "x", "", 200_000_720)]), ("nullrow", None)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out, errs = redact(df, [])
    assert {r["doc_id"] for r in out.collect()} == {"good"}
    err = {r["doc_id"]: r["error"] for r in errs.collect()}
    assert err == {"nullrow": "ValueError: spans column is null"}


def test_mega_split_routes_null_spans_and_zeroes_errored_hits(spark):
    """Round-5 review, two mega-path parity holes: (1) a NULL-spans row
    made BOTH mega filters NULL, silently dropping the doc from both
    outputs; (2) an errored mega doc kept n_rule_hits summed from its
    successful pages while the doc-grain path reports 0."""
    from pdfredact_spark.fixtures import page_span
    from pdfredact_spark.pipeline import redact_full

    rot = mega_doc("rot-mega", n_spans=6000)  # > MEGA_SPAN_THRESHOLD
    rot["spans"][0] = page_span(1, rotation=90)  # page 1 fails fast
    nullable = (
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    docs = docs_to_df(spark, [demo_doc("ok"), rot])
    null_row = spark.createDataFrame([("nullrow", None)], nullable)
    full = redact_full(
        docs.unionByName(null_row, allowMissingColumns=False),
        [SSN_RULE],
        mega_split=True,
    )
    rows = {r["doc_id"]: r for r in full.collect()}
    assert set(rows) == {"ok", "rot-mega", "nullrow"}  # nothing dropped
    assert rows["nullrow"]["error"] == "ValueError: spans column is null"
    assert rows["rot-mega"]["error"] is not None
    assert rows["rot-mega"]["n_rule_hits"] == 0  # doc-grain parity
    assert rows["ok"]["error"] is None


def test_null_doc_id_rows_are_quarantined_on_every_path(spark):
    """A NULL doc_id row routes to the error column with spans=null and
    no hits, on every path: it used to fail the whole job (a JVM
    NullPointerException, the output schema's doc_id being non-nullable),
    and the rule-less pass-through emitted it as a clean doc. Two NULL-id
    mega docs must not merge into one row on the mega_split path, and
    locate_regions, which has no error column, names the cause."""
    from pdfredact_spark.pipeline import PLAN_SCHEMA, apply_plans_full, redact_full

    nullable = (
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    named = docs_to_df(spark, [demo_doc("ok"), mega_doc("big", n_spans=6000)])
    no_id = docs_to_df(
        spark, [demo_doc("x"), mega_doc("y", n_spans=6000), mega_doc("z", n_spans=5000)]
    ).select(F.lit(None).cast("string").alias("doc_id"), "spans")
    df = named.unionByName(no_id).unionByName(
        spark.createDataFrame([(None, None), ("null-spans", None)], nullable)
    )
    null_id = (None, 0, "ValueError: doc_id is null")
    null_spans = "ValueError: spans column is null"
    plans = spark.createDataFrame([], PLAN_SCHEMA)
    for full in (
        redact_full(df, [SSN_RULE]),
        redact_full(df, [SSN_RULE], mega_split=True),
        redact_full(df, [SSN_RULE], num_partitions=3),
        redact_full(df, []),
        apply_plans_full(df, plans),
    ):
        rows = full.collect()
        assert [
            (r["spans"], r["n_rule_hits"], r["error"]) for r in rows if r["doc_id"] is None
        ] == [null_id] * 4
        named_rows = {r["doc_id"]: r for r in rows if r["doc_id"] is not None}
        assert {d: r["error"] for d, r in named_rows.items()} == {
            "ok": None, "big": None, "null-spans": null_spans}
        assert named_rows["ok"]["spans"] and named_rows["big"]["spans"]
    with pytest.raises(Exception, match="ValueError: doc_id is null"):
        locate_regions(no_id, [SSN_RULE]).collect()


def test_mega_page_apply_quarantines_garbage(spark):
    """Round-5 review: the per-page mega redactor caught only
    RotationError — any other kernel exception from one garbage mega doc
    failed its task and, after retries, the whole job. It must route
    like the doc-grain path."""
    import pyarrow as pa

    from pdfredact_spark.pipeline import _make_page_apply

    fn = _make_page_apply([SSN_RULE], flatten=False)
    tbl = pa.table(
        {
            "doc_id": ["bad"],
            "band": [1],
            "kind": ["page"],
            "text": ["<page>:not-a-number"],
            "media_ref": [""],
            "offset": [200_000_000],
        }
    )
    out = fn(tbl)
    assert out.column("kind").to_pylist() == ["__error__"]
    assert "ValueError" in out.column("text").to_pylist()[0]


def test_locate_regions_matches_kernel(spark):
    docs = [demo_doc("ld-1"), demo_doc("ld-2")]
    df = docs_to_df(spark, docs)
    got = locate_regions(df, MULTI_RULES).collect()
    expected = []
    for d in docs:
        for r in locate_document(d["doc_id"], d["spans"], MULTI_RULES):
            expected.append(
                (d["doc_id"], r.page, r.x, r.y, r.width, r.height,
                 r.matched_text, r.rule_pattern, r.rotation)
            )
    got_t = sorted(
        (g["doc_id"], g["page"], g["x"], g["y"], g["width"], g["height"],
         g["matched_text"], g["rule_pattern"], g["page_rotation"])
        for g in got
    )
    assert got_t == sorted(expected)

    # per-page summary (console sink analog)
    summary = {(r["doc_id"], r["page"]): r["n_redactions"]
               for r in region_summary(locate_regions(df, MULTI_RULES)).collect()}
    assert summary[("ld-1", 1)] == 3  # SSN + CC + email on page 1
    assert summary[("ld-1", 2)] == 1


def test_corpus_matches_kernel_and_metrics(spark):
    docs = corpus(40, mega_every=0)
    df = docs_to_df(spark, docs)
    out, errs = redact_with_hits(df, [SSN_RULE])
    assert errs.count() == 0
    got = invariant_rows(out)
    hits = {r["doc_id"]: r["n_rule_hits"] for r in out.collect()}
    for d in docs:
        exp, _, n = redact_document(d["doc_id"], d["spans"], [SSN_RULE])
        assert got[d["doc_id"]] == [(s["kind"], s["text"], s["media_ref"]) for s in exp], d["doc_id"]
        assert hits[d["doc_id"]] == n


def test_mega_doc_through_spark(spark):
    """Skew probe: both the default (inline) and the page-fan-out
    (mega_split) paths produce exactly the kernel's span sequences."""
    docs = [mega_doc("mega-1", n_spans=12_000), demo_doc("small-1")]
    df = docs_to_df(spark, docs)
    expected = {}
    for d in docs:
        exp, _, _ = redact_document(d["doc_id"], d["spans"], [SSN_RULE])
        expected[d["doc_id"]] = [(s["kind"], s["text"], s["media_ref"]) for s in exp]

    for mega_split in (False, True):
        out, _ = redact(df, [SSN_RULE], mega_split=mega_split)
        got = invariant_rows(out)
        assert got == expected, f"mega_split={mega_split}"
    # the mega doc's work really was split across >1 page group
    n_bands = (
        df.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("doc_id") == "mega-1")
        .select(F.expr("s.offset div 200000000").alias("b"))
        .distinct()
        .count()
    )
    assert n_bands >= 2


def test_malformed_doc_routes_to_errors(spark):
    """Garbage rows (bad page marker) must route to the error output, not
    kill the job — a 10^12-doc corpus will contain them."""
    bad = {
        "doc_id": "bad-1",
        "spans": [
            {"kind": "page", "text": "<page>:not-a-number", "media_ref": "", "offset": 200_000_000},
            {"kind": "text", "text": "SSN: 123-45-6789", "media_ref": "", "offset": 200_000_720},
        ],
    }
    ok = demo_doc("ok-2")
    out, errs = redact(docs_to_df(spark, [bad, ok]), [SSN_RULE])
    err_rows = {r["doc_id"]: r["error"] for r in errs.collect()}
    assert set(err_rows) == {"bad-1"}
    assert "ValueError" in err_rows["bad-1"]
    assert set(invariant_rows(out)) == {"ok-2"}


def test_large_random_differential_vs_kernel(spark):
    """Differential test at a larger scale than the fixtures: 300 random
    docs (seeded), multi-rule set, distributed output must equal the pure
    kernel doc-for-doc."""
    import random

    from pdfredact_spark.fixtures import page_span, text_span

    rng = random.Random(1234)
    vocab = ["alpha", "beta", "123-45-6789", "Email:", "x-9", "CONFIDENTIAL",
             "987-65-4321", "4532-1234-5678-9010", "zzz", "a"]
    docs = []
    for i in range(300):
        spans = [page_span(1)]
        for r in range(rng.randint(1, 8)):
            line = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10)))
            spans.append(text_span(1, r, 72.0, line))
        if rng.random() < 0.3:
            spans.append(page_span(2))
            spans.append(text_span(2, 0, 72.0, " ".join(rng.choice(vocab) for _ in range(5))))
        docs.append({"doc_id": f"rd{i:05d}", "spans": spans})

    out, errs = redact(docs_to_df(spark, docs), MULTI_RULES)
    assert errs.count() == 0
    got = invariant_rows(out)
    for d in docs:
        exp, _, _ = redact_document(d["doc_id"], d["spans"], MULTI_RULES)
        assert got[d["doc_id"]] == [(s["kind"], s["text"], s["media_ref"]) for s in exp], d["doc_id"]


def test_input_shape_does_not_change_output(spark, tmp_path):
    """One parquet directory mixing every file layout a document table
    can arrive in must redact exactly like the same documents held in
    memory: the JVM scan matches columns and nested span fields by name,
    so the Arrow stage sees one batch shape whatever the writer did.

    Files: five DOC_SCHEMA files (mega docs and a rotation-error doc), a
    nullable-schema file holding a NULL-spans row, a file storing its
    top-level columns reversed, and a pyarrow-written file whose span
    struct stores its fields as (text, kind, media_ref, offset)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfredact_spark.model import DOC_SCHEMA
    from pdfredact_spark.pipeline import redact_full

    def renamed(prefix, ds):
        return [{"doc_id": f"{prefix}{d['doc_id']}", "spans": d["spans"]} for d in ds]

    main = corpus(60, mega_every=25) + [demo_doc("rot-err", rotation_page1=90)]
    rev = renamed("rev-", corpus(8))
    nested = renamed("nest-", corpus(8)) + [demo_doc("nest-rot", rotation_page1=90)]
    p = str(tmp_path / "corpus")

    docs_to_df(spark, main).repartition(5).write.parquet(p)
    null_df = spark.createDataFrame(
        [("null-spans", None)],
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    null_df.coalesce(1).write.mode("append").parquet(p)
    docs_to_df(spark, rev).select("spans", "doc_id").coalesce(1).write.mode(
        "append"
    ).parquet(p)
    span_t = pa.struct([
        ("text", pa.string()), ("kind", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ])
    pq.write_table(
        pa.table(
            {
                "doc_id": [d["doc_id"] for d in nested],
                "spans": pa.array(
                    [d["spans"] for d in nested], type=pa.list_(span_t)
                ),
            }
        ),
        f"{p}/part-nested-order.parquet",
    )
    scan_df = spark.read.schema(DOC_SCHEMA).parquet(p)
    assert len(scan_df.inputFiles()) == 8

    def key(rows):
        return {
            r["doc_id"]: (r["spans"], r["n_rule_hits"], r["error"])
            for r in rows
        }

    mem_df = docs_to_df(spark, main + rev + nested).unionByName(null_df)
    got_rows = redact_full(scan_df, [SSN_RULE]).collect()
    got = key(got_rows)
    want = key(redact_full(mem_df, [SSN_RULE]).collect())
    assert len(got_rows) == len(want) == len(main) + len(rev) + len(nested) + 1
    assert got == want
    for d in ("rev-d000000003", "nest-d000000003"):
        assert got[d][1] > 0 and got[d][2] is None, d
    for d in ("rot-err", "nest-rot"):
        assert got[d][2] is not None and "rotation" in got[d][2].lower(), d
    assert got["null-spans"] == (None, 0, "ValueError: spans column is null")
