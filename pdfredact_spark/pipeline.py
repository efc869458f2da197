"""The distributed redaction pipeline (SURVEY.md §3.4 lifecycle).

Plan shape, arrived at by measurement (see BENCH/BASELINE.md):

DEFAULT (zero-shuffle): every input row is already a complete document, so
the fused locate+apply runs as

    parquet scan -> mapInArrow doc-batch redactor -> sink

one narrow, fully pipelined stage: no shuffle, no reassembly (the kernel
emits finished offset-sorted span sequences per doc), no per-group Python
call overhead (one call per Arrow batch of docs), and no pandas block
conversion on either edge — the kernel consumes the Arrow child arrays as
flat parallel lists (kinds/texts/refs/offsets) and its output lists become
Arrow child arrays directly. Every input (a parquet table, a filtered or
an in-memory frame) reaches the stage the same way: Spark's own scan
feeds ``mapInArrow``. Its parquet reader matches columns and nested span
fields by name, so the kernel sees one batch shape whatever the file
layout. Parallelism comes from input splits — keep the table written
with enough files/row-groups (corpus generation uses 128 partitions). A
mega document runs inside one task (pages loop in the kernel); the int32
offset encoding bounds a doc at ~100k spans, bounding the straggler.

MEGA-SPLIT option (``mega_split=True``) for corpora with pathological
giants: oversized docs explode to flat spans and fan out per PAGE (offset
band) — reference semantics are strictly per-page
(PdfPigTextLocator.cs:45-49), so pages are independent — then reassemble
per doc with a JVM-side collect_list + array_sort. Costs a second scan of
the input plus two shuffles for the mega slice, so it is opt-in.

Error routing (rotation fail-fast parity, PdfSharpMaskApplicator.cs:95-102)
is carried as an ``error`` column computed in the same pass — callers split
good/error rows with a filter instead of an anti-join, so the expensive
Python stage is never computed twice. Callers that consume BOTH outputs
should materialize ``redact_full`` once (checkpoint.run_resumable writes
every row once and derives both views from the files).

Zero row-at-a-time Python anywhere; rules are per-job config closed over
by the UDF (the docs x rules cartesian with the tiny side broadcast,
SURVEY.md J1).
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdfredact_spark.kernel import (
    RotationError,
    locate_document_cols,
    redact_document_cols,
)
from pdfredact_spark.model import (
    DOC_SCHEMA,
    PAGE_BASE,
    REGION_SCHEMA,
    SPAN_STRUCT,
    Rule,
)
from pdfredact_spark.spanmodel import DECI, ROW_BASE

#: docs with more spans than this take the page-parallel mega path
MEGA_SPAN_THRESHOLD = 4096

REDACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), True),
        StructField("spans", ArrayType(SPAN_STRUCT, False), True),
        StructField("n_rule_hits", LongType(), False),
        StructField("error", StringType(), True),
    ]
)

_FLAT_PAGE_OUT = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("n_hits", IntegerType(), False),
    ]
)

_REGION_STRUCT = StructType([f for f in REGION_SCHEMA.fields if f.name != "doc_id"])


def docs_to_df(spark: SparkSession, docs: list[dict]) -> DataFrame:
    return spark.createDataFrame(docs, schema=DOC_SCHEMA)


def _span_batch_cols(rb, with_refs: bool = True):
    """Decompose an Arrow record batch's (doc_id, spans) into flat parallel
    child arrays + per-doc offset ranges — NO per-span Python dicts and no
    pandas block conversion (measured ~2.7s of a 5.5s noop at local[8] on
    the 100k corpus; BENCH/BASELINE.md round-2 lever #1).

    ``ListArray.offsets`` are absolute indices into ``.values`` even for
    sliced arrays, so (offsets[i], offsets[i+1]) ranges stay correct.

    ``valid[i]`` is False for rows whose doc_id or spans column is NULL
    (reachable through externally-written parquet with a nullable schema)
    — callers must route those, never treat them as empty docs; it is
    computed batch-wide, so the per-doc loop does no extra work for it.
    ``with_refs=False`` skips the media_ref conversion for locate-only
    callers.

    Also derives the per-span offset geometry (bands, rows, x0s) batch-wide
    with numpy — int/float math the kernel would otherwise redo per span in
    Python (_offset_geom was ~5% of the fused kernel's time)."""
    doc_col = rb.column(rb.schema.get_field_index("doc_id"))
    doc_ids = doc_col.to_pylist()
    spans_col = rb.column(rb.schema.get_field_index("spans"))
    valid = pc.and_(doc_col.is_valid(), spans_col.is_valid()).to_pylist()
    bounds = spans_col.offsets.to_pylist()
    flat = spans_col.values
    # A sliced ListArray's .values is the FULL underlying buffer; trim to
    # this batch's range or to_pylist() converts the whole parent array
    # (measured 3x redundant conversion on re-batched tables). Null rows
    # may surface as None offsets — trim from the non-null envelope.
    present = [x for x in bounds if x is not None]
    base, end = (present[0], present[-1]) if present else (0, 0)
    if base != 0 or end != len(flat):
        flat = flat.slice(base, end - base)
        bounds = [None if x is None else x - base for x in bounds]
    kinds = _decode_lowcard(flat.field("kind"))
    text_arr = flat.field("text")
    texts = text_arr.to_pylist()
    refs = _decode_lowcard(flat.field("media_ref")) if with_refs else None
    off_arr = flat.field("offset")
    offs = off_arr.to_pylist()
    if off_arr.null_count:
        # A null offset inside a span must keep raising TypeError in the
        # kernel (per-doc error routing) — skip the vectorized geometry
        # so the doc takes the same fallback computation and error path.
        geom = (None, None, None, None)
    else:
        off_np = off_arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        rem = off_np % PAGE_BASE
        bands = (off_np // PAGE_BASE).tolist()
        rows = (rem // ROW_BASE).tolist()
        # NOTE: / DECI (true division), not * 0.1 — bit-identical to
        # _offset_geom's x0 so the fast/general path equivalence holds.
        x0s = ((rem % ROW_BASE) / DECI).tolist()
        # Vectorized conservative clean-span prefilter (RE2): flags any
        # char outside printable ASCII OR a leading/double/trailing space.
        # A span with NO flag is provably "regular" under the kernel's
        # _NONREG_RE (strict superset: every Python-whitespace oddity is
        # non-printable-ASCII), so the kernel skips its per-span re.search.
        # Flagged spans (incl. any non-ASCII text) take the exact Python
        # checks — behavior unchanged, just not vectorized.
        try:
            clean = pc.invert(
                pc.match_substring_regex(text_arr, "[^ -~]|^ |  | $")
            ).to_pylist()
        except pa.ArrowInvalid:
            clean = None
        geom = (bands, rows, x0s, clean)
    return doc_ids, valid, bounds, kinds, texts, refs, offs, geom


def _decode_lowcard(arr) -> list:
    """to_pylist for a low-cardinality string child array via dictionary
    encoding: one Python object per DISTINCT value instead of per element
    (span kinds are 4 constants; media_refs are mostly ''). Shared objects
    also make the kernel's kind comparisons pointer-equal. Falls back to a
    plain to_pylist when encoding is not applicable."""
    try:
        d = arr.dictionary_encode()
    except pa.ArrowInvalid:
        return arr.to_pylist()
    vals = d.dictionary.to_pylist()
    if len(vals) <= 16:
        # intern the handful of distinct values (span kinds) so kernel
        # comparisons against literal constants hit the identity fast path
        vals = [sys.intern(v) if isinstance(v, str) else v for v in vals]
    idx = d.indices.to_numpy(zero_copy_only=False)
    if d.indices.null_count:
        il = d.indices.to_pylist()
        return [None if i is None else vals[i] for i in il]
    return [vals[i] for i in idx.tolist()]


#: the error of a row quarantined before any kernel call
_NULL_ID = "ValueError: doc_id is null"
_NULL_SPANS = "ValueError: spans column is null"


def _check_span_fields(kinds: list, refs: list) -> None:
    """Raise for a NULL span kind or media_ref in a doc's output: the
    output's span struct cannot hold one, so it would fail the whole job
    in the JVM instead of quarantining the doc."""
    if None in kinds or None in refs:
        raise ValueError("span kind or media_ref is null")


def _run_doc_batch(doc_ids, valid, bounds, per_doc):
    """Shared error-routing batch driver for every doc-grain Arrow stage
    (round-5 review: the fused-redact and plan-apply closures carried
    near-verbatim copies of this accumulation loop; a routing fix applied
    to one silently missed the other). ``per_doc(i, doc_id, a, b)``
    returns the doc's (kinds, texts, refs, offsets, n_hits); raising
    routes the doc to the error column — RotationError keeps the bare
    reference message, anything else is prefixed with its type (a
    10^12-doc corpus WILL contain garbage rows; route them, never fail
    the job). NULL-id and NULL-spans rows (valid[i] False) are routed up
    front, never emitted as cleanly-redacted empty documents. Returns the
    flat output arrays + per-row starts (None start = null spans) ready
    for _build_redacted_batch."""
    out_k: list = []
    out_t: list = []
    out_r: list = []
    out_o: list = []
    # per-row list-start offsets; None marks a null (errored) row —
    # pyarrow's null-offset convention for ListArray.from_arrays
    starts: list = []
    hits: list = []
    errs: list = []
    for i, d in enumerate(doc_ids):
        if not valid[i]:
            starts.append(None)
            hits.append(0)
            errs.append(_NULL_SPANS if d is not None else _NULL_ID)
            continue
        a, b = bounds[i], bounds[i + 1]
        try:
            k, t, r, o, h = per_doc(i, d, a, b)
            _check_span_fields(k, r)
            starts.append(len(out_k))
            out_k += k
            out_t += t
            out_r += r
            out_o += o
            hits.append(h)
            errs.append(None)
        except RotationError as e:
            starts.append(None)
            hits.append(0)
            errs.append(str(e))
        except Exception as e:  # noqa: BLE001 — malformed documents
            starts.append(None)
            hits.append(0)
            errs.append(f"{type(e).__name__}: {e}")
    starts.append(len(out_k))
    return out_k, out_t, out_r, out_o, starts, hits, errs


def _make_doc_map_arrow(rules: list[Rule], flatten: bool):
    """Doc-batch redactor over raw Arrow batches: one Python call per batch
    of complete documents, kernel fed with flat parallel arrays and output
    rebuilt as Arrow child arrays directly."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            (doc_ids, valid, bounds, kinds, texts, refs, offs,
             (bands, rows, x0s, clean)) = _span_batch_cols(rb)

            def per_doc(i, d, a, b):
                g = (
                    (bands[a:b], rows[a:b], x0s[a:b],
                     clean[a:b] if clean is not None else None)
                    if bands is not None else None
                )
                k, t, r, o, _, h = redact_document_cols(
                    d, kinds[a:b], texts[a:b], refs[a:b], offs[a:b],
                    rules, flatten=flatten, geom=g,
                )
                return k, t, r, o, h

            yield _build_redacted_batch(
                doc_ids, *_run_doc_batch(doc_ids, valid, bounds, per_doc)
            )

    return fn


def _pass_through(df: DataFrame, *keep: str) -> DataFrame:
    """The rule-less, non-flatten redaction: spans as they are, zero hits,
    but NULL-id and NULL-spans garbage rows still route to the error
    column, as on every other path. The ``keep`` columns ride along."""
    no_id = F.col("doc_id").isNull()
    return df.select(
        "doc_id",
        F.when(~no_id, F.col("spans")).alias("spans"),
        F.lit(0).cast("long").alias("n_rule_hits"),
        F.when(no_id, F.lit(_NULL_ID))
        .when(F.col("spans").isNull(), F.lit(_NULL_SPANS))
        .cast("string").alias("error"),
        *keep,
    )


def _build_redacted_batch(doc_ids, out_k, out_t, out_r, out_o, starts, hits, errs):
    """Assemble a REDACTED_SCHEMA Arrow batch from flat output arrays +
    per-row list starts (None start = null spans for that errored row)."""
    struct = pa.StructArray.from_arrays(
        [
            pa.array(out_k, type=pa.string()),
            pa.array(out_t, type=pa.string()),
            pa.array(out_r, type=pa.string()),
            pa.array(out_o, type=pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans_arr = pa.ListArray.from_arrays(pa.array(starts, type=pa.int32()), struct)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, type=pa.string()),
            spans_arr,
            pa.array(hits, type=pa.int64()),
            pa.array(errs, type=pa.string()),
        ],
        names=["doc_id", "spans", "n_rule_hits", "error"],
    )


def _make_page_apply(rules: list[Rule], flatten: bool):
    """Page-grain redactor for mega docs (applyInArrow per (doc, band)):
    the group's flat rows feed the columnar kernel directly, no pandas."""

    def fn(tbl: pa.Table) -> pa.Table:
        doc_id = tbl.column("doc_id")[0].as_py()
        kinds = tbl.column("kind").to_pylist()
        texts = tbl.column("text").to_pylist()
        refs = tbl.column("media_ref").to_pylist()
        offs = tbl.column("offset").to_pylist()
        try:
            k, t, r, o, _, h = redact_document_cols(
                doc_id, kinds, texts, refs, offs, rules, flatten=flatten
            )
            _check_span_fields(k, r)
        except Exception as e:  # noqa: BLE001 — malformed mega docs too
            # Same routing contract as the doc-grain path (round-5
            # review: catching only RotationError let one garbage MEGA
            # doc fail its task and, after retries, the whole job).
            msg = str(e) if isinstance(e, RotationError) else f"{type(e).__name__}: {e}"
            return pa.table(
                {
                    "doc_id": pa.array([doc_id], type=pa.string()),
                    "kind": pa.array(["__error__"], type=pa.string()),
                    "text": pa.array([msg], type=pa.string()),
                    "media_ref": pa.array([""], type=pa.string()),
                    "offset": pa.array([0], type=pa.int32()),
                    "n_hits": pa.array([0], type=pa.int32()),
                }
            )
        n = len(k)
        return pa.table(
            {
                "doc_id": pa.array([doc_id] * n, type=pa.string()),
                "kind": pa.array(k, type=pa.string()),
                "text": pa.array(t, type=pa.string()),
                "media_ref": pa.array(r, type=pa.string()),
                "offset": pa.array(o, type=pa.int32()),
                "n_hits": pa.array([h] + [0] * (n - 1) if n else [], type=pa.int32()),
            }
        )

    return fn


def _span_order(a, b):
    """Deterministic reassembly order: offset asc then kind/media_ref/text —
    ties between coincident spans resolve identically on every run/retry."""
    return (
        F.when(a.offset < b.offset, -1)
        .when(a.offset > b.offset, 1)
        .when(a.kind < b.kind, -1)
        .when(a.kind > b.kind, 1)
        .when(a.media_ref < b.media_ref, -1)
        .when(a.media_ref > b.media_ref, 1)
        .when(a.text < b.text, -1)
        .when(a.text > b.text, 1)
        .otherwise(0)
    )


def redact_full(
    df: DataFrame,
    rules: list[Rule],
    flatten: bool = False,
    num_partitions: int | None = None,
    mega_split: bool = False,
) -> DataFrame:
    """Single-pass fused locate+apply (RedactCommand.cs:126-225 lifecycle).

    Returns (doc_id, spans, n_rule_hits, error): error is null for clean
    docs; errored docs (rotation fail-fast) carry spans=null. Empty rule
    set without flatten -> identity with zero hits (PdfPigTextLocator.cs:
    37-41 / ApplyCommand.cs:65-69 pass-through).

    Whatever ``df`` is (a parquet scan, a filtered or an in-memory
    frame), Spark's own scan feeds its rows to the Arrow stages, so the
    input's shape never changes the output rows."""
    if not rules and not flatten:
        return _pass_through(df)

    doc_map = _make_doc_map_arrow(rules, flatten)
    if not mega_split:
        if num_partitions:
            df = df.repartition(num_partitions)
        return df.mapInArrow(doc_map, schema=REDACTED_SCHEMA)

    # NULL-spans and NULL-id rows must take the doc-grain branch, where
    # the Arrow stage routes them to the error output: a bare size()
    # predicate is NULL for NULL spans, so BOTH filters would drop the doc
    # silently (round-5 review), and the mega branch would group every
    # NULL-id mega doc into one.
    is_mega = F.col("doc_id").isNotNull() & F.coalesce(
        F.size("spans") > MEGA_SPAN_THRESHOLD, F.lit(False)
    )

    # No unconditional repartition (round-5 review): rows are complete
    # docs and the map needs no co-partitioning — parallelism comes from
    # input splits, exactly like the default path; the docstring's cost
    # model prices mega_split at two shuffles for the MEGA slice only.
    small_src = df.where(~is_mega)
    if num_partitions:
        small_src = small_src.repartition(num_partitions, "doc_id")
    small_out = small_src.mapInArrow(doc_map, schema=REDACTED_SCHEMA)

    # Mega path: explode -> per-page fan-out -> JVM reassembly.
    big = df.where(is_mega)
    flat = big.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.expr(f"s.offset div {PAGE_BASE}").alias("band"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    page_out = flat.groupBy("doc_id", "band").applyInArrow(
        _make_page_apply(rules, flatten), schema=_FLAT_PAGE_OUT
    )
    err_col = F.max(F.when(F.col("kind") == "__error__", F.col("text"))).alias("error")
    big_out = (
        page_out.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("kind") != "__error__",
                        F.struct("kind", "text", "media_ref", "offset"),
                    )
                ),
                _span_order,
            ).alias("spans"),
            F.sum("n_hits").cast("long").alias("n_rule_hits"),
            err_col,
        )
        .select(
            "doc_id",
            F.when(F.col("error").isNull(), F.col("spans")).alias("spans"),
            # path parity (round-5 review): the doc-grain branch reports
            # n_rule_hits=0 for an errored doc; an errored mega doc must
            # not keep hits summed from its successful pages
            F.when(F.col("error").isNull(), F.col("n_rule_hits"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_rule_hits"),
            "error",
        )
    )
    return small_out.unionByName(big_out)


def redact(
    df: DataFrame, rules: list[Rule], flatten: bool = False,
    num_partitions: int | None = None, mega_split: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns (redacted_docs, errors). Both derive from one single-pass
    plan; consuming BOTH triggers recompute — materialize redact_full()
    first if you need both (checkpoint.run_resumable does). The
    empty-rules case flows through redact_full's pass-through branch
    (round-5 review: a verbatim `return df` leaked extra input columns
    into the good output and emitted NULL-spans garbage rows as clean
    docs)."""
    full = redact_full(df, rules, flatten, num_partitions, mega_split)
    good = full.where(F.col("error").isNull()).select("doc_id", "spans")
    errors = full.where(F.col("error").isNotNull()).select("doc_id", "error")
    return good, errors


def redact_with_hits(
    df: DataFrame, rules: list[Rule], flatten: bool = False,
    num_partitions: int | None = None, mega_split: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Like redact() but the main output keeps (n_rule_hits, n_spans)."""
    full = redact_full(df, rules, flatten, num_partitions, mega_split)
    good = full.where(F.col("error").isNull()).select(
        "doc_id", "spans", "n_rule_hits", F.size("spans").cast("long").alias("n_spans")
    )
    errors = full.where(F.col("error").isNotNull()).select("doc_id", "error")
    return good, errors


def locate_regions(
    df: DataFrame, rules: list[Rule], num_partitions: int | None = None
) -> DataFrame:
    """Locate-only (the reference `plan` command, PlanCommand.cs:163-169):
    emits RedactionRegion rows. Doc-grain (mega docs run whole — locate
    emits small region lists, so page fan-out buys little here)."""
    spark = df.sparkSession
    if not rules:
        return spark.createDataFrame([], schema=REGION_SCHEMA)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            (doc_ids, valid, bounds, kinds, texts, _, offs,
             (bands, rows, x0s, clean)) = _span_batch_cols(rb, with_refs=False)
            c_d, c_p, c_x, c_y, c_w, c_h, c_mt, c_rp, c_rot = (
                [], [], [], [], [], [], [], [], []
            )
            for i, d in enumerate(doc_ids):
                if not valid[i]:
                    # No error column in REGION_SCHEMA: fail loudly with
                    # the doc id rather than silently dropping the doc
                    # from the plan (matches the old path's hard failure).
                    raise ValueError(f"doc {d}: spans column is null"
                                     if d is not None else "doc_id is null")
                a, b = bounds[i], bounds[i + 1]
                g = (
                    (bands[a:b], rows[a:b], x0s[a:b],
                     clean[a:b] if clean is not None else None)
                    if bands is not None else None
                )
                for r in locate_document_cols(
                    d, kinds[a:b], texts[a:b], offs[a:b], rules, geom=g,
                ):
                    c_d.append(d)
                    c_p.append(r.page)
                    c_x.append(r.x)
                    c_y.append(r.y)
                    c_w.append(r.width)
                    c_h.append(r.height)
                    c_mt.append(r.matched_text)
                    c_rp.append(r.rule_pattern)
                    c_rot.append(r.rotation)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(c_d, type=pa.string()),
                    pa.array(c_p, type=pa.int32()),
                    pa.array(c_x, type=pa.float64()),
                    pa.array(c_y, type=pa.float64()),
                    pa.array(c_w, type=pa.float64()),
                    pa.array(c_h, type=pa.float64()),
                    pa.array(c_mt, type=pa.string()),
                    pa.array(c_rp, type=pa.string()),
                    pa.array(c_rot, type=pa.int32()),
                ],
                names=["doc_id", "page", "x", "y", "width", "height",
                       "matched_text", "rule_pattern", "page_rotation"],
            )

    # repartition only on request (round-5 review): the map is purely
    # row-wise over complete docs, so the default path inherits input-
    # split parallelism instead of hash-shuffling the full span table
    if num_partitions:
        df = df.repartition(num_partitions, "doc_id")
    return df.mapInArrow(fn, schema=REGION_SCHEMA)


def region_summary(regions: DataFrame) -> DataFrame:
    """Per-page redaction counts (PlanCommand.cs:178-183 console sink)."""
    return (
        regions.groupBy("doc_id", "page")
        .agg(F.count("*").alias("n_redactions"))
        .orderBy("doc_id", "page")
    )


# ---------------------------------------------------------------------------
# Decoupled plan/apply (the reference `plan` + `apply` commands:
# PlanCommand.cs / ApplyCommand.cs + RedactionPlanSerializer.cs)
# ---------------------------------------------------------------------------
_PLAN_REGION_STRUCT = StructType(
    [
        StructField("pageNumber", IntegerType(), False),
        StructField("x", DoubleType(), False),
        StructField("y", DoubleType(), False),
        StructField("width", DoubleType(), False),
        StructField("height", DoubleType(), False),
        StructField("matchedText", StringType(), True),
        StructField("rulePattern", StringType(), True),
        StructField("pageRotation", IntegerType(), False),
    ]
)

#: one plan per document (camelCase fields, serializer parity —
#: RedactionPlanSerializer.cs:31-35; sourcePdfPath slot carries doc_id)
PLAN_SCHEMA = StructType(
    [
        StructField("sourcePdfPath", StringType(), False),
        StructField("regions", ArrayType(_PLAN_REGION_STRUCT), False),
        StructField("totalRedactions", IntegerType(), False),
    ]
)


def regions_to_plans(regions: DataFrame) -> DataFrame:
    """Region rows -> per-doc plan rows in the serializer's camelCase
    shape (S5). Write with ``df.write.json(path)``."""
    return regions.groupBy(F.col("doc_id").alias("sourcePdfPath")).agg(
        F.collect_list(
            F.struct(
                F.col("page").alias("pageNumber"),
                "x",
                "y",
                "width",
                "height",
                F.col("matched_text").alias("matchedText"),
                F.col("rule_pattern").alias("rulePattern"),
                F.col("page_rotation").alias("pageRotation"),
            )
        ).alias("regions"),
        F.count("*").cast("int").alias("totalRedactions"),
    )


def read_plans(spark: SparkSession, path: str) -> DataFrame:
    """Plan JSON source (S4): explicit schema, never inferred."""
    return spark.read.schema(PLAN_SCHEMA).json(path)


def summary_from_plans(plans: DataFrame) -> DataFrame:
    """Per-page redaction counts derived from MATERIALIZED plan JSON rather
    than the live region lineage, so the console summary never re-executes
    the Python locate stage (BENCH/BASELINE.md finding #1: two actions on
    one unmaterialized mapInPandas lineage run it twice)."""
    return (
        plans.select(F.col("sourcePdfPath").alias("doc_id"), F.explode("regions").alias("r"))
        .groupBy("doc_id", F.col("r.pageNumber").alias("page"))
        .agg(F.count("*").alias("n_redactions"))
    )


def apply_plans_full(docs: DataFrame, plans: DataFrame) -> DataFrame:
    """Decoupled apply: join saved plans to documents on doc_id and mask
    geometrically (kernel.apply_plan). Docs without a plan copy through
    verbatim (S7 pass-through). Plans are per-doc small — AQE broadcasts
    the side that qualifies. Returns the full REDACTED_SCHEMA frame;
    callers consuming both good and error views should materialize it
    once (the CLI persists it when --error-output is set).

    Duplicate plans for one sourcePdfPath (two plan runs appended into
    one directory) are a per-doc ERROR, not a silent row multiplication
    (round-5 review: the bare left join emitted the doc once per
    duplicate, each independently redacted): plans pre-aggregate per
    doc_id with a count, and docs whose count exceeds 1 route to the
    error output."""
    from pdfredact_spark.kernel import Region as KRegion
    from pdfredact_spark.kernel import apply_plan_cols

    plans_agg = (
        plans.select(
            F.col("sourcePdfPath").alias("doc_id"), F.col("regions").alias("plan_regions")
        )
        .groupBy("doc_id")
        .agg(
            F.first("plan_regions").alias("plan_regions"),
            F.count("*").cast("int").alias("n_plans"),
        )
    )
    joined = docs.join(plans_agg, "doc_id", "left")

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            doc_ids, valid, bounds, kinds, texts, refs, offs, _geom = (
                _span_batch_cols(rb)
            )
            # Plans are per-doc tiny (a handful of regions); a plain
            # to_pylist of the (mostly-null) list column is fine here.
            plan_lists = rb.column(rb.schema.get_field_index("plan_regions")).to_pylist()
            n_plans = rb.column(rb.schema.get_field_index("n_plans")).to_pylist()

            def per_doc(i, d, a, b):
                # read_plans uses a permissive nullable JSON schema; a
                # truncated or hand-edited plan (null coordinates) raises
                # here and the shared driver quarantines the doc instead
                # of killing the apply job.
                if (n_plans[i] or 0) > 1:
                    raise ValueError(
                        f"{n_plans[i]} plans found for this document"
                    )
                regions = [
                    KRegion(
                        page=r["pageNumber"], x=r["x"], y=r["y"],
                        width=r["width"], height=r["height"],
                        matched_text=r["matchedText"], rule_pattern=r["rulePattern"],
                        rotation=r["pageRotation"],
                    )
                    for r in (plan_lists[i] or [])
                ]
                return apply_plan_cols(
                    d, kinds[a:b], texts[a:b], refs[a:b], offs[a:b], regions
                )

            yield _build_redacted_batch(
                doc_ids, *_run_doc_batch(doc_ids, valid, bounds, per_doc)
            )

    return joined.mapInArrow(fn, schema=REDACTED_SCHEMA)


def apply_plans(docs: DataFrame, plans: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, errors) views over apply_plans_full — consuming both
    recomputes the Python stage unless the caller materializes first."""
    full = apply_plans_full(docs, plans)
    good = full.where(F.col("error").isNull()).select("doc_id", "spans")
    errors = full.where(F.col("error").isNotNull()).select("doc_id", "error")
    return good, errors
