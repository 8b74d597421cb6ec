"""The extraction pipeline: Arrow-batched mapInArrow stages + scalar UDFs.

This is the Spark realization of the reference's entry points
(HTMLDocument.m:12-44 → HTMLParser.m:3331-3347), at the reference's own
granularity — one parser per document — amortized over Arrow batches
(SURVEY.md §3.2 "Spark mapping"). No per-row Python UDFs anywhere; every
stage is ``mapInArrow`` / ``mapInPandas`` or a Series→Series ``pandas_udf``.

The heavy nested-struct stages (``extract_spans_df``, ``parse_nodes_df``,
``extract_metrics_df``) run RecordBatch-native (``mapInArrow``): the
``array<struct>`` span/attr columns are read straight off the Arrow child
buffers and rebuilt with ``ListArray.from_arrays`` — no pandas
materialization of list-of-dict rows in either direction, which the round-4
doc-scale measurement identified as the dominant proportional overhead
(~20% of bytes-pumped cost at realistic doc sizes). The pandas workers are
kept as the differential oracle (``tests/test_spark.py`` parity).

Stages:

    documents_interleaved --extract_spans_df--> spans_out (north rule)
    documents_interleaved --parse_nodes_df----> nodes (flattened DOM table)
    any string column     --css_select_udf----> matched node ids / texts
    any string column     --escape/unescape---> X8/X9 scalar functions
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType

from ..dom import FlatDOM
from ..escape import escape_series, unescape_series
from ..extract import doc_metrics, extract_main_text, extract_spans
from ..selector import CompiledSelector
from . import schemas
from .partitioning import fan_out

# Arrow field layouts for the hand-built output batches. Kept in lockstep
# with schemas.py via to_arrow_schema (tests/test_spark.py asserts this).
_SPAN_FIELDS = [
    pa.field("kind", pa.string()),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32()),
]
_SPANS_OUT_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(pa.struct(_SPAN_FIELDS))),
    ]
)
_ATTR_FIELDS = [pa.field("name", pa.string()), pa.field("value", pa.string())]
_NODES_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("node_id", pa.int32(), nullable=False),
        pa.field("parent", pa.int32()),
        pa.field("depth", pa.int32()),
        pa.field("order", pa.int32()),
        pa.field("kind", pa.int8()),
        pa.field("tag", pa.string()),
        pa.field("ns", pa.int8()),
        pa.field("attrs", pa.list_(pa.struct(_ATTR_FIELDS))),
        pa.field("text", pa.string()),
        pa.field("subtree", pa.int32()),
    ]
)


def _flat_spans(batch: pa.RecordBatch):
    """Read an Arrow list<struct> spans column as flat python columns.

    Returns (lengths, kinds, texts, media_refs, offsets) where ``lengths``
    is per-row span counts (0 for null rows) and the rest are the
    flattened child columns, slice-aware (``flatten()`` re-bases any
    parent-array slice offset, unlike ``.values``).
    """
    spans = batch.column("spans")
    lengths = [
        (n if v else 0)
        for n, v in zip(
            pc.list_value_length(spans).fill_null(0).to_pylist(),
            pc.is_valid(spans).to_pylist(),
        )
    ]
    flat = spans.flatten()
    return (
        lengths,
        flat.field("kind").to_pylist(),
        flat.field("text").to_pylist(),
        flat.field("media_ref").to_pylist(),
        flat.field("offset").to_pylist(),
    )


def _span_list_array(out_kind, out_text, out_ref, out_off, list_offsets):
    struct = pa.StructArray.from_arrays(
        [
            pa.array(out_kind, pa.string()),
            pa.array(out_text, pa.string()),
            pa.array(out_ref, pa.string()),
            pa.array(out_off, pa.int32()),
        ],
        fields=_SPAN_FIELDS,
    )
    return pa.ListArray.from_arrays(pa.array(list_offsets, pa.int32()), struct)


# ------------------------------------------------------------------ spans


def _extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: (doc_id, spans) → (doc_id, spans) main content.

    ``spans`` arrives as a numpy array of dict rows (Arrow struct list).
    """
    for pdf in batches:
        out_spans = []
        for spans in pdf["spans"]:
            if spans is None:
                spans = []
            rows = [
                {
                    "kind": s["kind"],
                    "text": s["text"],
                    "media_ref": s["media_ref"],
                    "offset": int(s["offset"]) if s["offset"] is not None else None,
                }
                for s in spans
            ]
            out_spans.append(extract_spans(rows))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "spans": out_spans})


def _extract_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow worker: RecordBatch-native ``extract_spans``.

    Same semantics as :func:`sparkhtml.extract.extract_spans` (the pure
    oracle, parity-tested), but evaluated over the flattened Arrow child
    columns — no list-of-dict rows are ever built, and the output
    list<struct> is assembled directly from flat arrays.
    """
    for batch in batches:
        lengths, kinds, texts, refs, offs = _flat_spans(batch)
        out_kind: list = []
        out_text: list = []
        out_ref: list = []
        out_off: list = []
        list_offsets = [0]
        lo = 0
        for n in lengths:
            hi = lo + n
            order = sorted(
                range(lo, hi),
                key=lambda j: offs[j] if offs[j] is not None else 0,
            )
            for j in order:
                k = kinds[j]
                if k == "media":
                    out_kind.append("media")
                    out_text.append(None)
                    out_ref.append(refs[j])
                    out_off.append(offs[j])
                elif k == "text":
                    extracted = extract_main_text(texts[j] or "")
                    if extracted:
                        out_kind.append("text")
                        out_text.append(extracted)
                        out_ref.append(None)
                        out_off.append(offs[j])
            list_offsets.append(len(out_kind))
            lo = hi
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                _span_list_array(out_kind, out_text, out_ref, out_off,
                                 list_offsets),
            ],
            schema=_SPANS_OUT_SCHEMA,
        )


def extract_spans_df(documents: DataFrame, *, arrow: bool = True) -> DataFrame:
    """The north-rule pipeline: interleaved docs → main-content spans.

    Column pruning: only (doc_id, spans) enter the exchange; callers can
    carry extra columns by joining back on doc_id (cheaper than shipping
    them through Python).

    ``arrow=True`` (default) runs the RecordBatch-native worker; the
    pandas worker (``arrow=False``) is kept as the differential oracle.
    """
    src = fan_out(documents.select("doc_id", "spans"))
    if arrow:
        return src.mapInArrow(_extract_arrow, schema=schemas.SPANS_OUT)
    return src.mapInPandas(_extract_batch, schema=schemas.SPANS_OUT)


def _extract_arrow_packed(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow worker for the PACKED payload encoding: each row's
    spans arrive as one JSON string (JVM-side ``to_json``), and leave
    the same way (rebuilt JVM-side with ``from_json``). Same extraction
    semantics as :func:`_extract_arrow` (parity-tested).

    Round-6 pump probe (VERDICT r5 #5): the InternalRow↔Arrow crossing
    was measured bytes-bound and non-scaling past ~8 threads; this
    variant trades the nested list<struct> column (4 child arrays +
    offsets on both directions of the crossing) for a single flat
    string column, to measure whether payload SHAPE (not size) is part
    of the ceiling. See BENCH/run_pump_probe.py + SCALE.md §3.
    """
    import json

    for batch in batches:
        payloads = batch.column("spans_json").to_pylist()
        out: list = []
        for payload in payloads:
            spans = json.loads(payload) if payload else []
            rows = sorted(
                spans, key=lambda s: s.get("offset") or 0
            )
            acc = []
            for s in rows:
                k = s.get("kind")
                if k == "media":
                    acc.append(
                        {"kind": "media", "text": None,
                         "media_ref": s.get("media_ref"),
                         "offset": s.get("offset")}
                    )
                elif k == "text":
                    extracted = extract_main_text(s.get("text") or "")
                    if extracted:
                        acc.append(
                            {"kind": "text", "text": extracted,
                             "media_ref": None, "offset": s.get("offset")}
                        )
            out.append(json.dumps(acc, ensure_ascii=False))
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), pa.array(out, pa.string())],
            names=["doc_id", "spans_json"],
        )


def extract_spans_df_packed(documents: DataFrame) -> DataFrame:
    """North-rule pipeline over the packed (single-JSON-string) payload
    encoding: ``to_json`` / ``from_json`` stay JVM-side (Catalyst
    expressions inside WholeStageCodegen), so the Python crossing
    carries exactly one flat string column each way. Output is
    value-identical to :func:`extract_spans_df` (parity-tested); kept
    behind this separate entry point until the probe shows ≥1.15× at
    32 cores (BENCH/run_pump_probe.py)."""
    src = documents.select(
        "doc_id", F.to_json(F.col("spans")).alias("spans_json")
    )
    out = src.mapInArrow(
        _extract_arrow_packed, schema="doc_id string, spans_json string"
    )
    return out.select(
        "doc_id",
        F.from_json(
            F.col("spans_json"), schemas.T.ArrayType(schemas.SPAN)
        ).alias("spans"),
    )


# ------------------------------------------------------------------ nodes


def _parse_nodes_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [
        "doc_id", "node_id", "parent", "depth", "order", "kind", "tag",
        "ns", "attrs", "text", "subtree",
    ]
    for pdf in batches:
        rows = {c: [] for c in cols}
        for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
            dom = FlatDOM.from_html(html or "")
            n = len(dom)
            rows["doc_id"].extend([doc_id] * n)
            rows["node_id"].extend(range(n))
            rows["parent"].extend(dom.parent)
            rows["depth"].extend(dom.depth)
            rows["order"].extend(dom.order)
            rows["kind"].extend(dom.kind)
            rows["tag"].extend(dom.tag)
            rows["ns"].extend(dom.ns)
            rows["attrs"].extend(
                [{"name": k, "value": v} for k, v in a] for a in dom.attrs
            )
            rows["text"].extend(dom.text)
            rows["subtree"].extend(dom.subtree)
        yield pd.DataFrame(rows)


def _parse_nodes_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow worker: html → flattened nodes, RecordBatch-native.

    ``FlatDOM`` is already columnar (parallel python lists), so the Arrow
    batch is a straight concat of those lists; the ``attrs``
    list<struct<name,value>> is built from flat name/value columns +
    offsets instead of per-node dict lists (the pandas-path cost).
    """
    for batch in batches:
        doc_ids = batch.column("doc_id").to_pylist()
        htmls = batch.column("html").to_pylist()
        c_doc: list = []
        c_nid: list = []
        c_parent: list = []
        c_depth: list = []
        c_order: list = []
        c_kind: list = []
        c_tag: list = []
        c_ns: list = []
        c_text: list = []
        c_subtree: list = []
        attr_names: list = []
        attr_values: list = []
        attr_offsets = [0]
        for doc_id, html in zip(doc_ids, htmls):
            dom = FlatDOM.from_html(html or "")
            n = len(dom)
            c_doc.extend([doc_id] * n)
            c_nid.extend(range(n))
            c_parent.extend(dom.parent)
            c_depth.extend(dom.depth)
            c_order.extend(dom.order)
            c_kind.extend(dom.kind)
            c_tag.extend(dom.tag)
            c_ns.extend(dom.ns)
            c_text.extend(dom.text)
            c_subtree.extend(dom.subtree)
            for a in dom.attrs:
                for k, v in a:
                    attr_names.append(k)
                    attr_values.append(v)
                attr_offsets.append(len(attr_names))
        attrs = pa.ListArray.from_arrays(
            pa.array(attr_offsets, pa.int32()),
            pa.StructArray.from_arrays(
                [pa.array(attr_names, pa.string()),
                 pa.array(attr_values, pa.string())],
                fields=_ATTR_FIELDS,
            ),
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(c_doc, pa.string()),
                pa.array(c_nid, pa.int32()),
                pa.array(c_parent, pa.int32()),
                pa.array(c_depth, pa.int32()),
                pa.array(c_order, pa.int32()),
                pa.array(c_kind, pa.int8()),
                pa.array(c_tag, pa.string()),
                pa.array(c_ns, pa.int8()),
                attrs,
                pa.array(c_text, pa.string()),
                pa.array(c_subtree, pa.int32()),
            ],
            schema=_NODES_SCHEMA,
        )


def parse_nodes_df(df: DataFrame, html_col: str = "html",
                   id_col: str = "doc_id", *, arrow: bool = True) -> DataFrame:
    """html string column → exploded ``nodes`` table (one row per DOM node).

    This is the flattened-DOM table of SURVEY.md §1.1; selector plans from
    :mod:`sparkhtml.spark.queries` run over it with joins/windows.
    ``arrow=False`` selects the pandas differential-oracle worker.
    """
    # keyed fan_out: hash-partitioning by doc_id spreads as evenly as
    # round-robin (unique key) without round-robin's local
    # sort-before-repartition, and keeps same-document rows co-located
    # for any DIRECT consumer clustered on (doc_id, ...). (A cached AQE
    # plan does not propagate the partitioning — see fan_out's note.)
    src = fan_out(df.select(F.col(id_col).cast("string").alias("doc_id"),
                            F.col(html_col).alias("html")), key="doc_id")
    if arrow:
        return src.mapInArrow(_parse_nodes_arrow, schema=schemas.NODES)
    return src.mapInPandas(_parse_nodes_batch, schema=schemas.NODES)


# ------------------------------------------------------------ scalar UDFs


def make_udfs():
    """Register-able Series→Series pandas UDFs (Arrow path, never per-row).

    Returns a dict name → pandas_udf, and can be attached to a session via
    ``register_udfs(spark)``.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def html_escape(s: pd.Series) -> pd.Series:
        return escape_series(s)

    @pandas_udf(StringType())
    def html_unescape(s: pd.Series) -> pd.Series:
        return unescape_series(s)

    @pandas_udf(StringType())
    def html_text_content(s: pd.Series) -> pd.Series:
        # textContent of the whole document (X2 at document level)
        return s.fillna("").map(
            lambda h: FlatDOM.from_html(h).text_content(0)
        )

    @pandas_udf(StringType())
    def html_extract_main(s: pd.Series) -> pd.Series:
        return s.fillna("").map(extract_main_text)

    return {
        "html_escape": html_escape,
        "html_unescape": html_unescape,
        "html_text_content": html_text_content,
        "html_extract_main": html_extract_main,
    }


def css_select_text_udf(selector: str):
    """css_select_text('<sel>'): per document, tree-order textContent list of
    matching elements. Selector compiled once per executor process
    (HTMLSelector.m:871-882 parity via module-level cache)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(StringType()))
    def _select(s: pd.Series) -> pd.Series:
        cs = CompiledSelector(selector)

        def run(html: str):
            dom = FlatDOM.from_html(html or "")
            return [dom.text_content(i) for i in cs.match_ids(dom)]

        return s.fillna("").map(run)

    return _select


def css_multi_count_udf(selectors: list[str]):
    """Parse each document ONCE, evaluate k selectors over the same flat
    DOM — operator fusion for multi-selector workloads (vs k parses with
    k single-selector UDFs). Returns array<int> aligned with ``selectors``."""
    from pyspark.sql.functions import pandas_udf

    for sel in selectors:  # fail fast at definition, not on executors
        CompiledSelector(sel)

    @pandas_udf(ArrayType(IntegerType()))
    def _multi(s: pd.Series) -> pd.Series:
        compiled = [CompiledSelector(sel) for sel in selectors]

        def run(html: str):
            dom = FlatDOM.from_html(html or "")
            return [len(cs.match_ids(dom)) for cs in compiled]

        return s.fillna("").map(run)

    return _multi


def css_count_udf(selector: str):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(IntegerType())
    def _count(s: pd.Series) -> pd.Series:
        cs = CompiledSelector(selector)
        return s.fillna("").map(
            lambda h: len(cs.match_ids(FlatDOM.from_html(h)))
        )

    return _count


def register_udfs(spark) -> None:
    for name, udf in make_udfs().items():
        spark.udf.register(name, udf)


# ------------------------------------------------------------- metrics


def _metrics_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k.name: [] for k in schemas.EXTRACT_METRICS.fields}
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            if spans is None:
                spans = []
            n_media = sum(1 for s in spans if s["kind"] == "media")
            n_nodes = n_kept = n_words = n_err = depth = 0
            n_out = n_media
            for s in spans:
                if s["kind"] != "text":
                    continue
                dom = FlatDOM.from_html(s["text"] or "", collect_errors=True)
                m = doc_metrics(dom)
                n_nodes += m["n_nodes"]
                n_kept += m["n_kept_words"]
                n_words += m["n_words"]
                n_err += m["n_errors"]
                depth = max(depth, max(dom.depth) if len(dom) else 0)
                if m["n_kept_words"]:
                    n_out += 1
            out["doc_id"].append(doc_id)
            out["n_spans_in"].append(len(spans))
            out["n_spans_out"].append(n_out)
            out["n_media"].append(n_media)
            out["n_nodes"].append(n_nodes)
            out["n_kept_words"].append(n_kept)
            out["n_words"].append(n_words)
            out["n_errors"].append(n_err)
            out["max_depth"].append(depth)
        yield pd.DataFrame(out)


_METRICS_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string(), nullable=False)]
    + [pa.field(f.name, pa.int32())
       for f in schemas.EXTRACT_METRICS.fields[1:]]
)


def _metrics_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow worker for the metrics table — reads the nested spans
    column off the flattened Arrow children (same shape as
    :func:`_extract_arrow`); output is flat ints."""
    for batch in batches:
        lengths, kinds, texts, _refs, _offs = _flat_spans(batch)
        cols = {f.name: [] for f in _METRICS_SCHEMA}
        lo = 0
        for n in lengths:
            hi = lo + n
            n_media = sum(1 for j in range(lo, hi) if kinds[j] == "media")
            n_nodes = n_kept = n_words = n_err = depth = 0
            n_out = n_media
            for j in range(lo, hi):
                if kinds[j] != "text":
                    continue
                dom = FlatDOM.from_html(texts[j] or "", collect_errors=True)
                m = doc_metrics(dom)
                n_nodes += m["n_nodes"]
                n_kept += m["n_kept_words"]
                n_words += m["n_words"]
                n_err += m["n_errors"]
                depth = max(depth, max(dom.depth) if len(dom) else 0)
                if m["n_kept_words"]:
                    n_out += 1
            cols["n_spans_in"].append(n)
            cols["n_spans_out"].append(n_out)
            cols["n_media"].append(n_media)
            cols["n_nodes"].append(n_nodes)
            cols["n_kept_words"].append(n_kept)
            cols["n_words"].append(n_words)
            cols["n_errors"].append(n_err)
            cols["max_depth"].append(depth)
            lo = hi
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id")]
            + [pa.array(cols[f.name], pa.int32())
               for f in _METRICS_SCHEMA if f.name != "doc_id"],
            schema=_METRICS_SCHEMA,
        )


def extract_metrics_df(documents: DataFrame, *, arrow: bool = True) -> DataFrame:
    """Per-document metrics table (lineage layer, SURVEY.md §4.3)."""
    src = fan_out(documents.select("doc_id", "spans"))
    if arrow:
        return src.mapInArrow(_metrics_arrow, schema=schemas.EXTRACT_METRICS)
    return src.mapInPandas(_metrics_batch, schema=schemas.EXTRACT_METRICS)
