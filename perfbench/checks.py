"""Correctness checks shared by the workloads; all run untimed."""

from __future__ import annotations


def span_dicts(spans) -> list[dict]:
    """Spark Rows or plain dicts of one document's spans, as plain dicts."""
    return [s.asDict() if hasattr(s, "asDict") else dict(s) for s in spans or ()]


def tally_spans(out_rows, inputs: dict, expected_ids: set, notes: list) -> int:
    """Documents of an ``extract_spans_df`` output that are missing,
    duplicated, unexpected, or (for the sampled ``inputs``: doc_id ->
    input spans) not equal to the driver-side ``extract_spans``.

    ``out_rows`` are (doc_id, spans) rows covering every output document;
    spans may be null for documents outside the sample.
    """
    from sparkhtml.extract import extract_spans

    seen: dict[str, int] = {}
    got: dict[str, list] = {}
    for r in out_rows:
        seen[r["doc_id"]] = seen.get(r["doc_id"], 0) + 1
        if r["doc_id"] in inputs:
            got[r["doc_id"]] = span_dicts(r["spans"])
    dup = sum(1 for c in seen.values() if c != 1)
    missing = len(expected_ids - seen.keys())
    extra = len(seen.keys() - expected_ids)
    unequal = sum(
        1 for doc_id, spans in inputs.items()
        if doc_id in got and got[doc_id] != extract_spans(span_dicts(spans))
    )
    bad = dup + missing + extra + unequal
    if bad:
        notes.append(f"{missing} missing, {dup} duplicated, {extra} unexpected "
                     f"and {unequal} unequal documents of {len(expected_ids)}")
    return bad
