"""Correctness gate: Spark's extraction output against the pure core run in
the driver. Any failure fails the benchmark run; it never just lowers a
number."""

from __future__ import annotations

import time
from collections import Counter
from typing import Any

from tika_wrap_spark.core.extract import extract_document
from tika_wrap_spark.core.sniff import sniff_kind


def span_key(spans: Any) -> tuple:
    """The compared view of a span list: (kind, text, media_ref) in order."""
    return tuple((s["kind"], s["text"], s["media_ref"]) for s in spans or [])


def doc_kind(spans: list[dict[str, Any]]) -> str:
    """Ledger kind of one input document: the sniffed kind of its only span,
    ``multi`` for several spans, ``empty`` for none."""
    if len(spans) > 1:
        return "multi"
    if not spans:
        return "empty"
    return sniff_kind(spans[0]["text"] or "", spans[0]["media_ref"] or "")


def core_reference(docs: list[tuple[str, list[dict[str, Any]]]]) -> dict[str, Any]:
    """Run ``extract_document`` single-threaded in the driver over ``docs``.
    Returns the expected output per doc_id and the per-doc parse times,
    which the ``core`` ledger is built from."""
    expected: dict[str, tuple] = {}
    per_doc: list[tuple[str, int, float]] = []  # (kind, input chars, seconds)
    total = 0.0
    for doc_id, spans in docs:
        t0 = time.perf_counter()
        res = extract_document(spans)
        dt = time.perf_counter() - t0
        total += dt
        expected[doc_id] = (span_key(res["spans"]), res["parse_ok"], res["error"])
        per_doc.append((doc_kind(spans), sum(len(s["text"] or "") for s in spans), dt))
    return {"expected": expected, "per_doc": per_doc, "core_s": total}


def check(
    expected: dict[str, tuple],
    actual: list[tuple[str, Any, bool, str]],
    input_ids: set[str],
    extra_failures: list[str] = (),
) -> dict[str, Any]:
    """Compare actual rows ``(doc_id, spans, parse_ok, error)`` of a whole
    input with the driver-side expectation for the checked documents
    (all of the input, or a sample of it plus every adversarial row).

    Fails on: an output count or id set different from the input's,
    duplicate doc_ids, any checked document that differs (``match_frac``
    < 1), and an error-row count different from the driver-side count
    over the checked documents (so an error row outside them fails too).
    ``extra_failures`` carries the workload's own failed checks."""
    failures = list(extra_failures)
    if len(actual) != len(input_ids):
        failures.append("output rows %d != input docs %d" % (len(actual), len(input_ids)))
    counts = Counter(row[0] for row in actual)
    dups = sum(1 for c in counts.values() if c > 1)
    if dups:
        failures.append("%d duplicate doc_ids" % dups)
    missing = len(input_ids - counts.keys())
    unknown = len(counts.keys() - input_ids)
    if missing or unknown:
        failures.append("%d input docs missing, %d unknown doc_ids" % (missing, unknown))
    got = {row[0]: (span_key(row[1]), row[2], row[3]) for row in actual}
    matched = sum(1 for doc_id, want in expected.items() if got.get(doc_id) == want)
    if matched != len(expected):
        bad = sorted(d for d, want in expected.items() if got.get(d) != want)
        failures.append("%d docs differ from the core, first %s" % (len(bad), bad[:3]))
    error_rows = sum(1 for row in actual if not row[2])
    expected_errors = sum(1 for want in expected.values() if not want[1])
    if error_rows != expected_errors:
        failures.append("error rows %d != core error rows %d" % (error_rows, expected_errors))
    return {
        "correct": not failures,
        "failures": failures,
        "match_frac": matched / len(expected),
        "error_rows": error_rows,
        "missing": missing,
        "attempted": len(input_ids),
    }
