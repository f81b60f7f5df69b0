"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import gate, workloads
from perfbench.measure import core_ledger, docs_per_s
from perfbench.probes import Tracer
from tika_wrap_spark.corpus import adversarial_rows, gen_doc

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _reference(n: int) -> tuple[dict, list[tuple]]:
    """Driver-side expectation for ``n`` mixed docs plus the adversarial
    rows, and the matching 'Spark' rows built from the same core output."""
    rows = [gen_doc(i, 5) for i in range(n)] + adversarial_rows(n)[:5]
    docs = [(r["doc_id"], r["spans"]) for r in rows]
    ref = gate.core_reference(docs)
    actual = []
    for doc_id, spans in docs:
        want_spans, ok, err = ref["expected"][doc_id]
        actual.append(
            (doc_id, [{"kind": k, "text": t, "media_ref": m} for k, t, m in want_spans], ok, err)
        )
    return ref, actual


def _ids(actual: list[tuple]) -> set[str]:
    return {row[0] for row in actual}


def test_metric_names_are_well_formed_and_unique():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME_RE.fullmatch(n) for n in names), [n for n in names if not NAME_RE.fullmatch(n)]
    assert len(names) == len(set(names))


def test_core_ledger_emits_every_configured_kind_metric():
    spec = _spec()
    ledger_names = {m["name"] for m in spec["per_layer"] if m["name"].startswith("core.") and m["name"].count(".") == 2}
    kinds = sorted({n.split(".")[1] for n in ledger_names} - {"other"})
    ledger = core_ledger([("pdf", 100, 0.002), ("text", 10, 0.001), ("7z", 10, 0.001)], kinds)
    assert set(ledger) == ledger_names
    assert ledger["core.other.docs"] == 1.0
    assert sum(v for k, v in ledger.items() if k.endswith(".share")) == pytest.approx(1.0)


def test_docs_per_s_is_the_median_pass_rate():
    passes = [
        {"input": 0, "docs": 100, "seconds": 1.0},
        {"input": 1, "docs": 300, "seconds": 2.0},
        {"input": 2, "docs": 100, "seconds": 5.0},  # a slow pass
    ]
    assert docs_per_s(passes) == pytest.approx(100.0)


def test_only_spans_with_children_are_parents():
    tracer = Tracer("t", enabled=True)
    with tracer.span("run"):
        with tracer.span("gate"):
            with tracer.span("core.extract_document"):
                pass
        with tracer.span("teardown"):
            pass
    assert tracer.parents() == {"run", "gate"}
    assert set(tracer.self_times()) == {"run", "gate", "core.extract_document", "teardown"}


def test_gate_accepts_output_equal_to_the_core():
    ref, actual = _reference(30)
    result = gate.check(ref["expected"], actual, _ids(actual))
    assert result["correct"], result["failures"]
    assert result["match_frac"] == 1.0
    assert result["error_rows"] == sum(1 for r in actual if not r[2]) > 0


def test_gate_rejects_one_altered_span_text():
    ref, actual = _reference(30)
    i = next(i for i, r in enumerate(actual) if r[1])
    doc_id, spans, ok, err = actual[i]
    altered = [dict(s) for s in spans]
    altered[0]["text"] = altered[0]["text"] + "x"
    actual[i] = (doc_id, altered, ok, err)
    result = gate.check(ref["expected"], actual, _ids(actual))
    assert not result["correct"]
    assert result["match_frac"] < 1.0


def test_gate_rejects_missing_and_duplicate_rows():
    ref, actual = _reference(10)
    ids = _ids(actual)
    assert not gate.check(ref["expected"], actual[:-1], ids)["correct"]
    assert not gate.check(ref["expected"], actual + actual[:1], ids)["correct"]
    renamed = [("doc_x",) + actual[0][1:]] + actual[1:]
    assert not gate.check(ref["expected"], renamed, ids)["correct"]


def test_gate_rejects_an_error_row_outside_the_checked_sample():
    ref, actual = _reference(10)
    i = next(i for i, r in enumerate(actual) if r[2])
    sample = {d: want for d, want in ref["expected"].items() if d != actual[i][0]}
    assert gate.check(sample, actual, _ids(actual))["correct"]
    doc_id, spans, _ok, err = actual[i]
    actual[i] = (doc_id, spans, False, err)
    assert not gate.check(sample, actual, _ids(actual))["correct"]


def test_gate_rejects_an_error_row_the_core_does_not_produce():
    ref, actual = _reference(10)
    i = next(i for i, r in enumerate(actual) if r[2])
    doc_id, spans, _ok, err = actual[i]
    actual[i] = (doc_id, spans, False, err)
    result = gate.check(ref["expected"], actual, _ids(actual))
    assert not result["correct"]
    assert any("error rows" in f for f in result["failures"])


@pytest.fixture(scope="module")
def spark():
    from tika_wrap_spark.session import get_spark

    session = get_spark(master="local[2]", app_name="perfbench-tests", driver_memory="2g")
    yield session
    session.stop()


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_workload_input_is_identical_under_any_partition_count(spark, workload):
    def rows(num_partitions: int) -> list:
        df = workloads.build_input(spark, workload, 7, num_partitions=num_partitions, n_docs=50)
        if workload == "mixed":
            assert df.rdd.getNumPartitions() == num_partitions
        return sorted(
            (r["doc_id"], [tuple(s) for s in r["spans"]]) for r in df.collect()
        )

    two, five = rows(2), rows(5)
    assert two == five
    assert len({doc_id for doc_id, _spans in two}) == len(two) > 0
