"""Benchmark-local tests (no Spark needed):

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os

from perfbench import checks, inputs
from perfbench.workloads import tail
from ocr_intern_spark.sources.corpus import make_corpus, stub_ocr_tokens


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for base, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(base, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def _generate_all(root: str, seed: int) -> dict[str, bytes]:
    inputs.gen_ingest(os.path.join(root, "ingest"), seed, 4, 10, 0.2, 5)
    inputs.gen_curation(os.path.join(root, "curation"), seed, 80, 0.1)
    return _files(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _generate_all(str(tmp_path / "a"), 7)
    b = _generate_all(str(tmp_path / "b"), 7)
    assert a.keys() == b.keys()
    assert len(a) == 4 + 1 + 1
    assert a == b


def test_other_seed_gives_different_inputs(tmp_path):
    a = _generate_all(str(tmp_path / "a"), 7)
    b = _generate_all(str(tmp_path / "b"), 8)
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_input_properties():
    gen = inputs.make_curation_rows(3, 400, 0.1)
    assert len(gen) == 400 and sum(r[5] for r in gen) == 40
    props = inputs.corpus_props(make_corpus(300, seed=3))
    assert props["docs"] == 300
    assert 0.08 < props["media_span_share"] < 0.16
    assert props["oversized_docs"] >= 1


def test_every_increment_carries_the_same_oversized_share(tmp_path):
    for seed in (3, 4):
        gen = inputs.gen_ingest(str(tmp_path / str(seed)), seed, 3, 200, 0.1, 5)
        assert gen["props"]["oversized_per_increment"] == 2
        new = [sum(1 for d in inc["new"] if len(gen["docs"][d]["spans"]) >= 400)
               for inc in gen["increments"]]
        assert new == [2, 2, 2]
        assert [len(inc["redelivered"]) for inc in gen["increments"]] == [0, 20, 20]


def test_error_frac_counts_corrupted_span_and_duplicated_doc():
    docs = {d["doc_id"]: d for d in make_corpus(6, seed=5)}
    out = [(doc_id, checks.expected_spans(d, stub_ocr_tokens)) for doc_id, d in docs.items()]
    attempted, failed, _ = checks.check_extracted(out, docs, stub_ocr_tokens)
    assert (attempted, failed) == (6, 0)

    first, second = out[0][0], out[1][0]
    kind, text, ref, order = out[0][1][0]
    out[0] = (first, [(kind, text + " corrupted", ref, order)] + out[0][1][1:])
    out.append((second, out[1][1]))
    attempted, failed, notes = checks.check_extracted(out, docs, stub_ocr_tokens)
    assert (attempted, failed) == (6, 2)
    assert failed / attempted == 2 / 6
    assert any(first in n and "mismatch" in n for n in notes)
    assert any(second in n and "duplicated" in n for n in notes)


def test_missing_and_unexpected_docs_fail():
    docs = {d["doc_id"]: d for d in make_corpus(3, seed=5)}
    out = [(doc_id, checks.expected_spans(d, stub_ocr_tokens)) for doc_id, d in docs.items()]
    attempted, failed, _ = checks.check_extracted(out[1:] + [("doc-x", [])], docs, stub_ocr_tokens)
    assert (attempted, failed) == (4, 2)


def test_tail_is_highest_percentile_with_ten_beyond_but_at_least_p75():
    vals = [float(i) for i in range(1, 101)]
    value, pct, n = tail(vals)
    assert (pct, n) == (90.0, 100)
    assert sum(v > value for v in vals) == 10
    assert tail([float(i) for i in range(1, 21)]) == (15.25, 75.0, 20)
    assert tail([3.0, 1.0, 2.0]) == (2.5, 75.0, 3)
    assert tail([4.0]) == (4.0, 75.0, 1)


def test_benchmark_json_names_every_reported_metric(tmp_path):
    import json

    from perfbench import run
    from perfbench.trace import EventLog, engine_metrics
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert tuple(w["name"] for w in bench["workloads"]) == run.WORKLOADS == tuple(WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "docs_per_s", "increment_p50_s", "increment_tail_s", "ok_frac"}
    empty = tmp_path / "eventlog"
    empty.write_text("")
    names = set(engine_metrics(EventLog(str(empty)), [(0.0, 1.0)], 4, 1))
    names |= {"trace.overhead_frac", "check.error_frac", "mem.peak_rss_mb"}
    names |= {n for w in WORKLOADS.values() for n in w.LAYER_METRICS}
    assert {m["name"] for m in bench["per_layer"]} == names
    assert all(m["unit"] == run._unit(m["name"]) for m in bench["per_layer"])
