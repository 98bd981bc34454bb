"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest pipebench/tests -q      (from the repository root)
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from pipebench import gen, rag, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rec(src, pid, title, year=2020, url=None):
    return {"source": src, "paper_id": pid, "title": title, "abstract": "a b c",
            "authors": [], "publish_year": year, "venue": "", "citation_count": 0,
            "fields_of_study": [], "url": url or f"u/{src}/{pid}/{title}"}


def _fixture() -> gen.Inputs:
    ten = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    arxiv = [
        _rec("arxiv", "1.1", "first paper title here"),
        None,  # corrupt line
        _rec("arxiv", "", "keyless paper one"),
        _rec("arxiv", None, "keyless paper two"),
        _rec("arxiv", "1.2", "Exact Title Copy"),
        _rec("arxiv", "1.3", ten, year=2019),
    ]
    s2 = [
        _rec("s2", "1.1", "first paper title here"),  # D1: id dup of arxiv 1.1
        _rec("s2", None, "keyless paper two"),  # D1: keyless, merges on title
        _rec("s2", "1.4", "  exact title copy "),  # D3: same lower(trim(title))
        None,
        _rec("s2", "1.5", ten + " lambda", year=2021),  # D4: Jaccard 10/11 >= 0.9, newer
    ]
    openalex = [
        _rec("openalex", "1.6", "unrelated words entirely different"),
        _rec("openalex", "", "keyless paper one"),  # D1: keyless, merges on title
    ]
    inputs = gen.Inputs()
    inputs.records = {"arxiv": arxiv, "s2": s2, "openalex": openalex}
    return inputs


def test_ledger_matches_hand_built_fixture():
    led = gen.ledger(_fixture())
    assert led.corrupt == 2
    assert led.raw_papers == 11
    # D1 drops s2's 1.1, s2's keyless "keyless paper two", openalex's keyless "keyless paper one"
    assert led.d1 == 8
    assert led.d2 == 8  # ids unique after D1; keyless rows are kept
    assert led.d3 == 7  # "  exact title copy " collapses onto "Exact Title Copy"
    assert led.d4 == 6  # the 2019 ten-token title loses to its newer 11-token near-dup
    assert ("arxiv", "u/arxiv/1.3/" + "alpha beta gamma delta epsilon zeta eta theta iota kappa") \
        not in led.survivors
    assert ("s2", "u/s2/1.4/  exact title copy ") not in led.survivors
    assert ("openalex", "u/openalex//keyless paper one") not in led.survivors


def test_generator_is_seeded_and_plants_what_the_ledger_counts():
    n = 300
    a = gen.generate(7, n)
    assert a.lines == gen.generate(7, n).lines
    assert a.lines != gen.generate(8, n).lines
    led = gen.ledger(a)
    n_title, n_near = int(n * gen.TITLE_DUP_FRAC), int(n * gen.NEAR_DUP_FRAC)
    assert led.d1 == n + n_title + n_near  # base + title-dup + near-dup records
    assert led.d3 == led.d1 - n_title
    # pairs at Jaccard 0.90 and 0.95 lose one row, pairs at 0.85 keep both
    removed = sum(gen.NEAR_DUP_SHAPES[i % 3] != (17, 3) for i in range(n_near))
    assert led.d4 == led.d3 - removed
    assert led.corrupt == a.corrupt > 0
    recs = [r for s in gen.SOURCES for r in a.records[s] if r is not None]
    assert sum(len(r["title"]) < 8 for r in recs) == int(n * gen.SHORT_TITLE_FRAC)
    assert sum(r["abstract"] == "" for r in recs) > 0


def test_wrong_expected_count_is_a_failed_operation(tmp_path):
    from llm_enhanced_data_pipeline_spark.session import get_spark

    from pipebench import etl

    inputs = gen.generate(3, 60)
    led = gen.ledger(inputs)
    spark = get_spark("pipebench-tests", cpus=2)
    res = {"stage_counts": etl.stage_counts(spark, inputs.write(str(tmp_path)))}
    checks = run.Checks()
    run.check_etl("etl_reference", 3, None, {"ledger": led}, res, checks, False)
    assert (checks.attempted, checks.failed) == (4, 0)
    led.d3 += 1  # a deliberately wrong expectation
    run.check_etl("etl_reference", 3, None, {"ledger": led}, res, checks, False)
    assert (checks.attempted, checks.failed) == (8, 1)
    assert checks.notes == [f"d3: program {led.d3 - 1} != ledger {led.d3}"]


def test_recall_drops_below_one_on_a_truncated_candidate_set():
    rng = np.random.default_rng(0)
    matrix = rng.random((200, 16))
    ids = np.arange(200, dtype=np.int64)
    queries = [list(rng.random(16)) for _ in range(20)]
    exact = [rag.exact_topk(matrix, ids, q) for q in queries]
    assert rag.recall_at_k(exact, exact) == 1.0
    half = [rag.exact_topk(matrix[:100], ids[:100], q) for q in queries]
    assert rag.recall_at_k(half, exact) < 1.0


@pytest.fixture
def tiny_workloads(monkeypatch):
    monkeypatch.setitem(run.WORKLOADS, "etl_reference", run.Workload("etl", 40))
    monkeypatch.setitem(run.WORKLOADS, "etl_resume",
                        run.Workload("etl", 60, engine="lsh", preseed_share=0.9))
    monkeypatch.setitem(run.WORKLOADS, "rag_serve", run.Workload("rag", 30))
    monkeypatch.setattr(run, "MIN_QUESTIONS", 12)
    monkeypatch.setattr(run, "WARMUP_QUESTIONS", 1)


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", ["etl_reference", "etl_resume", "rag_serve"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_printed_with_its_unit(tiny_workloads, capsys, monkeypatch,
                                              workload, trace):
    monkeypatch.chdir(ROOT)
    rc = run.main(["--workload", workload, "--seed", "5", "--seconds", "1",
                   "--trace", str(trace)])
    assert rc == 0
    last = capsys.readouterr().out.strip().splitlines()[-1]
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    expected = {m["name"]: m["unit"] for m in _bench()[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
    if not trace:
        assert all(result["metrics"][m]["value"] != 0 for m in expected)
