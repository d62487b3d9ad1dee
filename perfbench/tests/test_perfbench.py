"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

Run from the repository root.  The smoke test starts Spark three times and
takes a few minutes; the others need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, corpus, fakellm, run  # noqa: E402
from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.enrich import (  # noqa: E402
    build_prompt,
)


def test_corpus_repeats_for_a_seed():
    a, b = corpus.generate(7, 800, wire_share=0.3), corpus.generate(7, 800, wire_share=0.3)
    assert a.lines == b.lines and a.kept == b.kept and a.dropped == b.dropped
    assert corpus.generate(8, 800).lines != a.lines


def test_corpus_edge_cases_and_counts():
    c = corpus.generate(3, 3000)
    rows = [json.loads(line) for line in c.lines]
    assert any(r.get("headline") is None for r in rows)
    assert any("short_description" not in r for r in rows)
    assert any(r.get("category") is None for r in rows)
    assert any(r.get("short_description") == "" for r in rows)
    assert any(r.get("date") in corpus.BAD_DATES for r in rows)
    assert any(r.get("category") not in corpus.KEEP for r in rows)
    assert c.duplicate_dates > 0
    assert c.duplicate_payloads == 0  # no wire copies asked for
    assert len(c.kept) + sum(c.dropped.values()) == c.rows_in
    wired = corpus.generate(3, 3000, wire_share=0.5)
    assert wired.duplicate_payloads > len(wired.kept) // 4


def test_fake_model_is_a_pure_function_of_the_prompt():
    prompts = [build_prompt(f"t{i}", f"c{i}") for i in range(2000)]
    kinds = [fakellm.outcome(p, 5, 5) for p in prompts]
    assert kinds == [fakellm.outcome(p, 5, 5) for p in prompts]
    assert [fakellm.answer(p) for p in prompts] == [fakellm.answer(p) for p in prompts]
    assert 0.02 < kinds.count("raise") / len(kinds) < 0.08
    assert 0.02 < kinds.count("malformed") / len(kinds) < 0.08
    assert fakellm.outcome(prompts[0], 0, 0) == "ok"


def _clean_table(c: corpus.Corpus) -> pa.Table:
    return pa.table({
        "id_news": list(range(1, len(c.kept) + 1)),
        "title": [r[1] for r in c.kept],
        "content": [r[2] for r in c.kept],
        "link": [r[0] for r in c.kept],
        "publish_date": [datetime.fromisoformat(r[3]) for r in c.kept],
        "category": [r[4] for r in c.kept],
    })


def _enriched_table(c: corpus.Corpus) -> pa.Table:
    t = _clean_table(c)
    triples = [fakellm.expected_triple(build_prompt(r[1], r[2]), 5, 5) for r in c.kept]
    for i, col in enumerate(("sentiment_llm", "category_llm", "market_impact_summary")):
        t = t.append_column(col, pa.array([x[i] for x in triples]))
    return t.append_column("etl_processing_time", pa.array([datetime(2026, 1, 1)] * t.num_rows))


def test_clean_check_accepts_expected_and_rejects_doctored():
    c = corpus.generate(5, 1500)
    good = _clean_table(c)
    assert checks.check_clean(good, c) == []
    assert checks.check_clean(good.slice(1), c)  # one row dropped
    links = good.column("link").to_pylist()
    links[0], links[1] = links[1], links[0]
    swapped = good.set_column(3, "link", pa.array(links))
    assert checks.check_clean(swapped, c)  # id order broken


def test_enrich_check_accepts_expected_and_rejects_doctored():
    c = corpus.generate(5, 1500)
    good = _enriched_table(c)
    assert checks.check_enriched(good, 5, 5, len(c.kept)) == []
    sent = good.column("sentiment_llm").to_pylist()
    i = next(k for k, s in enumerate(sent) if s == checks.ERROR)
    sent[i] = "Neutral"  # one flipped sentinel
    flipped = good.set_column(good.schema.get_field_index("sentiment_llm"),
                              "sentiment_llm", pa.array(sent))
    problems = checks.check_enriched(flipped, 5, 5, len(c.kept))
    assert any("ERROR_API" in p for p in problems)
    assert checks.check_enriched(good.slice(1), 5, 5, len(c.kept))


def test_benchmark_json_matches_the_metrics_reported():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    assert [w["name"] for w in bench["workloads"]] == list(run.GATED)
    assert set(run.GATED) <= set(run.WORKLOADS)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == run.unit(m["name"])


@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_run_of_every_workload(trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--size", "tiny",
         "--seconds", "1", "--seed", "3", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stdout
    names = run.per_layer_names() if trace else list(run.END_TO_END)
    for w in run.WORKLOADS:
        for name in names:
            assert f"{w}.{name}" in result["metrics"]
    if trace:
        assert result["metrics"]["llm_enrich.llm.repeat_calls"]["value"] > 0
        assert result["metrics"]["news_etl.llm.repeat_calls"]["value"] == 0
        assert result["metrics"]["operator_suite.iterative.construct_jobs"]["value"] > 0
    else:
        assert result["metrics"]["news_etl.wall_s"]["value"] > 0
