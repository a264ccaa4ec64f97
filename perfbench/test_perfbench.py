"""Tests of the benchmark itself: generators, checks and one tiny run of each
workload. Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import check, gen, run, workloads  # noqa: E402
from map_reduce_implementation_spark.jobs.word_finder import word_finder_python  # noqa: E402


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Small inputs in a scratch data directory."""
    monkeypatch.setattr(gen, "DATA_DIR", tmp_path / "data")
    monkeypatch.setattr(run, "RECORDS", tmp_path / "records")
    monkeypatch.setattr(workloads, "TEXT_MB", 0.05)
    monkeypatch.setattr(workloads, "DEDUP_DOCS", 60)
    monkeypatch.setattr(workloads, "QUERY_SF", 0.001)
    mix = ["topk_orders", "dedup_exact", "dedup_fuzzy_clusters"]
    monkeypatch.setattr(workloads, "QUERY_MIX", mix)
    monkeypatch.setattr(workloads.QueryMix, "kinds", mix)
    return tmp_path


def _run(capsys, workload: str, trace: int) -> dict:
    code = run.main(["--workload", workload, "--seed", "7", "--seconds", "0.1",
                     "--trace", str(trace)])
    assert code == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


# -- generators and checks (no Spark) ----------------------------------------


def test_finder_oracle_boundary_rule():
    lines = ["the cat", "_the", "the_", "the9", "3the", "The", "other", "(the)", "x the'"]
    assert len(word_finder_python(lines, gen.FINDER_WORD)) == 5


def test_text_corpus_truth(tiny):
    path = gen.text_corpus(3, 0.05)
    truth = gen.load_truth(path)
    raw = (path / "corpus.txt").read_text()
    assert truth["bytes"] == len(raw)
    for letter, n in truth["letters"].items():
        assert n == raw.upper().count(letter)
    assert truth["finder_lines"] == len(word_finder_python(raw.splitlines(), gen.FINDER_WORD))
    assert 0 < truth["finder_lines"] < truth["lines"]
    assert gen.text_corpus(3, 0.05) == path  # cached by seed and size
    assert gen.load_truth(gen.text_corpus(4, 0.05)) != truth


def _shingles(text: str) -> set[tuple[str, ...]]:
    ts = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    return {tuple(ts[i:i + 5]) for i in range(len(ts) - 4)}


def test_dedup_chains_are_near_duplicates(tiny):
    import pyarrow.parquet as pq

    path = gen.dedup_corpus(5, 80)
    truth = gen.load_truth(path)
    docs = pq.read_table(path / "documents.parquet").to_pydict()
    sh = {d: _shingles(t) for d, t in zip(docs["doc_id"], docs["text"])}
    assert sorted(d for c in truth["clusters"] for d in c) == sorted(sh)
    # chain members are stored in order of generation
    order = {d: i for i, d in enumerate(docs["doc_id"])}
    for members in truth["clusters"]:
        chain = sorted(members, key=order.get)
        for a, b in zip(chain, chain[1:]):
            assert len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.8
    first = [min(c, key=order.get) for c in truth["clusters"]]
    for a in first:
        for b in first:
            if a < b:
                assert len(sh[a] & sh[b]) == 0


def test_wrong_outputs_are_reported():
    truth = {"letters": {chr(65 + i): i for i in range(26)}, "finder_lines": 3,
             "clusters": [[1, 2], [3]], "docs": 3}
    rows = [(k, v) for k, v in sorted(truth["letters"].items())]
    assert check.letter_rows(rows, truth) is None
    rows[4] = ("E", 5)
    assert check.letter_rows(rows, truth) is not None
    assert check.mapreduce_lines([f"{k} {v}" for k, v in rows], truth) is not None
    assert check.finder_count(2, truth, "finder") is not None
    assert check.clusters([(1, 1), (2, 1), (3, 3)], truth) is None
    assert check.clusters([(1, 1), (3, 3)], truth) is not None  # member missing
    assert check.clusters([(1, 1), (2, 2), (3, 3)], truth) is not None


def test_query_result_tolerance():
    import pandas as pd

    oracle = {"columns": ["a", "b"], "rows": [[1, 0.5], [2, 0.25]]}
    pdf = pd.DataFrame({"b": [0.25, 0.5 * (1 + 1e-12)], "a": [2, 1]})
    assert check.query_result(["b", "a"], pdf, oracle) is None
    pdf.loc[0, "b"] = 0.26
    assert check.query_result(["b", "a"], pdf, oracle) is not None
    assert check.query_result(["a"], pdf[["a"]], oracle) is not None


def test_stolen_share():
    assert run.stolen_share((100, 10), (180, 30)) == pytest.approx(0.2)
    assert run.stolen_share((100, 10), (100, 10)) == 0.0
    busy, steal = run.cpu_ticks()
    assert busy > 0 and steal >= 0


# -- tiny end-to-end runs ------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_emits_every_metric(tiny, capsys, workload):
    for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
        out = _run(capsys, workload, trace)
        assert out["correct"] is True and out["failed"] == 0
        assert out["attempted"] >= 1
        assert {k: v["unit"] for k, v in out["metrics"].items()} == names
        assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    layer = out["metrics"]
    if workload == "text_scan":
        assert layer["core.map_partitions_reported"]["value"] == workloads.SPLIT_NUM
        assert layer["core.tasks"]["value"] >= 1
        assert layer["jobs.finder_lines"]["value"] > 0
    else:
        assert layer["query.build_jobs"]["value"] >= 0
        assert layer["dedup.cc_jobs"]["value"] > 0
        assert layer["dedup.clusters"]["value"] > 0
    rec = json.loads((tiny / "records" / f"{workload}-s7-trace1.json").read_text())
    for key in ("nproc", "load1", "load5", "pyspark", "seed"):
        assert key in rec["host"]
    assert any(s["name"] == "spark.job" for s in rec["spans"])
    # layer self times plus the remainder add up to the operations' wall time
    total = sum(v for k, v in rec["per_layer"].items() if k.startswith("self."))
    assert total == pytest.approx(rec["per_layer"]["trace.op_wall_s"], rel=1e-6)


@pytest.mark.parametrize("workload,corrupt", [
    ("text_scan", lambda t: t["letters"].update(E=t["letters"]["E"] + 1)),
    ("query_mix", lambda t: t["oracles"]["topk_orders"]["rows"].pop()),
])
def test_wrong_output_counts_as_failed(tiny, capsys, monkeypatch, workload, corrupt):
    real = gen.load_truth

    def altered(path):
        truth = real(path)
        if "letters" in truth or "oracles" in truth:
            corrupt(truth)
        return truth

    monkeypatch.setattr(gen, "load_truth", altered)
    out = _run(capsys, workload, 0)
    assert out["correct"] is False and out["failed"] >= 1


def test_finder_that_writes_nothing_counts_as_failed(tiny, capsys, monkeypatch):
    from map_reduce_implementation_spark.sources import tables

    monkeypatch.setattr(tables, "write_single_text_file", lambda df, path: None)
    out = _run(capsys, "text_scan", 0)
    finders = out["attempted"] // len(workloads.TextScan.kinds)
    assert out["correct"] is False and out["failed"] == finders


def test_missing_cluster_member_counts_as_failed(tiny, capsys, monkeypatch):
    real = gen.load_truth

    def altered(path):
        truth = real(path)
        if "clusters" in truth:
            big = max(truth["clusters"], key=len)
            big.pop()
        return truth

    monkeypatch.setattr(gen, "load_truth", altered)
    out = _run(capsys, "query_mix", 1)
    assert out["correct"] is False and out["failed"] >= 1
    rec = json.loads((tiny / "records" / "query_mix-s7-trace1.json").read_text())
    assert all(f.startswith("fuzzy_dedup:") for f in rec["failures"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("data", "records", "__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "text_scan", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
