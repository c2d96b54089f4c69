"""Self-checks of the benchmark: the generator is deterministic per
seed, a tiny run emits every metric named in BENCHMARK.json, the
host-independent ledger counters repeat exactly across two runs of one
seed, and the command leaves no process behind.

    python3 -m pytest perfbench/tests -q

The Spark tests start a JVM per run and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)

#: counters that do not depend on the host: equal across runs of a seed
HOST_INDEPENDENT = (".jobs", ".files_written", "cand_frac", "recall_at_5", "admit_ratio")


def _digest(seed: int, tmp_path) -> str:
    pages = gen.make_pages(seed, 40, 4, "t")
    out = tmp_path / f"warc{seed}"
    h = hashlib.sha256()
    for p in gen.write_warc(pages, str(out)):
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(repr(gen.zipf_picks(seed, ["a", "b", "c"], 50)).encode())
    h.update(repr([gen.query_text(seed, i) for i in range(5)]).encode())
    h.update(repr(gen.request_kinds(seed, 50)).encode())
    h.update(repr(gen.make_cdc_batches(seed, pages, 2, 3, "t")).encode())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    assert _digest(7, tmp_path) == _digest(7, tmp_path / "again")
    assert _digest(7, tmp_path) != _digest(8, tmp_path)


def test_corpus_has_the_planted_properties():
    pages = gen.make_pages(3, 400, 8, "t")
    exact = [p for p in pages if p.exact_dup]
    near = [p for p in pages if p.dup_of and not p.exact_dup]
    assert exact and near
    by_url = {p.url: p for p in pages}
    assert all(by_url[p.dup_of].html == p.html for p in exact)
    chunks = [c for p in pages for c in gen.page_chunks(p)]
    body = [len(c.text.split("Content:\n", 1)[1]) for c in chunks]
    assert max(body) <= 2048
    assert any(n > 1500 for n in body) and any(n < 500 for n in body)
    depths = {max(int(d) for d in re.findall(r"<h([1-6])>", p.html)) for p in pages}
    assert depths == {1, 2, 3, 4}


def _run(capsys, monkeypatch, workload: str, trace: int, seed: int = 5) -> dict:
    for name, value in (
        ("WARMUP_PAGES", 12), ("BATCH_PAGES", 30), ("SERVE_PAGES", 30),
        ("SERVE_COLLECTIONS", 3), ("BATCH_COLLECTIONS", 2), ("LEDGER_PAGES", 30),
        ("RECALL_QUERIES", 8),
    ):
        monkeypatch.setattr(workloads, name, value)
    assert run.main(["--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result["metrics"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_emits_every_end_to_end_metric(capsys, monkeypatch, workload):
    metrics = _run(capsys, monkeypatch, workload, trace=0)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert all(v["value"] > 0 for v in metrics.values())


def test_traced_counters_repeat_across_runs_of_one_seed(capsys, monkeypatch):
    first = _run(capsys, monkeypatch, "serve_topk", trace=1)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in first.items()} == want
    second = _run(capsys, monkeypatch, "serve_topk", trace=1)
    fixed = [k for k in first if k.endswith(HOST_INDEPENDENT)]
    assert fixed
    assert {k: first[k]["value"] for k in fixed} == {k: second[k]["value"] for k in fixed}


@pytest.mark.parametrize("tail, code", [("exit 0", 0), ("sleep 60", 124)])
def test_supervisor_leaves_no_process(tmp_path, tail, code):
    """A run that orphans a process, and one that outlives the time
    limit, both end with every process they started gone."""
    pidfile = tmp_path / "pid"
    script = (
        f"import sys; sys.path.insert(0, {ROOT!r}); from perfbench import run; "
        f"sys.exit(run.supervise(['sh', '-c', 'sleep 60 & echo $! > {pidfile}; {tail}'], limit=2))"
    )
    t0 = time.monotonic()
    assert subprocess.run([sys.executable, "-c", script]).returncode == code
    assert time.monotonic() - t0 < 20
    assert not run._running(int(pidfile.read_text()))
