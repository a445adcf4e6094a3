"""Self-test of the benchmark at tiny size: every named metric is printed
with its unit, a corrupted expectation fails the run, the /proc sampler
sees child processes, and a checkout without the program is refused.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import metrics  # noqa: E402
from perfbench.corpus import load_or_build  # noqa: E402
from perfbench.harness import PeakMemory  # noqa: E402
from perfbench.workloads import WORKLOADS, bad_docs  # noqa: E402


def run(*args: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, str(cwd / "perfbench" / "run.py"), "--seconds", "1", *args]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=cwd, timeout=300)
    return proc.returncode, proc.stdout.strip().splitlines()


def test_benchmark_json_matches_metrics_table():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v[0] for k, v in metrics.END_TO_END.items()
    }
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in metrics.PER_LAYER.items()
    }
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_bad_docs_flags_changed_missing_and_duplicated_spans():
    exp = pd.DataFrame(
        {"doc_id": ["a", "a", "b", "c"], "kind": ["text"] * 4, "text": ["x", "y", "z", "w"],
         "media_ref": ["", "p", "", ""], "order": [0, 1, 0, 0]}
    )
    assert bad_docs(exp.copy(), exp) == set()
    changed = exp.copy()
    changed.loc[1, "text"] = "Y"
    assert bad_docs(changed, exp) == {"a"}
    assert bad_docs(exp.iloc[:3], exp) == {"c"}
    assert bad_docs(pd.concat([exp, exp.iloc[[2]]]), exp) == {"b"}


def test_peak_memory_sees_child_processes():
    hog = "import time; b = bytearray(64 << 20); b[::4096] = b'x' * len(b[::4096]); time.sleep(3)"
    child = subprocess.Popen([sys.executable, "-c", hog])
    try:
        with PeakMemory(interval=0.02) as mem:
            time.sleep(1.5)
    finally:
        child.kill()
        child.wait()
    assert mem.peak >= 48 << 20


@pytest.mark.parametrize("workload", ["interleaved_html", "pages_resume"])
def test_tiny_run_prints_every_end_to_end_metric(workload):
    code, lines = run("--workload", workload, "--size", "tiny", "--trace", "0")
    assert code == 0, lines
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        k: v[0] for k, v in metrics.END_TO_END.items()
    }
    assert all(m["value"] > 0 for m in result["metrics"].values())
    for name in metrics.END_TO_END:
        assert any(ln.split()[:1] == [name] for ln in lines), name


def test_tiny_traced_run_prints_every_per_layer_metric():
    code, lines = run("--workload", "pages_scan", "--size", "tiny", "--trace", "1")
    assert code == 0, lines
    got = json.loads(lines[-1])["metrics"]
    assert {k: m["unit"] for k, m in got.items()} == {k: v[0] for k, v in metrics.PER_LAYER.items()}
    assert got["decode.jpeg_ms"]["value"] > 0 and got["image_ops.robust_ms"]["value"] > 0
    assert got["spark.tasks"]["value"] > 0


def test_corrupted_expectation_fails_the_run():
    seed = 990001  # reserved for this test: its cached corpus is altered
    corpus, _ = load_or_build(WORKLOADS["interleaved_html"]("tiny").spec, seed, str(ROOT / ".perfbench_cache"))
    try:
        part = next((Path(corpus) / "expected").glob("*.parquet"))
        expected = pq.read_table(part)
        rows = expected.to_pylist()
        rows[0]["text"] += "#"
        pq.write_table(expected.from_pylist(rows, schema=expected.schema), part)
        code, lines = run("--workload", "interleaved_html", "--size", "tiny", "--seed", str(seed))
    finally:
        shutil.rmtree(corpus)
    result = json.loads(lines[-1])
    assert code == 1
    assert not result["correct"] and result["failed"] >= 1


def test_checkout_without_the_program_is_refused(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = run("--workload", "pages_scan", cwd=tmp_path)
    assert code != 0
    assert not any(ln.startswith("{") for ln in lines)
