"""Self-tests of the benchmark: the correctness gates reject corrupted
outputs, and a tiny run of each workload prints every metric named in
BENCHMARK.json with its unit.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gates  # noqa: E402
from perfbench.trace import parse_metric, percentile_tail  # noqa: E402
from srag_spark.golden import extract_document, recursive_chunk  # noqa: E402
from srag_spark.synth import generate_doc  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- gates reject corrupted outputs -----------------------------------------
def golden_spans(doc_id: str) -> list:
    return extract_document(generate_doc(doc_id, seed=7))[0]


def test_span_gate_rejects_one_swapped_span():
    want = {d: golden_spans(d) for d in ("doc-00000001", "doc-00000002")}
    assert gates.span_sequences(want, {d: list(s) for d, s in want.items()}) == []
    bad = {d: list(s) for d, s in want.items()}
    spans = bad["doc-00000002"]
    i = next(k for k in range(len(spans) - 1) if spans[k] != spans[k + 1])
    spans[i], spans[i + 1] = spans[i + 1], spans[i]
    assert len(gates.span_sequences(want, bad)) == 1
    # a doc whose every span fails to parse has no rows, and no golden spans
    assert gates.span_sequences({**want, "empty": []}, want) == []
    assert gates.span_sequences(want, {"doc-00000001": want["doc-00000001"]})


def test_chunk_gate_rejects_one_dropped_chunk():
    text = " ".join(t for _, t, _ in golden_spans("doc-00000003") if t is not None) * 3
    segs = [k for k, c in enumerate(recursive_chunk(text, max_chars=1000, overlap=200)) if c]
    assert len(segs) > 1
    assert gates.fresh_chunks({"d": list(segs)}, {"d": segs}) == []
    assert gates.fresh_chunks({"d": segs[:-1]}, {"d": segs})
    # a stale segment left over from the doc's previous, longer content
    assert gates.fresh_chunks({"d": segs + [len(segs)]}, {"d": segs})


def test_curation_gate_rejects_one_surviving_exact_copy():
    planted = {"x-doc-00000004", "x-doc-00000009"}
    survivors = {"doc-00000004", "doc-00000009", "doc-00000011"}
    assert gates.no_exact_copy(survivors, planted) == []
    assert gates.no_exact_copy(survivors | {"x-doc-00000009"}, planted)


def test_remaining_gates():
    assert gates.resume_skips([0, 1], 2, [2, 3], 4) == []
    assert gates.resume_skips([0, 1], 1, [1, 2, 3], 4)
    assert gates.checkpoint_docs(10, 10) == [] and gates.checkpoint_docs(9, 10)
    assert gates.lookup_rows("d", [1]) == [] and gates.lookup_rows("d", [1, 2])
    assert gates.query_limit("q", [1] * 5, 5) == [] and gates.query_limit("q", [1] * 6, 5)
    funnel = [("input", 10), ("lang", 9), ("quality", 9), ("survivors", 7)]
    assert gates.monotone_funnel(funnel) == []
    assert gates.monotone_funnel(funnel[:2] + [("quality", 10)])
    assert gates.simhash_signature("Near  copy, text!") == gates.simhash_signature("near copy text")
    assert len(gates.simhash_signature("")) == 32
    sigs = {"a": "0" * 32, "b": "0" * 29 + "111", "c": "1" * 32}
    assert gates.simhash_pairs([("a", "b", 3)], sigs) == []
    assert gates.simhash_pairs([("a", "b", 2)], sigs)
    assert gates.simhash_pairs([("a", "c", 3)], sigs)


def test_metric_helpers():
    assert parse_metric("1,024") == 1024
    assert parse_metric("2.5 s") == 2.5
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, ...)") == 3 * 2**20
    assert percentile_tail([1.0] * 10) is None
    pct, v = percentile_tail([float(x) for x in range(100)])
    assert pct == 90 and v == 89.0


# -- tiny runs name every metric with its unit --------------------------------
def run_bench(*args: str, cwd: Path = ROOT, timeout: int = 600):
    # output to files, not pipes: reading a pipe to its end would also wait
    # for any process that inherited it and outlives the benchmark
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                           stdout=out, stderr=err, text=True, timeout=timeout)
        out.seek(0)
        err.seek(0)
        p.stdout, p.stderr = out.read(), err.read()
    return p


def live_processes_of(cwd: Path) -> list[str]:
    """Processes still running (not zombies) that a benchmark run from
    ``cwd`` started: they carry the SPARK_LOCAL_DIRS it sets."""
    mark = f"SPARK_LOCAL_DIRS={cwd / '.perfbench' / 'tmp' / 'spark'}".encode()
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            env = Path(f"/proc/{pid}/environ").read_bytes().split(b"\0")
            stat = Path(f"/proc/{pid}/stat").read_text()
        except OSError:
            continue
        if mark in env and stat[stat.rindex(")") + 2] != "Z":
            out.append(f"{pid}: {Path(f'/proc/{pid}/cmdline').read_bytes()[:120]!r}")
    return out


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_reports_every_metric(workload, trace):
    p = run_bench("--workload", workload, "--seed", "5", "--seconds", "1",
                  "--trace", trace, "--size", "tiny")
    # the run ends every process it started before it exits
    assert live_processes_of(ROOT) == []
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    want = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(out["metrics"][m["name"]]["value"], float)
    if trace == "1":
        # figures the status-store reader and the span recorder must find
        got = {k: v["value"] for k, v in out["metrics"].items()}
        assert got["spark.jobs"] > 0
        if workload == "batch":
            assert got["curation.after_quality"] >= got["curation.after_exact"] > 0
            assert got["pipeline.jobs_per_wave"] > 0 and got["parse.python_s"] > 0
        if workload == "engine_serve":
            assert got["api.jobs_per_ingest"] > 0 and got["api.jobs_per_query"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                  "--seconds", "1", "--trace", "0", cwd=tmp_path, timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
