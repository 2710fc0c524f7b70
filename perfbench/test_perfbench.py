"""Self-test of the benchmark, at a tiny size.

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q

It checks that a run prints every metric ``BENCHMARK.json`` names, with
its unit, that a wrong expected result shows up as failed operations,
that a checkout without the program fails without printing a result, and
that a run leaves no process behind.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seconds", "1", "--rows", "2000", "--scale", "0.002"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", ["agg", "ingest", "query"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    spec = _spec()
    rc, lines = _run("--workload", workload, "--seed", "0", "--trace", str(trace), *TINY)
    assert rc == 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    named = {line.split()[0]: line.split()[2] for line in lines[:-1] if line.startswith("  ")}
    expect = {"setup_s": "s", "peak_rss_mb": "MB", "footprint_mb": "MB", "op_fail_ratio": "ratio"}
    expect.update({
        "agg": {"agg_seq_per_s": "1/s"},
        "ingest": {"ingest_seq_per_s": "1/s", "stored_bytes_per_input_byte": "ratio"},
        "query": {"query_p50_s": "s", "query_p90_s": "s", "query_samples": "count"},
    }[workload])
    assert {k: named.get(k) for k in expect} == expect


def test_wrong_expected_result_counts_as_failed_operations():
    seed = 9_999  # a seed of its own: its cached oracle is corrupted below
    args = ("--workload", "agg", "--seed", str(seed), "--trace", "0", *TINY)
    cache = os.path.join(ROOT, ".perfbench", f"tokens-s{seed}-n2000")
    shutil.rmtree(cache, ignore_errors=True)
    try:
        rc, lines = _run(*args)
        assert rc == 0 and json.loads(lines[-1])["failed"] == 0
        path = os.path.join(cache, "oracle.json")
        with open(path) as f:
            expected = json.load(f)
        expected["aggregates"][0][3] += 1  # one group's n_rows off by one
        with open(path, "w") as f:
            json.dump(expected, f)
        rc, lines = _run(*args)
        result = json.loads(lines[-1])
        assert rc == 0 and result["correct"] is False
        assert result["failed"] == result["attempted"] >= 1
        ratio = [line.split() for line in lines if line.startswith("  op_fail_ratio")]
        assert ratio == [["op_fail_ratio", "1", "ratio"]]
    finally:
        shutil.rmtree(cache, ignore_errors=True)


def test_checkout_without_the_program_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "baseline"))
    rc, lines = _run("--workload", "agg", "--seed", "1", "--seconds", "10", "--trace", "0",
                     cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith("{") for line in lines)


# Runs a command as a child subreaper, so that whatever the command leaves
# running is re-parented to it; prints the exit code and the number of
# processes left, zombies included, right after the command ends.
HARNESS = textwrap.dedent("""
    import ctypes, os, subprocess, sys
    assert ctypes.CDLL(None).prctl(36, 1, 0, 0, 0) == 0
    rc = subprocess.run(sys.argv[1:], stdout=subprocess.DEVNULL).returncode
    me, left = os.getpid(), 0
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as f:
                left += int(f.read().rsplit(")", 1)[1].split()[1]) == me
        except OSError:
            pass
    print(rc, left)
""")


def test_run_leaves_no_process_behind():
    seed = 9_998  # a seed of its own, so the inputs and oracle are made in the run
    cache = os.path.join(ROOT, ".perfbench", f"tokens-s{seed}-n2000")
    shutil.rmtree(cache, ignore_errors=True)
    try:
        p = subprocess.run(
            [sys.executable, "-c", HARNESS, sys.executable, os.path.join(HERE, "run.py"),
             "--workload", "agg", "--seed", str(seed), "--trace", "0", *TINY],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
        assert p.stdout.split() == ["0", "0"]
    finally:
        shutil.rmtree(cache, ignore_errors=True)
