"""``tools/profile.py`` run as users run it: one JSON line per query, the
documented keys, eager build jobs told apart from the action's, the DuckDB
anchor, a per-query timeout that moves on, and unknown names rejected."""

from __future__ import annotations

import json
import subprocess
import sys

from conftest import ROOT, SF_ORACLE

PROFILE = [sys.executable, f"{ROOT}/tools/profile.py", "--sf", SF_ORACLE]
KEYS = {
    "query", "sf", "status", "error",
    "build_s", "count_s", "noop_s", "build_runs_s", "count_runs_s", "noop_runs_s",
    "build_jobs", "jobs", "stages", "tasks", "single_task_stages", "duck_s",
    "loadavg_start", "loadavg_end",
}


def _profile(*args: str) -> tuple[subprocess.CompletedProcess, list[dict]]:
    out = subprocess.run(PROFILE + list(args), capture_output=True, text=True, timeout=900)
    return out, [json.loads(line) for line in out.stdout.splitlines()]


def test_profile_reports_phases_shape_and_anchor():
    out, lines = _profile("--runs", "1", "--duckdb", "q1_pricing_summary", "dedup_minhash_lsh")
    assert out.returncode == 0, out.stdout + out.stderr
    assert [d["query"] for d in lines] == ["q1_pricing_summary", "dedup_minhash_lsh"]
    for d in lines:
        assert set(d) == KEYS
        assert d["status"] == "ok" and d["error"] is None and d["sf"] == SF_ORACLE
        for phase in ("build", "count", "noop"):
            assert d[f"{phase}_s"] == min(d[f"{phase}_runs_s"]) >= 0
            assert len(d[f"{phase}_runs_s"]) == 1
        assert d["jobs"] >= 1 and d["stages"] >= 1 and d["tasks"] >= d["stages"]
        assert 0 <= d["single_task_stages"] <= d["stages"]
        assert d["duck_s"] is not None and d["duck_s"] >= 0
        assert len(d["loadavg_start"]) == len(d["loadavg_end"]) == 3
    q1, lsh = lines
    assert q1["build_jobs"] == 0  # a lazy plan: every job is the action's
    assert lsh["build_jobs"] > 0  # its checkpoints run while fn() builds


def test_profile_timeout_moves_on_and_unknown_name_fails():
    # On 4 cores corpus_semdedup's warm run, the first in a fresh JVM, takes
    # about 14 s and its timed run 6 s; q1's warm and timed runs take 3 s
    # together, 6 s on a host slowed twofold by other load.
    out, lines = _profile("--runs", "1", "--timeout", "10", "corpus_semdedup", "q1_pricing_summary")
    assert out.returncode == 0, out.stdout + out.stderr
    assert [(d["query"], d["status"]) for d in lines] == [
        ("corpus_semdedup", "TIMEOUT"),
        ("q1_pricing_summary", "ok"),
    ]
    assert lines[0]["error"] and lines[0]["noop_s"] is None

    bad = subprocess.run(PROFILE + ["no_such_query"], capture_output=True, text=True, timeout=60)
    assert bad.returncode != 0 and "no_such_query" in bad.stderr
