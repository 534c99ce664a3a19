"""Gate: the physical-plan audit must pass at head, and the committed
PLANS.md must be the report of THAT run.

Why this test exists: without it ``python tools/plan_audit.py`` can
exit 1 while ``pytest tests/`` stays green — a refactor that hides an
audited subtree from its needle leaves the committed PLANS.md showing
the property ✅, an all-green report that a fresh run contradicts.
The plan properties are the 100-TB design contract (no cartesian pair
stages, partial aggregation, pinned joins, spread pair fan-outs); a
silent regression is exactly what they exist to catch, so the audit's
exit code is asserted here, CI-style.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
from pathlib import Path

import pyspark

REPO = Path(__file__).resolve().parents[1]


def _audit_source_digest() -> str:
    """Digest of every input that can change the audit's outcome: the
    whole query/operator package, the auditor itself, the entry module,
    the committed report, AND the plan-shaping environment — the
    installed pyspark version and ``SPARK_GRAFT_CPUS`` (which sets the
    session's shuffle-partition count, so hashpartitioning nodes in the
    plan text carry it).  Without the environment inputs, a cached
    green from one environment would silently skip the gate in another
    where a fresh run fails.  (The planned-against
    sf0.01 testdata is immutable, so it is not part of the key.)"""
    h = hashlib.sha256()
    # NUL-delimit each variable-length field so distinct input
    # combinations cannot concatenate to the same byte stream (e.g.
    # version "4.1.2" + cpus "32" vs "4.1.23" + "2").
    h.update(pyspark.__version__.encode() + b"\0")
    h.update(os.environ.get("SPARK_GRAFT_CPUS", "32").encode() + b"\0")
    paths = sorted(
        [
            *(REPO / "map_reduce_for_dbpl_dataset_spark").rglob("*.py"),
            REPO / "tools" / "plan_audit.py",
            REPO / "__spark_entry__.py",
            REPO / "PLANS.md",
        ]
    )
    # The AQE/session conf that shapes every audited plan lives in
    # session.py, which the package rglob above covers — pin that so a
    # future move out of the package cannot silently drop it from the
    # key.  Match the exact relative path, not the basename: an
    # unrelated file that happens to be named session.py elsewhere
    # under the package must not be able to mask a move of the real
    # conf module.
    session_rel = Path("map_reduce_for_dbpl_dataset_spark") / "session.py"
    assert any(p.relative_to(REPO) == session_rel for p in paths), (
        "session.py (AQE/plan-shaping conf) left the digest's coverage"
    )
    for p in paths:
        h.update(str(p.relative_to(REPO)).encode() + b"\0")
        b = p.read_bytes()
        h.update(str(len(b)).encode() + b"\0")  # length-prefix the bytes
        h.update(b)
    return h.hexdigest()


def test_plan_audit_exits_green_and_report_is_current(request):
    # The subprocess plans all 134 batch queries (~5 min), too much
    # for every interactive pytest run.  Cache the green result keyed
    # on a digest of the audit-relevant source:
    # any edit to the package, the auditor, the entry module, or
    # PLANS.md changes the key and forces a fresh run, so the gate
    # stays always-on while unchanged-source re-runs are instant.
    digest = _audit_source_digest()
    cache_key = "plan_audit_gate/green_digest"
    # cache is None under -p no:cacheprovider — run unconditionally.
    cache = getattr(request.config, "cache", None)
    if cache is not None and cache.get(cache_key, None) == digest:
        return
    proc = subprocess.run(
        [sys.executable, "tools/plan_audit.py"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    tail = (proc.stdout[-4000:] or "") + (proc.stderr[-2000:] or "")
    assert proc.returncode == 0, f"plan audit red at head:\n{tail}"

    # The committed report must list exactly the property rows the
    # fresh run produced (all ✅, same queries, same properties) — a
    # check edit or plan change without `--write` fails here.
    fresh_rows = [ln for ln in proc.stdout.splitlines() if ln.startswith("| `")]
    committed_rows = [
        ln
        for ln in (REPO / "PLANS.md").read_text().splitlines()
        if ln.startswith("| `")
    ]
    assert fresh_rows, "audit printed no property rows — output format drifted"
    assert fresh_rows == committed_rows, (
        "PLANS.md is stale: regenerate with `python tools/plan_audit.py --write`"
    )
    if cache is not None:
        cache.set(cache_key, digest)
