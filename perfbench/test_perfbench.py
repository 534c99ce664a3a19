"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

The trace tests run on a small event log written by hand in the shapes
Spark 4 records. The smoke test runs every workload once, untraced and
traced, on the unscaled source tables (about three minutes on four cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from inputs import permute_embedding_dims  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    aggregate,
    jobs_by_group,
    self_times,
    stages_from_events,
    union_length,
)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_covered_part_of_children():
    spans = [
        Span(0, "p1", "pass", None, 0.0, 10.0),
        Span(1, "p1", "q/build", 0, 1.0, 4.0),
        Span(2, "p1", "q/execute", 0, 3.0, 6.0),  # overlaps its sibling
        Span(3, "p1", "late", 0, 9.0, 12.0),  # runs past its parent's end
        Span(4, "p1", "q/inner", 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)  # children cover 1..6 and 9..10
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


class FakeContext:
    def __init__(self):
        self.props = {}
        self.groups = []

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def getLocalProperty(self, key):
        return self.props.get(key)


def test_tracer_nests_spans_and_tags_each_with_its_job_group():
    sc = FakeContext()
    tracer = Tracer(sc)
    with tracer.span("p1", "pass") as root:
        with tracer.span("p1", "q/build", root):
            assert sc.props["spark.jobGroup.id"] == "p1/q/build"
        assert sc.props["spark.jobGroup.id"] == "p1/pass"
    assert sc.props["spark.jobGroup.id"] is None
    spans = {s.name: s for s in tracer.spans}
    assert spans["q/build"].parent == spans["pass"].id != spans["q/build"].id
    assert sc.groups == ["p1/pass", "p1/q/build", "p1/pass"]


def _stage(sid, group, start, end, scopes=("WholeStageCodegen (1)",)):
    info = {
        "Stage ID": sid, "Stage Attempt ID": 0,
        "Submission Time": start, "Completion Time": end,
        "RDD Info": [{"Scope": json.dumps({"id": "1", "name": s})} for s in scopes],
    }
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info,
         "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": info},
    ]


def _task(sid, launch, finish, run_ms, cpu_ns, gc_ms=0, shuffle=(0, 0), spill=0,
          read=(0, 0)):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle[0],
                                      "Shuffle Records Written": shuffle[1]},
            "Input Metrics": {"Bytes Read": read[0], "Records Read": read[1]},
        },
    }


# Two jobs of pass p1 (query q), one job outside any group. Times in ms.
EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
     "Properties": {"spark.jobGroup.id": "p1/q/execute"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
     "Properties": {"spark.jobGroup.id": "p1/q/execute"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2], "Properties": {}},
    *_stage(0, "p1/q/execute", 1000, 2000),
    _task(0, 1000, 1100, 90, 80_000_000, read=(2_000_000, 500)),
    _task(0, 1000, 1200, 190, 150_000_000, read=(2_000_000, 500)),
    _task(0, 1000, 1800, 700, 600_000_000, gc_ms=40, shuffle=(3_000_000, 1000),
          read=(2_000_000, 500)),
    *_stage(1, "p1/q/execute", 1500, 3000, scopes=("MapInPandas", "Exchange")),
    _task(1, 1500, 2900, 1300, 1_000_000_000, spill=5_000_000),
    *_stage(2, None, 5000, 6000),
    _task(2, 5000, 6000, 1000, 1_000_000_000),
]


def test_stage_metrics_aggregate_per_pass():
    stages = stages_from_events(EVENTS)
    assert [s["group"] for s in stages] == ["p1/q/execute", "p1/q/execute", None]
    assert stages[0]["skew"] == pytest.approx(800 / 200)
    assert stages[1]["skew"] == 1.0  # one task
    assert [s["python"] for s in stages] == [False, True, False]

    jobs = jobs_by_group(EVENTS)
    assert jobs == {"p1/q/execute": 2}
    mine = [s for s in stages if s["group"] and s["group"].startswith("p1/")]
    m = aggregate(mine, jobs["p1/q/execute"], start=0.5, end=4.0)
    assert m["operators.executor_s"] == pytest.approx(2.28)
    assert m["operators.executor_cpu_s"] == pytest.approx(1.83)
    assert m["operators.gc_s"] == pytest.approx(0.04)
    assert m["operators.shuffle_write_mb"] == pytest.approx(3.0)
    assert m["operators.shuffle_records"] == 1000
    assert m["operators.spill_mb"] == pytest.approx(5.0)
    assert m["operators.task_skew"] == pytest.approx(4.0)
    assert m["operators.python_stage_s"] == pytest.approx(1.3)
    assert m["sources.input_rows"] == 1500
    assert m["sources.input_mb"] == pytest.approx(6.0)
    assert m["queries.jobs"] == 2
    assert m["queries.stages"] == 2
    # stages cover 1.0..3.0 of the 0.5..4.0 pass
    assert m["queries.driver_gap_s"] == pytest.approx(3.5 - 2.0)


def test_embedding_permutation_keeps_values_and_within_copy_cosines():
    rng = np.random.default_rng(0)
    base = rng.normal(size=(4, 8)).astype(np.float32)
    stride = 100
    x = np.concatenate([base, base, base])  # three exact copies
    ids = np.concatenate([np.arange(4) + c * stride for c in range(3)])
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
    })
    out = permute_embedding_dims(table, np.random.default_rng(1), stride)
    y = np.array(out.column("embedding").to_pylist(), dtype=np.float32)
    assert out.column("embedding").type == table.column("embedding").type
    assert len({v.tobytes() for v in y}) == len(y)  # no vector repeats
    for i in range(len(x)):
        assert sorted(y[i]) == sorted(x[i])
    for c in range(3):
        rows = y[c * 4:(c + 1) * 4]
        assert np.allclose(rows @ rows.T, base @ base.T, rtol=1e-5)


def _spark_processes() -> set[int]:
    """Spark JVMs and PySpark workers running on this machine."""
    out = set()
    for p in os.listdir("/proc"):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd = fh.read()
        except (NotADirectoryError, FileNotFoundError, ProcessLookupError):
            continue
        if b"SparkSubmit" in cmd or b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out.add(int(p))
    return out


def _run(workload: str, trace: int) -> dict:
    before = _spark_processes()
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert _spark_processes() <= before, "the run left a Spark process running"
    return json.loads(r.stdout.strip().splitlines()[-1])


ORPHAN = """
import os, subprocess, sys, time
sys.path.insert(0, {here!r})
from procfs import become_subreaper, descendants, reap_descendants

become_subreaper()
# the child exits at once and leaves its own child sleeping
grandchild = "import time; time.sleep({sleep})"
subprocess.run([sys.executable, "-c", "import subprocess, sys; "
                f"subprocess.Popen([sys.executable, '-c', {{grandchild!r}}])"], check=True)
assert descendants(os.getpid()), "the orphan was not adopted"
t0 = time.monotonic()
reap_descendants(timeout={timeout})
assert not descendants(os.getpid())
print(time.monotonic() - t0)
"""


@pytest.mark.parametrize(("sleep", "timeout", "low", "high"), [
    (1, 30, 0.5, 10),  # waits for the orphan to end
    (60, 0.5, 0.4, 10),  # kills it once the timeout has passed
])
def test_reap_descendants_ends_an_orphaned_grandchild(sleep, timeout, low, high):
    script = ORPHAN.format(here=HERE, sleep=sleep, timeout=timeout)
    r = subprocess.run([sys.executable, "-c", script], capture_output=True,
                       text=True, timeout=60)
    assert r.returncode == 0, r.stderr
    assert low < float(r.stdout) < high


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_every_metric_present_with_unit(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in out["metrics"].items()} == want
    assert all(isinstance(m["value"], (int, float)) for m in out["metrics"].values())


def test_outside_a_checkout_exits_nonzero_without_a_result(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    r = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "relational",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0
    assert "correct" not in r.stdout
