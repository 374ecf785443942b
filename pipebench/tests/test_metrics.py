"""Pins the benchmark's metric names and units, and its seeded inputs.

Run from the repository root: ``python3 -m pytest pipebench/tests -q``.
No Spark session is started.
"""

import json
import os
import sys
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pipebench import inputs, run  # noqa: E402
from pipebench.trace import Tracer  # noqa: E402

END_TO_END = {"setup_s": "s", "run_s": "s", "batch_ms_p50": "ms",
              "batch_ms_p90": "ms", "ok_ratio": "ratio"}
PER_LAYER = {
    "plans.compile_s": "s", "sources.build_s": "s",
    "sources.decode_s": "s", "operators.build_s": "s",
    "operators.build_jobs": "count", "sinks.write_s": "s",
    "sinks.jobs": "count", "streaming.add_batch_ms": "ms",
    "streaming.overhead_ms": "ms", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s", "trace.overhead_s": "s",
    "memory.peak_rss_mb": "MB",
}


def test_metric_names_and_units():
    assert run.END_TO_END == END_TO_END
    assert run.PER_LAYER == PER_LAYER


def test_benchmark_json_lists_the_same_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == [
        "events_stream", "warc_ingest"]


class _NoJobs:
    def getJobIdsForGroup(self, group):
        return []


def test_traced_run_reports_every_per_layer_metric():
    sc = SimpleNamespace(
        setJobGroup=lambda *a: None, setLocalProperty=lambda *a: None,
        statusTracker=_NoJobs,
        _jsc=SimpleNamespace(sc=lambda: SimpleNamespace(
            listenerBus=lambda: SimpleNamespace(waitUntilEmpty=lambda: None),
            statusStore=lambda: None)))
    tracer = Tracer(SimpleNamespace(sparkContext=sc))
    tracer.begin_run()
    for batches in ([], [(120.0, 100.0), (130.0, 90.0)]):
        layers = tracer.layer_metrics(1.0, 0.01, batches)
        m = {"layers": [layers], "decode_s": 0.5,
             "traced": [SimpleNamespace(wall_s=1.0)],
             "runs": [SimpleNamespace(wall_s=0.8)]}
        out = run.per_layer(m, 2048)
        assert set(out) == set(PER_LAYER)
        assert abs(out["trace.overhead_s"] - 0.2) < 1e-9


def test_end_to_end_reports_every_metric():
    res = SimpleNamespace(wall_s=2.0, batches=[(100.0, 80.0)] * 20)
    m = {"runs": [res], "attempted": 1, "failures": []}
    out = run.end_to_end(9.0, m)
    assert set(out) == set(END_TO_END)
    assert out["ok_ratio"] == 1.0 and out["batch_ms_p50"] == 100.0


def test_percentile_interpolates():
    assert run.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert run.percentile([1.0, 2.0], 0.9) == 1.9


def test_inputs_repeat_for_a_seed(tmp_path):
    a = inputs.replicate(inputs.documents(5, 200), 5, 0.2)
    b = inputs.replicate(inputs.documents(5, 200), 5, 0.2)
    assert a == b and len(a.doc_id) == 240
    assert a != inputs.replicate(inputs.documents(6, 200), 6, 0.2)
    rows = inputs.write_event_files(inputs.events(5, 3000), 5,
                                    str(tmp_path / "ev"), files=6)
    assert sum(rows) == 3000 and min(rows) >= 3000 * 4 // 30
    sizes_a = inputs.warc_files(a, 5, str(tmp_path / "w1"), files=8)
    sizes_b = inputs.warc_files(b, 5, str(tmp_path / "w2"), files=8)
    assert sizes_a == sizes_b and len(sizes_a) == 8
    for name in os.listdir(tmp_path / "w1"):
        assert (tmp_path / "w1" / name).read_bytes() == \
            (tmp_path / "w2" / name).read_bytes()
