"""Per-layer tracing, measured from outside the program.

``Tracer.installed()`` swaps every section builder in ``REGISTRY`` for a
timed wrapper (``dataclasses.replace``), and the streaming runner's
stream-source reader likewise. Each call records a span (layer, section,
start, end) and runs under its own Spark job group, so the jobs a
builder starts can be counted afterwards through ``statusTracker`` and
priced through ``statusStore().lastStageAttempt(id)``. Spans stay in
memory; ``layer_metrics`` folds one traced run into the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import dataclasses
import itertools
import os
import statistics
import time
from dataclasses import dataclass

# section kind -> layer name
LAYERS = {"source": "sources", "transform": "operators",
          "destination": "sinks"}


@dataclass
class Span:
    layer: str
    section: str
    start: float
    end: float
    group: str


@dataclass
class SparkCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self.base = ""

    def begin_run(self) -> None:
        """Start a traced run: clear spans, tag the run's own jobs."""
        self.spans = []
        self.base = f"pipebench-{os.getpid()}-run-{next(self._ids)}"
        self.sc.setJobGroup(self.base, self.base)

    def end_run(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _timed(self, layer: str, section: str, fn):
        def call(*args, **kwargs):
            group = f"{self.base}-{layer}-{section}-{next(self._ids)}"
            self.sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append(Span(layer, section, t0,
                                       time.perf_counter(), group))
                self.sc.setJobGroup(self.base, self.base)
        return call

    @contextlib.contextmanager
    def installed(self):
        from mycelial_spark.plans.sections import REGISTRY
        from mycelial_spark.streaming import runner
        saved = dict(REGISTRY.sections)
        saved_read_stream = runner._read_stream
        for name, sdef in saved.items():
            REGISTRY.sections[name] = dataclasses.replace(
                sdef, builder=self._timed(LAYERS[sdef.kind], name,
                                          sdef.builder))
        runner._read_stream = self._timed("sources", "read_stream",
                                          saved_read_stream)
        try:
            yield self
        finally:
            REGISTRY.sections.clear()
            REGISTRY.sections.update(saved)
            runner._read_stream = saved_read_stream

    def counts(self, groups) -> SparkCounts:
        """Jobs of ``groups`` and the last attempt of each of their stages."""
        from py4j.protocol import Py4JError
        jsc = self.sc._jsc.sc()
        # the status store fills from the listener bus, asynchronously
        with contextlib.suppress(Py4JError):
            jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        out = SparkCounts()
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                out.jobs += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else ()):
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Py4JError:
                        continue  # skipped stage: never attempted
                    out.stages += 1
                    out.tasks += st.numTasks()
                    out.input_bytes += st.inputBytes()
                    out.shuffle_read_bytes += st.shuffleReadBytes()
                    out.shuffle_write_bytes += st.shuffleWriteBytes()
                    out.spill_bytes += (st.memoryBytesSpilled()
                                        + st.diskBytesSpilled())
                    out.executor_run_s += st.executorRunTime() / 1000.0
        return out

    def layer_metrics(self, wall_s: float, compile_s: float,
                      batches: list[tuple[float, float]]) -> dict[str, float]:
        """Per-layer numbers of the run just traced."""
        def busy(layer):
            return sum(s.end - s.start for s in self.spans
                       if s.layer == layer)

        def jobs(layer):
            return self.counts([s.group for s in self.spans
                                if s.layer == layer]).jobs

        total = self.counts([self.base] + [s.group for s in self.spans])
        sink_s = busy("sinks")
        if batches:
            add_ms = statistics.median([a for _, a in batches])
            overhead_ms = statistics.median([t - a for t, a in batches])
        else:
            # a batch run commits once: its destination write is the
            # batch, the rest of the run its overhead
            add_ms = sink_s * 1000.0
            overhead_ms = (wall_s - sink_s) * 1000.0
        out = {
            "plans.compile_s": compile_s,
            "sources.build_s": busy("sources"),
            "operators.build_s": busy("operators"),
            "operators.build_jobs": jobs("operators"),
            "sinks.write_s": sink_s,
            "sinks.jobs": jobs("sinks"),
            "streaming.add_batch_ms": add_ms,
            "streaming.overhead_ms": overhead_ms,
        }
        for f in dataclasses.fields(total):
            out[f"spark.{f.name}"] = getattr(total, f.name)
        return out


def decode_seconds(paths: list[str]) -> float:
    """In-process time of the program's public decoders over a workload's
    own input files: transparent decompression, then WARC record and
    HTTP response parsing where the container is WARC."""
    from mycelial_spark.sources.compress import decompress
    from mycelial_spark.sources.warc import parse_warc, split_http_response
    blobs = []
    for p in paths:
        with open(p, "rb") as fh:
            blobs.append(fh.read())
    t0 = time.perf_counter()
    for blob in blobs:
        _, plain = decompress(blob)
        if plain.startswith(b"WARC/"):
            for rec in parse_warc(plain):
                split_http_response(rec["payload"])
    return time.perf_counter() - t0

