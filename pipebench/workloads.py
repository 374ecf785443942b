"""The benchmark workloads: inputs, pipeline spec, one run, output check.

Each workload runs its spec through the public entry points a user calls
(``Pipeline.from_spec(...).run(spark)`` or
``StreamingPipeline.from_spec(...).start(spark)`` with ``availableNow``)
and checks the written output against its generated inputs.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pipebench import inputs


@dataclass
class RunResult:
    wall_s: float
    compile_s: float
    # (triggerExecution ms, addBatch ms) of each micro-batch that carried
    # rows; a batch workload commits once and records none
    batches: list[tuple[float, float]] = field(default_factory=list)


def release_cached(spark) -> None:
    """Drop cached frames and persisted RDDs left by the previous run."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)


def _rows_digest(ids, texts) -> str:
    h = hashlib.sha256()
    for doc_id, text in sorted(zip(ids, texts)):
        h.update(f"{doc_id}\t".encode())
        h.update(text.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


class Workload:
    """Inputs under ``work/in``; every run writes under ``work/out``."""

    name = ""
    # size arguments of the untimed warm-up instance; {} warms up on the
    # measured input itself. A smaller input starts fewer tasks and
    # leaves the first measured runs warming.
    warmup: dict = {}
    # the warm-up repeats until it has run this long (at least once)
    warmup_s = 0.0

    def __init__(self, work: str):
        self.in_dir = os.path.join(work, "in")
        self.out_dir = os.path.join(work, "out")
        os.makedirs(self.in_dir, exist_ok=True)
        self.sizes: dict[str, object] = {}

    def clean(self) -> None:
        """Remove the previous run's output and checkpoint."""
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def payload_files(self) -> list[str]:
        raise NotImplementedError

    def spec(self) -> dict:
        raise NotImplementedError

    def run(self, spark) -> RunResult:
        raise NotImplementedError

    def check(self, spark) -> str | None:
        """None when the last run's output is correct, else the reason."""
        raise NotImplementedError


class BatchWorkload(Workload):
    def run(self, spark) -> RunResult:
        from mycelial_spark.plans.compiler import Pipeline
        t0 = time.perf_counter()
        pipeline = Pipeline.from_spec(self.spec())
        t1 = time.perf_counter()
        pipeline.run(spark)
        return RunResult(time.perf_counter() - t0, t1 - t0)


class WarcIngest(BatchWorkload):
    """binary_source (*.warc.zst) -> decompressed_payloads ->
    document_records -> text_stats -> parquet_dest."""

    name = "warc_ingest"
    # one-second runs: new Python workers and JIT keep warming for about
    # ten runs, and that trend moved the median between invocations
    warmup_s = 12.0

    def __init__(self, seed, work, n_docs=inputs.N_DOCS):
        super().__init__(work)
        docs = inputs.replicate(inputs.documents(seed, n_docs), seed, 0.2)
        self.warc_dir = os.path.join(self.in_dir, "warc")
        sizes = inputs.warc_files(docs, seed, self.warc_dir)
        from mycelial_spark.sources.zstd import CLI_MIN_BYTES
        self.expected = (len(docs.doc_id),
                         _rows_digest(docs.doc_id, docs.text))
        self.sizes = {"documents": len(docs.doc_id), "files": len(sizes),
                      "files_below_cli_min": sum(s < CLI_MIN_BYTES
                                                 for s in sizes),
                      "input_bytes": sum(sizes)}

    def payload_files(self):
        return sorted(glob.glob(os.path.join(self.warc_dir, "*")))

    def spec(self):
        return {
            "edges": [["landing", "plain"], ["plain", "records"],
                      ["records", "stats"], ["stats", "out"]],
            "nodes": {
                "landing": {"type": "binary_source", "path": self.warc_dir,
                            "pattern": "*.warc.zst"},
                "plain": {"type": "decompressed_payloads"},
                "records": {"type": "document_records"},
                "stats": {"type": "text_stats"},
                "out": {"type": "parquet_dest", "mode": "overwrite",
                        "path": os.path.join(self.out_dir, "docs")},
            },
        }

    def check(self, spark):
        out = pq.read_table(os.path.join(self.out_dir, "docs"),
                            columns=["key", "text"])
        ids = [int(re.search(r"/doc/(\d+)$", k).group(1))
               for k in out["key"].to_pylist()]
        got = (len(ids), _rows_digest(ids, out["text"].to_pylist()))
        if got[0] != self.expected[0]:
            return f"{got[0]} records, expected {self.expected[0]}"
        if got[1] != self.expected[1]:
            return "record text differs from the source documents"
        return None


class EventsStream(Workload):
    """The events table cut into 20 seed-shuffled parquet files, streamed
    one file per trigger with availableNow into rollup_dest."""

    name = "events_stream"
    # three micro-batches of the measured size: the first batches of a
    # fresh session run up to 4x slower, and smaller batches left the
    # measured run's first batches still warming
    warmup = {"n_events": 3 * inputs.N_EVENTS // inputs.EVENT_FILES,
              "files": 3}

    def __init__(self, seed, work, n_events=inputs.N_EVENTS,
                 files=inputs.EVENT_FILES):
        super().__init__(work)
        table = inputs.events(seed, n_events)
        self.events_dir = os.path.join(self.in_dir, "events")
        rows = inputs.write_event_files(table, seed, self.events_dir, files)
        self.expected = _rollup_oracle(table)
        self.sizes = {"events": table.num_rows, "files": len(rows),
                      "min_file_rows": min(rows), "max_file_rows": max(rows),
                      "input_bytes": sum(os.path.getsize(p)
                                         for p in self.payload_files())}

    def payload_files(self):
        return sorted(glob.glob(os.path.join(self.events_dir, "*")))

    def spec(self):
        return {
            "edges": [["events", "typed"], ["typed", "rollup"]],
            "nodes": {
                "events": {"type": "parquet_source", "path": self.events_dir,
                           "max_files_per_trigger": 1},
                "typed": {"type": "select", "columns": [
                    "CAST(ts AS TIMESTAMP) AS ts", "event_type", "user_id",
                    "CAST(round(value * 1000000) AS BIGINT) AS value_u"]},
                "rollup": {"type": "rollup_dest",
                           "path": os.path.join(self.out_dir, "rollup"),
                           "time_col": "ts", "group_cols": ["event_type"],
                           "measure_cols": ["value_u"],
                           "distinct_cols": ["user_id"], "bucket": "day"},
            },
        }

    def run(self, spark) -> RunResult:
        from mycelial_spark.streaming.runner import StreamingPipeline
        t0 = time.perf_counter()
        sp = StreamingPipeline.from_spec(
            self.spec(), os.path.join(self.out_dir, "checkpoint"),
            {"availableNow": True})
        t1 = time.perf_counter()
        queries = sp.start(spark)
        for q in queries:
            q.awaitTermination()
        wall = time.perf_counter() - t0
        batches = []
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            for p in q.recentProgress:
                if p.numInputRows > 0:
                    d = p.durationMs
                    batches.append((float(d["triggerExecution"]),
                                    float(d.get("addBatch", 0))))
        return RunResult(wall, t1 - t0, batches)

    def check(self, spark):
        from mycelial_spark.sinks.rollup import read_rollup
        rows = (read_rollup(spark, os.path.join(self.out_dir, "rollup"))
                .select("_tb", "event_type", "n", "sum_value_u",
                        "min_value_u", "max_value_u",
                        "approx_distinct_user_id").collect())
        got = {(int(r[0]) // 86_400, r[1]): tuple(int(v) for v in r[2:])
               for r in rows}
        if got != self.expected:
            bad = sorted(k for k in self.expected.keys() | got.keys()
                         if got.get(k) != self.expected.get(k))
            return f"{len(bad)} rollup groups differ, first {bad[0]}"
        return None


def _rollup_oracle(table: pa.Table) -> dict:
    """The one-shot aggregate the rollup must converge to, per (day,
    event_type): count, and sum/min/max of the value in integer micro
    units; the distinct-user column is the exact distinct count."""
    day = pc.divide(table["ts"].cast(pa.int64()),
                    inputs.DAY_US).to_numpy()
    value_u = np.rint(table["value"].to_numpy() * 100).astype(np.int64) \
        * 10_000
    t = pa.table({"day": day, "event_type": table["event_type"],
                  "value_u": value_u, "user_id": table["user_id"]})
    agg = t.group_by(["day", "event_type"]).aggregate(
        [("value_u", "count"), ("value_u", "sum"), ("value_u", "min"),
         ("value_u", "max"), ("user_id", "count_distinct")])
    return {(d, e): (n, s, lo, hi, u) for d, e, n, s, lo, hi, u in zip(
        *(agg[c].to_pylist() for c in (
            "day", "event_type", "value_u_count", "value_u_sum",
            "value_u_min", "value_u_max", "user_id_count_distinct")))}


WORKLOADS = {w.name: w for w in (EventsStream, WarcIngest)}
