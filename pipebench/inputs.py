"""Seeded input generator for the pipeline benchmark.

Every workload's files derive from ``--seed`` alone: the same seed writes
byte-identical files. The tables follow the shape of the sf0.1 fixture
tables (5,000 ``documents`` over a 30-word vocabulary, 100,000 ``events``
over 30 days, 1,500 users and 5 event types); the seed picks their
contents, the events file split and order, the document replication, and
the WARC file sizes. Generation needs no Spark session, so its time stays
out of every metric.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a", "the", "spark", "batch", "part", "line", "column", "order",
         "small", "sort", "fast", "value", "scan", "hash", "slow", "group",
         "agg", "filter", "query", "big", "key", "window", "row", "table",
         "stream", "merge", "data", "vector", "customer", "join")
LANGS = ("en", "en", "en", "zh", "fr", "es", "de")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

N_DOCS = 5000
N_SOURCES = 10
N_EVENTS = 100_000
N_USERS = 1500
EVENT_FILES = 20
WARC_FILES = 48
DAY_US = 86_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000


@dataclass
class Docs:
    doc_id: list[int]
    text: list[str]
    lang: list[str]
    source: list[str]

    def table(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.doc_id, pa.int64()),
            "text": pa.array(self.text, pa.string()),
            "lang": pa.array(self.lang, pa.string()),
            "source": pa.array(self.source, pa.string()),
            "n_chars": pa.array([len(t) for t in self.text], pa.int64()),
        })


def documents(seed: int, n: int = N_DOCS) -> Docs:
    """``n`` documents of 8 to 110 vocabulary words, ``src0``..``src9``."""
    rng = random.Random(seed)
    text = [" ".join(rng.choices(VOCAB, k=rng.randint(8, 110)))
            for _ in range(n)]
    return Docs(list(range(n)), text, rng.choices(LANGS, k=n),
                [f"src{i % N_SOURCES}" for i in range(n)])


def replicate(docs: Docs, seed: int, share: float) -> Docs:
    """Append ``share`` * n copies of seed-chosen documents under new ids:
    half exact copies, half near copies with one word replaced, so a
    dedup stage has real duplicates to drop."""
    rng = random.Random(seed * 7919 + 1)
    n = len(docs.doc_id)
    out = Docs(list(docs.doc_id), list(docs.text), list(docs.lang),
               list(docs.source))
    for k in range(int(n * share)):
        j = rng.randrange(n)
        words = docs.text[j].split(" ")
        if k % 2:
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        out.doc_id.append(n + k)
        out.text.append(" ".join(words))
        out.lang.append(docs.lang[j])
        out.source.append(docs.source[j])
    return out


def events(seed: int, n: int = N_EVENTS) -> pa.Table:
    """The ``events`` table: ordered ids and times over January 2024,
    values in whole cents so micro-unit sums are exact."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024_US
    cents = rng.integers(0, 56_022, n)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(cents / 100.0, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def split_sizes(rng: random.Random, total: int, parts: int) -> list[int]:
    """``total`` cut into ``parts`` sizes at seed-chosen points, each at
    least four fifths of an even share: the seed moves the cuts, not the
    amount of work one part holds."""
    floor = total * 4 // (parts * 5)
    cuts = sorted(rng.sample(range(1, total - parts * floor), parts - 1))
    bounds = [0] + cuts + [total - parts * floor]
    return [b - a + floor for a, b in zip(bounds, bounds[1:])]


def write_event_files(table: pa.Table, seed: int, out_dir: str,
                      files: int = EVENT_FILES) -> list[int]:
    """Shuffle the rows by seed and cut them into ``files`` parquet files
    of equal row counts: the seed picks which rows each micro-batch
    carries, not how large the slowest micro-batches are. Files are
    written in stream order, so their modification times order the
    micro-batches. Returns the row counts."""
    n = table.num_rows
    shuffled = table.take(pa.array(np.random.default_rng(seed + 1)
                                   .permutation(n)))
    sizes = [n // files + (i < n % files) for i in range(files)]
    os.makedirs(out_dir, exist_ok=True)
    at = 0
    for i, size in enumerate(sizes):
        pq.write_table(shuffled.slice(at, size),
                       os.path.join(out_dir, f"events-{i:03d}.parquet"))
        at += size
    return sizes


def warc_files(docs: Docs, seed: int, out_dir: str,
               files: int = WARC_FILES) -> list[int]:
    """Pack ``docs`` into ``files`` ``.warc.zst`` files, one HTTP response
    record per document in the ``synth_warc`` layout (target URI carries
    the doc id), zstd-compressed with pyarrow's codec. Half the files
    hold 8 to 24 documents, drawn by seed, and the other half share the
    rest (``split_sizes``), so the compressed files fall on both sides
    of the ``auto`` engine's CLI_MIN_BYTES threshold. Returns the
    compressed file sizes."""
    from mycelial_spark.sources.warc import encode_warc, http_response_bytes

    rng = random.Random(seed * 31 + 7)
    small = [rng.randint(8, 24) for _ in range(files // 2)]
    large = split_sizes(rng, len(docs.doc_id) - sum(small),
                        files - len(small))
    codec = pa.Codec("zstd")
    os.makedirs(out_dir, exist_ok=True)
    sizes, at = [], 0
    for f, take in enumerate(x for pair in zip(small, large) for x in pair):
        records = [{"warc_type": "response",
                    "target_uri": f"http://example.com/doc/{d}",
                    "content_type": "application/http; msgtype=response",
                    "payload": http_response_bytes(t.encode("utf-8"))}
                   for d, t in zip(docs.doc_id[at:at + take],
                                   docs.text[at:at + take])]
        blob = codec.compress(encode_warc(records), asbytes=True)
        with open(os.path.join(out_dir, f"crawl-{f:03d}.warc.zst"),
                  "wb") as fh:
            fh.write(blob)
        sizes.append(len(blob))
        at += take
    return sizes
