"""dedup_stream: near-duplicate removal over a stream of document
micro-batches, against an on-disk signature store.

Documents are runs of random lowercase words, so two unrelated
documents share almost no 5-character shingles. Into every batch after
the first, copies are planted: exact copies and near copies (one word
replaced, true 5-shingle Jaccard >= 0.95) of originals from earlier
batches or earlier in the same batch. A copy always has a higher id than
its original, and no original is copied twice or is itself a copy, so
the expected survivors are exactly the documents that are not copies.

One query runs for the whole measurement, as a long-lived ingest would;
one pass is one micro-batch. A pass moves the next batch file into the
stream's source directory and waits until the query has processed it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BATCHES = 12          # generated; a run feeds as many as its window allows
DOCS = 100            # documents per micro-batch
EXACT = 0.10          # share of each later batch that is an exact copy
NEAR = 0.10           # share that is a near copy
WORDS = (40, 80)      # words per document


def shingles(text: str, k: int = 5) -> set[str]:
    t = text.lower()
    return {t[i : i + k] for i in range(len(t) - k + 1)} if len(t) >= k else {t}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _word(rng) -> str:
    return "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), rng.integers(3, 10)))


def _near_copy(rng, text: str) -> str:
    words = text.split(" ")
    while True:
        edit = list(words)
        edit[rng.integers(len(edit))] = _word(rng)
        near = " ".join(edit)
        if near != text and jaccard(near, text) >= 0.95:
            return near


def generate(seed: int, in_dir: str) -> dict:
    """One parquet file per micro-batch under ``in_dir/batches``."""
    rng = np.random.default_rng(seed)
    texts: dict[int, str] = {}
    copy_of: dict[int, int] = {}
    usable: list[int] = []  # originals not yet copied
    os.makedirs(os.path.join(in_dir, "batches"), exist_ok=True)
    for b in range(BATCHES):
        ids = list(range(b * DOCS + 1, (b + 1) * DOCS + 1))
        n_copy = 0 if b == 0 else int(DOCS * (EXACT + NEAR))
        copy_slots = set(rng.choice(DOCS, n_copy, replace=False).tolist())
        for k, doc_id in enumerate(ids):
            if k in copy_slots and usable:
                src = usable.pop(rng.integers(len(usable)))
                exact = rng.random() < EXACT / (EXACT + NEAR)
                texts[doc_id] = texts[src] if exact else _near_copy(rng, texts[src])
                copy_of[doc_id] = src
            else:
                texts[doc_id] = " ".join(_word(rng) for _ in range(rng.integers(*WORDS)))
                usable.append(doc_id)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": [texts[i] for i in ids]}),
            os.path.join(in_dir, "batches", f"batch-{b:03d}.parquet"),
        )
    return {"texts": texts, "copy_of": copy_of}


def expected(gen: dict, batches: int | None = None) -> dict:
    """What the sink must leave after the first ``batches`` batches."""
    last = (batches if batches is not None else BATCHES) * DOCS
    ids = {i for i in gen["texts"] if i <= last}
    copies = {i for i in gen["copy_of"] if i <= last}
    return {"ids": ids, "copies": copies, "gen": gen}


def check(exp: dict, out, store) -> list[str]:
    errors = []
    ids = out["doc_id"].tolist()
    if len(set(ids)) != len(ids):
        errors.append("a survivor was written twice")
    kept = set(ids)
    if not kept <= exp["ids"]:
        errors.append(f"{len(kept - exp['ids'])} survivors are not input documents")
    dropped = exp["ids"] - kept
    if len(kept) + len(dropped) != len(exp["ids"]):
        errors.append("survivors + drops != input")
    if exp["copies"] - dropped:
        errors.append(f"{len(exp['copies'] - dropped)} planted copies survived")
    if dropped - exp["copies"]:
        errors.append(f"{len(dropped - exp['copies'])} unplanted documents were dropped")
    if out["text"].nunique() != len(out):
        errors.append("two survivors have the same text")
    if set(store["doc_id"].tolist()) != kept:
        errors.append("signature store ids != survivor ids")
    return errors


class Pipeline:
    """A stream through ``stream_near_dup_dedup_sink`` that is fed one
    batch file per pass."""

    # A micro-batch takes seconds of planning; the first warm batch
    # still pays JIT compilation and is not counted.
    warmup = 1
    counted = 2

    def __init__(self, spark, in_dir: str, out_dir: str):
        self.spark, self.in_dir, self.out_dir = spark, in_dir, out_dir
        self.source = os.path.join(out_dir, "source")
        self.fed = 0
        self.query = None

    @property
    def exhausted(self) -> bool:
        return self.fed == BATCHES

    def run(self, span) -> dict:
        from data_pipelines_spark.streaming.dedup import stream_near_dup_dedup_sink

        name = f"batch-{self.fed:03d}.parquet"
        with span("streaming.dedup"):
            if self.query is None:
                os.makedirs(self.source)
                stream = (
                    self.spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(self.source)
                )
                self.query = stream_near_dup_dedup_sink(
                    stream,
                    os.path.join(self.out_dir, "docs"),
                    os.path.join(self.out_dir, "store"),
                    checkpoint=os.path.join(self.out_dir, "checkpoint"),
                    available_now=False,
                ).start()
            os.rename(os.path.join(self.in_dir, "batches", name), os.path.join(self.source, name))
            self.query.processAllAvailable()
        progress = self.query.lastProgress
        if progress is None or progress["batchId"] != self.fed:
            raise RuntimeError(f"no micro-batch ran for {name}")
        self.fed += 1
        return {
            "groups": [f"{self.query.runId}@{progress['batchId']}"],
            "batch_s": progress["durationMs"]["triggerExecution"] / 1000,
        }

    def verify(self, exp: dict) -> list[str]:
        out = pq.read_table(os.path.join(self.out_dir, "docs")).to_pandas()
        store = pq.read_table(os.path.join(self.out_dir, "store")).to_pandas()
        return check(expected(exp["gen"], self.fed), out, store)

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
