"""The epoch runtime shared by every keyed-batch operator stream.

Each stream is the reference's consume loop — poll, process, commit
(`AbstractFirehose.java:116-131`) — over a file-stream twin of a Kafka
ingest: the input table is staged as SK_BATCHES key-residue files,
replayed one file per trigger, and every epoch is one `foreachBatch`
call with the stream's own processing. Both temp-root lifetimes
(`state_root` per run, `process_root` per process), the trigger and
checkpoint of every finite stream in the package (`drain`), the epoch
numbering (`replay_epochs`) and the one handle for concurrent work
inside an epoch (`Overlap`) live here once.
"""

from __future__ import annotations

import atexit
import glob
import itertools
import os
import shutil
import tempfile
import threading
import time
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

SK_BATCHES = 4  # micro-batches per keyed-batch stream


def state_root(prefix: str) -> tempfile.TemporaryDirectory:
    """The per-run root of a stream's state, staging and checkpoint: a
    fresh temp directory, removed when the run leaves the block, also
    when an epoch raised. Streams call it through this module
    (`stream_runtime.state_root`), so substituting the one attribute
    keeps the state of every stream's run."""
    return tempfile.TemporaryDirectory(
        prefix=prefix, ignore_cleanup_errors=True
    )


def process_root(prefix: str) -> str:
    """A fresh temp directory removed at process exit, for runs that
    return frames reading the files they wrote (a sink read back, a
    round trip, the memory sink's checkpoint): such a directory must
    outlive every collect of the returned frame, and process exit is
    the earliest point that is sure to."""
    root = tempfile.TemporaryDirectory(
        prefix=prefix, ignore_cleanup_errors=True
    )
    atexit.register(root.cleanup)
    return root.name


def drain(writer: DataStreamWriter, root: str) -> None:
    """Run a finite stream to completion: checkpoint `writer` at
    `<root>/ckpt`, trigger every batch available now, start the query
    and await it. Returns once every input file present at start has
    been processed; an epoch's error surfaces here as the query's
    termination error. A second drain on the same root resumes from
    the checkpoint and reads only files the first one did not commit."""
    query = (
        writer.option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


class Overlap:
    """Run independent driver-submitted jobs (zero-arg callables)
    concurrently, each on its own thread from the moment it is
    submitted. Spark executes several jobs at once inside one
    application, and FIFO scheduling backfills one job's task tail with
    the next job's tasks, so a small state write's submit + commit
    constant hides behind the others' instead of being paid
    back-to-back.

    `with Overlap() as jobs: jobs.submit(fn)` — leaving the block is the
    join point. Every submitted job is awaited, so no write is ever left
    in flight. If the body finished cleanly, the first job error in
    submission order is re-raised; if the body raised, its error
    propagates once the jobs have settled. Callers release the caches
    their jobs read only after the block."""

    def __init__(self) -> None:
        self._threads: list[threading.Thread] = []
        self._errors: list[BaseException | None] = []

    def submit(self, fn: Callable[[], object]) -> None:
        i = len(self._errors)
        self._errors.append(None)

        def run() -> None:
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 — re-raised at exit
                self._errors[i] = e

        t = threading.Thread(target=run, name=f"overlap-{i}")
        self._threads.append(t)
        t.start()

    def __enter__(self) -> Overlap:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        for t in self._threads:
            t.join()
        if exc is None:
            for e in self._errors:
                if e is not None:
                    raise e


def stage_key_batches(
    df: DataFrame, root: str, n_batches: int, key: str = "event_id"
) -> str:
    """Write df as n_batches single-file parquet batches keyed by
    `key` % n_batches, mtime-ordered so a maxFilesPerTrigger=1 file
    stream replays them as ordered epochs (the q_cms_stream staging
    shape; batches are non-empty when the key domain is dense).
    Returns the stage directory.

    Keys must be NONNEGATIVE (asserted): Spark's % keeps the
    dividend's sign, so a negative key's residue would match no staged
    batch in [0, n) and the row would silently vanish — while the
    DuckDB oracles' min(b_id) census would still count it (ADVICE r9
    item 1). Testdata ids are nonnegative; the assertion turns the
    latent divergence into a loud error if that ever drifts."""
    min_key = df.agg(F.min(key).alias("m")).first()["m"]
    if min_key is not None and min_key < 0:
        raise ValueError(
            f"stage_key_batches requires nonnegative {key!r} "
            f"(got min={min_key}): negative residues of Spark's % "
            "match no staged batch"
        )
    stage = os.path.join(root, "in")
    os.makedirs(stage)

    def _write(k: int) -> None:
        tmp = os.path.join(root, f"tmp{k}")
        df.filter(F.col(key) % n_batches == k).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(stage, f"b{k}.parquet"))

    # The batch writes touch disjoint tmp dirs and stage files, so they
    # overlap; the mtimes are stamped only after every file has landed,
    # because the stamp order IS the replay order.
    with Overlap() as jobs:
        for k in range(n_batches):
            jobs.submit(lambda k=k: _write(k))
    base = time.time()
    for k in range(n_batches):
        p = os.path.join(stage, f"b{k}.parquet")
        os.utime(p, (base + k, base + k))
    return stage


def replay_epochs(
    df: DataFrame,
    key: str,
    root: str,
    per_batch: Callable[[DataFrame, int], None],
) -> None:
    """Replay `df` as SK_BATCHES ordered epochs through a file stream
    and call `per_batch(batch_df, b)` for b = 0, 1, ...; returns once
    every staged batch has been processed, and an epoch's error
    surfaces here as the query's termination error.

    The batches are staged under `root` (stage_key_batches), read one
    file per trigger and drained under `root`. Files replay in
    ascending mtime order, so epoch b holds exactly the rows with
    key % SK_BATCHES == b — the batch id the oracles' residue census
    assigns them."""
    stream = (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_key_batches(df, root, SK_BATCHES, key=key))
    )
    epochs = itertools.count()
    drain(
        stream.writeStream.foreachBatch(
            lambda batch_df, _id: per_batch(batch_df, next(epochs))
        ),
        root,
    )
