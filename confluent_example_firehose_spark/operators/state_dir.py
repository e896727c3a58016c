"""The file-backed state relations of the operator streams.

A keyed-batch stream keeps its state as parquet relations under its
per-run temp root. This module owns every such relation: its path, the
schema of the frame its code writes, its layout, and the one commit
step that swaps a rewrite in. The streams hold handles, never paths.

Layouts:
- `Relation`: one flat directory, appended to and replaced whole (the
  sketch states, compacted by their own merge every epoch, and the
  per-epoch output ledgers).
- `Bucketed`: partitioned by `pb` = hash(probe key) % ROOT_PB, each row
  tagged with the epoch that appended it (`b_id`). An append writes one
  file per touched bucket, a scan plans over only the touched bucket
  directories, and compaction rewrites a bucket that has accrued too
  many files.
- `Versioned`: `pb` partitions under immutable version directories
  `v{K}`. A rewrite builds `v{K+1}` from the touched buckets plus
  hardlinks of the untouched ones, so a frame read at epoch b never
  observes a later epoch's rewrite.

Every read passes the declared schema. Inferring it from a parquet
footer costs a Spark job per read, and a relation that was never
written, or was emptied, reads as an empty frame instead of failing.
Every write checks its frame against the declaration, so a read can
never reinterpret what was written.

Commit: a rewrite is written to a sibling tmp directory and renamed in
(`_swap`), the live directory parked as `<live>.old` between the two
renames. `_recover` is the one rule for a crash inside a swap, applied
before every write and when a handle is opened: a `.old` with no live
directory is the committed state and is restored; a `.old` beside a
live directory is superseded and is dropped. A tmp directory left by
an interrupted write is cleared before it is written again.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Bucket count of the pb column of every bucketed relation. Demo-sized
# by default so the 4-epoch window still shows partition selectivity;
# a 100 TB deployment sizes it so a typical epoch's touched keys hit a
# small fraction of buckets (thousands of buckets over billions of
# classes) — SPARK_GRAFT_ROOT_PB is the deploy-time knob (read once at
# import). It must stay CONSTANT for the lifetime of a relation: pb is
# a pure function of the probe key and the bucket count, so changing it
# between epochs would route probes to the wrong partitions. Every
# registered query builds its state in a per-run temp root, so a
# per-process setting is always safe; tools/ingest_footprint_probe.py
# raises it to measure pruning at a realistic state-to-batch ratio.
ROOT_PB = int(os.environ.get("SPARK_GRAFT_ROOT_PB", "32"))

# Adaptive pruning gate: resolving an epoch's touched-bucket list is a
# driver round-trip (one collect_set job), and on a relation of a few
# MB the full scan is cheaper than that job — always pruning cost
# q_dedup_near_stream ~+1.5 s/epoch at sf0.1 for zero IO saved. Below
# this physical size a scan whose bucket list is still unresolved reads
# the whole relation (same rows: the bucket restriction only removes
# rows the callers' equi-joins could not match); above it, read bytes
# scale with the epoch's touched buckets. Tests lower it to 0 to pin
# the pruned path; the size check is a local walk standing in for
# catalog statistics.
PRUNE_MIN_STATE_BYTES = 32 << 20

# A bucket of an append-only relation accrues one part file per touched
# epoch, so its listing and open cost — the dominant per-read cost the
# touched-dirs plan attacks — would grow linearly over a long ingest.
# Compaction rewrites any bucket holding this many part files into
# one, so a bucket is rewritten at most once per INDEX_COMPACT_FILES
# touches: write amplification <= 1/INDEX_COMPACT_FILES of its size per
# touch, the bin-packing trade of every table format's compaction.
# Tests force it to 2; at the 4-epoch demo SFs the default never fires.
INDEX_COMPACT_FILES = 8


def bucket_of(*cols) -> Column:
    """The pb bucket of a probe key."""
    return F.pmod(F.xxhash64(*cols), F.lit(ROOT_PB)).cast("int")


def data_files(path: str) -> Iterator[tuple[str, os.stat_result]]:
    """(name, stat) of every data file under `path`, as Spark's listing
    sees them: `_`/`.`-prefixed directories and files are skipped (a
    concurrent write's `_temporary` tree, `_SUCCESS`, `.crc` files),
    and a file renamed away between the listing and its stat counts as
    gone. A missing path has no files."""
    for base, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            try:
                yield fn, os.stat(os.path.join(base, fn))
            except FileNotFoundError:
                pass


def dir_bytes(path: str) -> int:
    return sum(st.st_size for _, st in data_files(path))


def _fresh(tmp: str) -> str:
    shutil.rmtree(tmp, ignore_errors=True)
    return tmp


def _swap(tmp: str, live: str) -> None:
    """Commit the fully written `tmp` as `live`."""
    old = live + ".old"
    if os.path.isdir(live):
        os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old, ignore_errors=True)


def _recover(path: str) -> None:
    """Settle every swap of this relation that a crash interrupted: the
    relation's own `.old` sibling and its buckets' `.old` children."""
    olds = [path + ".old"]
    if os.path.isdir(path):
        olds += [
            os.path.join(path, e) for e in os.listdir(path)
            if e.endswith(".old")
        ]
    for old in olds:
        if os.path.isdir(old):
            live = old.removesuffix(".old")
            if os.path.isdir(live):
                shutil.rmtree(old)
            else:
                os.rename(old, live)


def _pb_dir(d: str, k: int) -> str:
    return os.path.join(d, f"pb={k}")


def _with_data(d: str) -> str | None:
    return d if next(data_files(d), None) else None


class Relation:
    """A flat state relation. `schema` is the DDL of the frames written
    to it; the directory exists from the moment the handle is opened."""

    def __init__(self, path: str, schema: str) -> None:
        self.path = path
        self.schema = T.StructType.fromDDL(schema)
        _recover(path)
        os.makedirs(path, exist_ok=True)

    def _data_dir(self) -> str | None:
        """The directory of the relation's current files, or None when
        it holds none."""
        return _with_data(self.path)

    def read(self, s: SparkSession) -> DataFrame:
        d = self._data_dir()
        return self.empty(s) if d is None else s.read.schema(
            self.schema
        ).parquet(d)

    def empty(self, s: SparkSession) -> DataFrame:
        """An empty frame the optimizer can see is empty (a parallelized
        empty list is opaque to it; limit(0) is not), so the joins and
        unions over an empty relation are pruned from the plan instead
        of run as jobs."""
        return s.createDataFrame([], self.schema).limit(0)

    def append(self, df: DataFrame) -> None:
        self._check(df)
        _recover(self.path)
        df.write.mode("append").parquet(self.path)

    def replace(self, merged: DataFrame) -> None:
        """Physically replace the relation with `merged`, its lazily
        merged view. The write is an action, so the old files are fully
        read before anything moves."""
        self._check(merged)
        _recover(self.path)
        tmp = _fresh(self.path + ".tmp")
        merged.write.parquet(tmp)
        _swap(tmp, self.path)

    def _check(self, df: DataFrame) -> None:
        def cols(schema: T.StructType) -> list[tuple[str, str]]:
            return [(f.name, f.dataType.simpleString()) for f in schema]

        if cols(df.schema) != cols(self.schema):
            raise ValueError(
                f"{self.path} is declared {cols(self.schema)}; "
                f"refusing to write {cols(df.schema)}"
            )


class Bucketed(Relation):
    """A pb-partitioned relation; appended rows carry their epoch in
    `b_id`, so every reader's `b_id < b` keeps the epoch's own appends
    invisible to it."""

    def append(self, df: DataFrame) -> None:
        """Append one epoch's rows clustered by bucket (repartition on
        pb), so each touched bucket receives exactly one file per epoch
        instead of one per upstream task."""
        self._check(df)
        _recover(self.path)
        df.repartition("pb").write.partitionBy("pb").mode("append").parquet(
            self.path
        )

    def scan(
        self,
        s: SparkSession,
        buckets: Sequence[int] | Callable[[], Sequence[int]],
        b: int | None = None,
    ) -> DataFrame:
        """Bucket-pruned read (tagged `b_id < b` when b is given): the
        scan is planned over ONLY the touched bucket directories —
        explicit pb=K paths under a basePath, so the pb column survives
        — so per-epoch read cost, the file LISTING included, scales
        with touched buckets. (On a 2048-bucket state, partition
        discovery of the full relation cost 4-5 s per read against ~1 s
        of scan; an isin partition filter pruned the scan but still
        paid the full listing.) A resolved bucket list always prunes.
        A deferred one (a zero-arg callable, resolved by a job) is
        resolved only when the relation clears PRUNE_MIN_STATE_BYTES;
        below it the relation is scanned whole; sizing the relation
        against the gate is the scan's only walk of it. A relation with
        no data and a list with no live bucket read as empty frames."""
        d = self._data_dir()
        if d is None:
            return self.empty(s)
        reader = s.read.schema(self.schema)
        if callable(buckets) and dir_bytes(d) < PRUNE_MIN_STATE_BYTES:
            df = reader.parquet(d)
        else:
            pbs = buckets() if callable(buckets) else buckets
            pbs = [k for k in pbs if os.path.isdir(_pb_dir(d, k))]
            if not pbs:
                return self.empty(s)
            df = reader.option("basePath", d).parquet(
                *[_pb_dir(d, k) for k in pbs]
            )
        return df if b is None else df.filter(F.col("b_id") < b)

    def compact(
        self,
        s: SparkSession,
        buckets: Sequence[int] | Callable[[], Sequence[int]] | None = None,
    ) -> int:
        """Rewrite every bucket holding >= INDEX_COMPACT_FILES part
        files into one file, in ONE Spark job for all of them, each
        bucket then swapped in. Rows are unchanged: the b_id tag is an
        ordinary column inside the files. `buckets` limits the sweep to
        the epoch's touched buckets (a deferred list is resolved only
        above PRUNE_MIN_STATE_BYTES); None sweeps every bucket. Returns
        the bytes written."""
        path = self.path
        _recover(path)
        if callable(buckets):
            big = dir_bytes(path) >= PRUNE_MIN_STATE_BYTES
            buckets = buckets() if big else None
        if buckets is None:
            buckets = [
                int(e[3:]) for e in os.listdir(path)
                if e.startswith("pb=") and e[3:].isdigit()
            ]
        full = [
            k for k in sorted(buckets)
            if os.path.isdir(_pb_dir(path, k))
            and sum(
                fn.startswith("part-") for fn in os.listdir(_pb_dir(path, k))
            ) >= INDEX_COMPACT_FILES
        ]
        written = 0
        if full:
            tmp = _fresh(path + ".compact")
            (
                s.read.schema(self.schema)
                .option("basePath", path)
                .parquet(*[_pb_dir(path, k) for k in full])
                .repartition("pb")
                .write.partitionBy("pb")
                .parquet(tmp)
            )
            written = dir_bytes(tmp)
            for k in full:
                if os.path.isdir(_pb_dir(tmp, k)):
                    _swap(_pb_dir(tmp, k), _pb_dir(path, k))
            shutil.rmtree(tmp, ignore_errors=True)
        return written


class Versioned(Bucketed):
    """A pb-partitioned relation of mutable keyed rows, committed as
    immutable versions v0, v1, ...; reads see the latest version. The
    previous version survives one more commit, so a frame read in one
    epoch stays valid through the next epoch's rewrite."""

    def _versions(self) -> list[int]:
        return [
            int(e[1:]) for e in os.listdir(self.path)
            if e.startswith("v") and e[1:].isdigit()
        ]

    def _data_dir(self) -> str | None:
        v = max(self._versions(), default=None)
        return None if v is None else _with_data(
            os.path.join(self.path, f"v{v}")
        )

    def rewrite(
        self,
        s: SparkSession,
        upserts: DataFrame,
        key_cols: tuple[str, ...],
        delete_keys: DataFrame | None = None,
    ) -> int:
        """Rewrite ONLY the buckets holding changed rows. `upserts`
        (full rows) and `delete_keys` (key_cols only) both carry pb.

        The next version is built in a sibling tmp: each affected
        bucket is written fresh (current rows minus changed keys, plus
        upserts), every unchanged bucket's files are HARDLINKED from
        the current version (zero data copied), then the tmp is renamed
        in and versions older than the current one are pruned. The
        bytes written are returned: they scale with the touched buckets,
        never with total state. pb is bucket-of-PRIMARY-KEY, so a row's
        bucket never changes: a bucket can lose all its rows only
        through explicit deletes, and an affected bucket absent from the
        fresh write is dropped, never stale. An epoch with no changed
        rows skips the write and the version bump. At 100 TB the same
        layout maps onto a table format's partition-level replace (the
        hardlink is the local stand-in for metadata-only retention of
        unchanged files)."""
        self._check(upserts)
        _recover(self.path)
        changed = upserts.select(*key_cols, "pb")
        if delete_keys is not None:
            changed = changed.unionByName(delete_keys.select(*key_cols, "pb"))
        affected = {
            r["pb"] for r in changed.select("pb").distinct().collect()
        }
        if not affected:
            return 0
        v = max(self._versions(), default=None)
        n = 0 if v is None else v + 1
        new = os.path.join(self.path, f"v{n}")
        tmp = _fresh(new + ".tmp")
        keep = self.scan(s, sorted(affected)).join(
            changed.select(*key_cols).distinct(), list(key_cols), "left_anti"
        )
        keep.unionByName(upserts).repartition("pb").write.partitionBy(
            "pb"
        ).parquet(tmp)
        written = dir_bytes(tmp)
        if v is not None:
            cur = os.path.join(self.path, f"v{v}")
            for e in os.listdir(cur):
                if not e.startswith("pb=") or int(e[3:]) in affected:
                    continue
                os.makedirs(os.path.join(tmp, e), exist_ok=True)
                for fn in os.listdir(os.path.join(cur, e)):
                    os.link(
                        os.path.join(cur, e, fn), os.path.join(tmp, e, fn)
                    )
        _swap(tmp, new)
        for k in self._versions():
            if k < n - 1:
                shutil.rmtree(os.path.join(self.path, f"v{k}"))
        return written
