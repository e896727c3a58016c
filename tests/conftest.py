from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from confluent_example_firehose_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _drain_deferred_caches():
    """Release builder caches deferred by
    caching.materialize_unpersist(defer=True) after every test — the
    production drain points are the driver-contract wrapper and the
    bench loop; in the suite, the test boundary is the equivalent
    'result has been collected' point."""
    yield
    from confluent_example_firehose_spark.caching import drain_pending

    drain_pending()


@pytest.fixture
def lazy_caching(monkeypatch):
    """Plan-shape tests need the PRE-materialization plan: the
    production path eagerly localCheckpoints results before dropping
    builder caches (caching.materialize_unpersist, r10), which replaces
    the returned frame's plan with a checkpoint scan. This fixture
    swaps in a pass-through so the test can explain the real query
    plan; builder caches are left registered for the session (tiny at
    the test SF) because the lazy frame still reads them."""
    import confluent_example_firehose_spark.caching as caching

    monkeypatch.setattr(
        caching,
        "materialize_unpersist",
        lambda result, *cached, **_kw: result,
    )


class StreamState:
    """What the stream runs of one test left behind, for assertions
    about their state: the kept temp roots, every relation handle
    opened, every bucket scan as (handle, b, touched, total) bytes —
    touched from the returned frame's input files, total from the
    relation at call time — and the bytes each rewrite and compaction
    returned, as (handle, bytes)."""

    def __init__(self) -> None:
        self.roots: list[str] = []
        self.handles: list = []
        self.scans: list[tuple] = []
        self.rewrites: list[tuple] = []
        self.compactions: list[tuple] = []

    def rel(self, name: str):
        """The last opened handle of the relation called `name`."""
        return [h for h in self.handles if _named(h, name)][-1]

    def reads(self, name: str) -> list[tuple[int, int]]:
        """(touched, total) of the scans of relation `name` that found
        state: the epochs after the relation's first write."""
        return [(t, n) for h, _, t, n in self.scans if _named(h, name) and n]

    def written(self, name: str) -> list[int]:
        return [n for h, n in self.rewrites if _named(h, name)]


def _named(handle, name: str) -> bool:
    return os.path.basename(handle.path) == name


@pytest.fixture
def stream_state(monkeypatch, tmp_path):
    """Keep each stream run's state root under tmp_path instead of
    removing it, and record how the run opened, scanned and rewrote its
    relations (StreamState). A scan made inside a rewrite is the
    rewrite's own read of the rows it replaces and is not recorded."""
    import contextlib
    import tempfile
    import threading
    from urllib.parse import unquote, urlparse

    from confluent_example_firehose_spark.operators import (
        state_dir,
        stream_runtime,
    )

    rec = StreamState()
    kept = tmp_path / "stream_state"
    kept.mkdir()
    in_rewrite = threading.local()
    rel, bkt = state_dir.Relation, state_dir.Bucketed
    init, scan, compact = rel.__init__, bkt.scan, bkt.compact
    rewrite = state_dir.Versioned.rewrite

    @contextlib.contextmanager
    def kept_root(prefix):
        rec.roots.append(tempfile.mkdtemp(prefix=prefix, dir=kept))
        yield rec.roots[-1]

    def spy_init(self, *args, **kwargs):
        init(self, *args, **kwargs)
        rec.handles.append(self)

    def spy_scan(self, s, buckets, b=None):
        df = scan(self, s, buckets, b)
        if not getattr(in_rewrite, "on", False):
            d = self._data_dir()
            touched = sum(
                os.path.getsize(unquote(urlparse(f).path))
                for f in df.inputFiles()
            )
            total = 0 if d is None else state_dir.dir_bytes(d)
            rec.scans.append((self, b, touched, total))
        return df

    def spy_rewrite(self, *args, **kwargs):
        in_rewrite.on = True
        try:
            n = rewrite(self, *args, **kwargs)
        finally:
            in_rewrite.on = False
        rec.rewrites.append((self, n))
        return n

    def spy_compact(self, *args, **kwargs):
        n = compact(self, *args, **kwargs)
        rec.compactions.append((self, n))
        return n

    monkeypatch.setattr(stream_runtime, "state_root", kept_root)
    monkeypatch.setattr(rel, "__init__", spy_init)
    monkeypatch.setattr(bkt, "scan", spy_scan)
    monkeypatch.setattr(bkt, "compact", spy_compact)
    monkeypatch.setattr(state_dir.Versioned, "rewrite", spy_rewrite)
    return rec
