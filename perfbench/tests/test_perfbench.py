"""Tests of the benchmark's own helpers: percentile rule, self-time
arithmetic, marker matching, the seeded generators and the process
cleanup. No Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    assign_parents,
    covered,
    percentile,
    self_times,
    stolen_share,
    tail_percentile,
)
from perfbench.workloads import table_hash, unstolen  # noqa: E402


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile([3.0], 99.9) == 3.0


# -- self time ---------------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(-5, 20)], 0, 10) == 10
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "render", 0.0, 10.0),
        Span(2, "job", 1.0, 3.0, parent=1),
        Span(3, "job", 2.0, 5.0, parent=1),
        Span(4, "job", 8.0, 10.0, parent=1),
        Span(5, "stage", 1.0, 2.0, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(4.0)
    assert st[2] == pytest.approx(1.0)
    assert st[5] == pytest.approx(1.0)


def test_assign_parents_picks_innermost_container():
    spans = [
        Span(1, "pass", 0.0, 10.0),
        Span(2, "render", 2.0, 6.0),
        Span(3, "job", 3.0, 4.0),
        Span(4, "job", 7.0, 8.0),
    ]
    assign_parents(spans)
    assert [s.parent for s in spans] == [None, 1, 2, 1]


# -- stolen time --------------------------------------------------------------


def test_stolen_share_is_steal_over_wanted_cpu_time():
    # 30 jiffies stolen while 90 ran: a quarter of the wanted time
    assert stolen_share((100, 1000), (130, 1090)) == pytest.approx(0.25)
    assert stolen_share((5, 7), (5, 7)) == 0.0


def test_unstolen_removes_each_pass_share():
    assert unstolen([4.0, 6.0], [0.0, 0.5]) == pytest.approx([4.0, 3.0])


# -- process cleanup ----------------------------------------------------------


def test_stop_children_ends_orphaned_grandchildren():
    # the shell exits at once and orphans its sleep, as Spark's JVM
    # orphans its launcher shell; run in a subprocess so the test
    # runner itself does not become a subreaper
    code = (
        "import subprocess, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from perfbench import run\n"
        "run.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 &'], check=True)\n"
        "assert run._children(), 'the orphan was not adopted'\n"
        "run.stop_children(grace_s=0.2)\n"
        "print(run._children())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"


# -- marker matching and exposition replay ----------------------------------


def test_marker_line_matches_only_its_own_poll():
    body = (
        "# TYPE bench_bench_poll_marker gauge\n"
        + gen.marker_line(13)
        + "\n"
    )
    assert gen.marker_line(13) + "\n" in body
    assert gen.marker_line(3) + "\n" not in body
    assert gen.marker_line(1) + "\n" not in body


def test_replay_is_last_push_wins():
    a = 'kafka_m{source="b",user="u1"} 1.5\nkafka_m{source="b",user="u2"} 2.0\n'
    b = '# HELP kafka_m x\nkafka_m{source="b",user="u1"} 7.25\nbare 3.0\n'
    state = gen.replay_pushes([a, b])
    assert state == {
        ("kafka_m", 'source="b",user="u1"'): 7.25,
        ("kafka_m", 'source="b",user="u2"'): 2.0,
        ("bare", ""): 3.0,
    }


def test_table_hash_ignores_row_and_column_order():
    h1 = table_hash([(1, "a", 0.1234567), (2, "b", None)], ["k", "s", "v"])
    h2 = table_hash([("b", None, 2), ("a", 0.12345671, 1)], ["s", "v", "k"])
    assert h1 == h2
    assert h1 != table_hash([(1, "a", 0.2)], ["k", "s", "v"])


# -- generators --------------------------------------------------------------


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_polls_are_byte_identical_per_seed(tmp_path):
    kw = dict(n_polls=2, poll_records=300, n_series=40)
    gen.write_polls(str(tmp_path / "a"), 7, **kw)
    gen.write_polls(str(tmp_path / "b"), 7, **kw)
    gen.write_polls(str(tmp_path / "c"), 8, **kw)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_poll_truth_matches_brute_force(tmp_path):
    truth = gen.write_polls(
        str(tmp_path), 3, n_polls=3, poll_records=2000, n_series=60, corrupt_rate=0.05
    )
    records = []
    total = 0
    for path in sorted(truth.files):
        for raw in pq.read_table(path).column("value").to_pylist():
            total += 1
            try:
                m = json.loads(raw)
            except json.JSONDecodeError:
                continue
            if m.get("id") is None and m.get("name") is None:
                continue
            records.append(m)
    last: dict = {}
    for m in records:
        tags = {k: v for k, v in m["tags"].items() if k != "unit"}
        labels = ",".join(f'{k}="{v}"' for k, v in sorted(tags.items()))
        key = (f"{m['component']}_{m['name']}", labels)
        order = (m["timestamp"], m["id"])
        if key not in last or order > last[key][0]:
            last[key] = (order, m["value"])
    assert total == truth.total_rows == 3 * 2000
    assert len(records) == truth.valid_rows < total
    assert {k: v for k, (_, v) in last.items()} == truth.last
    fam, labels = gen.MARKER_SERIES.expo_key()
    assert truth.last[(fam, labels)] == 2.0


def test_tables_are_byte_identical_per_seed(tmp_path):
    rows, _ = gen.write_tables(str(tmp_path / "a"), 5, scale=0.05)
    gen.write_tables(str(tmp_path / "b"), 5, scale=0.05)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    for name, n in rows.items():
        assert pq.read_metadata(str(tmp_path / "a" / f"{name}.parquet")).num_rows == n


def _brute_force_ledger(texts: list[str], epochs: int) -> dict[int, tuple]:
    """The ingest ledger recomputed from the texts alone: the quality
    gates, first arrival per exact text, and per-epoch prefix connected
    components over word-bigram Jaccard >= 0.2."""
    arrival = lambda i: (i % epochs, i)  # noqa: E731

    def passes(t):
        ws = t.lower().split()
        return (
            len(ws) >= 5
            and sum(w in ("a", "the") for w in ws) / len(ws) >= 0.05
            and len(set(ws)) / len(ws) >= 0.3
        )

    def shingles(t):
        ws = t.lower().split()
        return {" ".join(ws[i:i + 2]) for i in range(len(ws) - 1)}

    ok = [i for i, t in enumerate(texts) if passes(t)]
    sh = {i: shingles(texts[i]) for i in ok}
    edges = {i: set() for i in ok}
    for x in ok:
        for y in ok:
            if x < y and len(sh[x] & sh[y]) / len(sh[x] | sh[y]) >= 0.2:
                edges[x].add(y)
                edges[y].add(x)
    rep = {}
    for i in sorted(ok, key=arrival):
        rep.setdefault(hashlib.md5(texts[i].encode()).hexdigest(), i)
    out = {i: ("quality_fail", None, None) for i in range(len(texts))}
    for b in range(epochs):
        seen = {i for i in ok if i % epochs <= b}
        for i in (i for i in ok if i % epochs == b):
            comp, todo = {i}, [i]
            while todo:
                for y in edges[todo.pop()] & seen - comp:
                    comp.add(y)
                    todo.append(y)
            r = rep[hashlib.md5(texts[i].encode()).hexdigest()]
            out[i] = ("admitted" if r == i else "duplicate", None if r == i else r, min(comp))
    return out


def test_planted_ledger_matches_brute_force():
    import numpy as np

    docs = gen.plant_documents(np.random.Generator(np.random.PCG64(1)), 300)
    truth = gen.ingest_ledger(docs, 4)
    assert truth == _brute_force_ledger(docs.texts, 4)
    statuses = [s for s, _, _ in truth.values()]
    assert {"quality_fail", "admitted", "duplicate"} <= set(statuses)
    assert len({c for _, _, c in truth.values() if c is not None}) < statuses.count("admitted")


def test_planted_families_clear_the_lsh_band():
    """Every planted pair is >= 0.9 shingle Jaccard; unrelated documents
    stay far below the 0.2 dedup threshold."""
    import numpy as np

    docs = gen.plant_documents(np.random.Generator(np.random.PCG64(2)), 300)

    def shingles(t):
        ws = t.split()
        return {" ".join(ws[i:i + 2]) for i in range(len(ws) - 1)}

    sh = [shingles(t) for t in docs.texts]
    for i in range(len(sh)):
        for j in range(i + 1, len(sh)):
            if docs.family[i] is None or docs.family[j] is None:
                continue
            jac = len(sh[i] & sh[j]) / len(sh[i] | sh[j])
            assert jac >= 0.9 or jac < 0.2, (i, j, jac)
            assert (jac >= 0.9) == (docs.family[i] == docs.family[j]), (i, j, jac)
