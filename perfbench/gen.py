"""Seeded input generators and their ground truth.

Every input is written before anything is timed. The same seed gives
byte-identical files (numpy PCG64 draws, fixed JSON key order, one
parquet row group per file), and each generator returns the truth the
output checks compare against, computed from the records it wrote.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Firehose polls: Kafka-twin `value` rows of METRIC_SCHEMA JSON
# ---------------------------------------------------------------------------

COMPONENTS = ("kafka", "connect", "ksql", "registry")
REQUEST_TYPES = ("Produce", "Fetch", "Metadata", "ApiVersions", "Heartbeat")
UNITS = ("bytes", "count", "ms")  # the `unit` tag is filtered from labels
MARKER = "bench_poll_marker"
MARKER_COMPONENT = "bench"
BASE_TS = 1_700_000_000
POLL_SECONDS = 60


@dataclass
class Series:
    name: str
    component: str
    tags: dict[str, str]  # without `unit`

    def expo_key(self) -> tuple[str, str]:
        """(family, label string) exactly as the exposition renders it."""
        pairs = ",".join(f'{k}="{v}"' for k, v in sorted(self.tags.items()))
        return f"{self.component}_{self.name}", pairs


MARKER_SERIES = Series(MARKER, MARKER_COMPONENT, {"poll": "index"})


def series_universe(n_series: int) -> list[Series]:
    """n_series distinct series: metric names x 4 varying tags."""
    per_name = 250
    out = []
    for i in range(n_series):
        name_i, combo = divmod(i, per_name)
        out.append(
            Series(
                name=f"metric_{name_i:03d}_total",
                component=COMPONENTS[name_i % len(COMPONENTS)],
                tags={
                    "request_type": REQUEST_TYPES[combo % 5],
                    "source": f"broker-{combo // 5 % 5}",
                    "tenant": f"lkc-{combo // 25:02d}",
                    "user": f"u{combo % 7}",
                },
            )
        )
    return out


@dataclass
class PollTruth:
    total_rows: int = 0
    valid_rows: int = 0
    # (family, labels) -> last value by (timestamp, id)
    last: dict[tuple[str, str], float] = field(default_factory=dict)
    files: list[str] = field(default_factory=list)


def _uuid_strings(rng: np.random.Generator, n: int) -> list[str]:
    raw = rng.integers(0, 2**63, size=(n, 2), dtype=np.int64)
    out = []
    for a, b in raw.tolist():
        h = f"{a:016x}{b:016x}"
        out.append(f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}")
    return out


def _record(s: Series, ts: int, rid: str, value: float, unit: str) -> str:
    start = ts - ts % POLL_SECONDS
    return json.dumps(
        {
            "id": rid,
            "name": s.name,
            "timestamp": ts,
            "component": s.component,
            "tags": {**s.tags, "unit": unit},
            "value": value,
            "window": {"from": start, "to": start + POLL_SECONDS, "interval": POLL_SECONDS},
        }
    )


def write_polls(
    out_dir: str,
    seed: int,
    n_polls: int,
    poll_records: int,
    n_series: int,
    corrupt_rate: float = 0.01,
) -> PollTruth:
    """Write n_polls parquet files of poll_records `value` rows each.

    Each poll draws series uniformly, stamps them inside its own
    60-second window, makes about corrupt_rate of the rows undecodable
    or id-less, and ends with one marker record whose value is the
    poll index. File mtimes ascend with the poll index, which is the
    order the file source reads them in."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    universe = series_universe(n_series)
    truth = PollTruth()
    best: dict[tuple[str, str], tuple[int, str, float]] = {}

    def keep(s: Series, ts: int, rid: str, value: float) -> None:
        key = s.expo_key()
        cur = best.get(key)
        if cur is None or (ts, rid) > cur[:2]:
            best[key] = (ts, rid, value)
        truth.valid_rows += 1

    for p in range(n_polls):
        n = poll_records - 1
        picks = rng.integers(0, n_series, size=n).tolist()
        offs = rng.integers(0, POLL_SECONDS - 1, size=n).tolist()
        vals = np.round(rng.uniform(0, 1e4, size=n), 3).tolist()
        units = rng.integers(0, len(UNITS), size=n).tolist()
        bad = (rng.random(n) < corrupt_rate).tolist()
        ids = _uuid_strings(rng, n)
        rows = []
        for i in range(n):
            if bad[i]:
                # alternate a truncated document and one without id/name
                rows.append('{"id": "' + ids[i][:8] if i % 2 else '{"unrelated": 1}')
                continue
            s = universe[picks[i]]
            ts = BASE_TS + p * POLL_SECONDS + offs[i]
            rows.append(_record(s, ts, ids[i], vals[i], UNITS[units[i]]))
            keep(s, ts, ids[i], vals[i])
        ts = BASE_TS + p * POLL_SECONDS + POLL_SECONDS - 1
        rid = f"marker-{p:06d}"
        rows.append(_record(MARKER_SERIES, ts, rid, float(p), "count"))
        keep(MARKER_SERIES, ts, rid, float(p))
        truth.total_rows += len(rows)
        path = os.path.join(out_dir, f"poll-{p:06d}.parquet")
        table = pa.table({"value": pa.array([r.encode() for r in rows], pa.binary())})
        pq.write_table(table, path, row_group_size=len(rows))
        os.utime(path, (BASE_TS + p, BASE_TS + p))
        truth.files.append(path)
    truth.last = {k: v for k, (_, _, v) in best.items()}
    return truth


def marker_line(poll: int) -> str:
    """The exposition sample line that shows poll `poll` was rendered."""
    fam, labels = MARKER_SERIES.expo_key()
    return f"{fam}{{{labels}}} {float(poll)}"


def parse_exposition(text: str) -> dict[tuple[str, str], float]:
    """Samples of one exposition body as (family, labels) -> value."""
    out = {}
    for ln in text.splitlines():
        if not ln or ln.startswith("#"):
            continue
        head, _, val = ln.rpartition(" ")
        fam, brace, rest = head.partition("{")
        out[(fam, rest[:-1] if brace else "")] = float(val)
    return out


def replay_pushes(texts: list[str]) -> dict[tuple[str, str], float]:
    """Gateway end state under last-push-wins, in push order."""
    state: dict[tuple[str, str], float] = {}
    for body in texts:
        state.update(parse_exposition(body))
    return state


# ---------------------------------------------------------------------------
# Batch tables: the engine's eight table schemas at small scale
# ---------------------------------------------------------------------------

# 400 two-syllable words: large enough that unrelated documents share
# almost no word bigrams (shingle Jaccard far below the dedup threshold)
_SYLLABLES = "ba ce di fo gu ha je ki lo mu na pe ri so tu va we xi yo zu".split()
VOCAB = [a + b for a in _SYLLABLES for b in _SYLLABLES]
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "zh", "de", "fr", "es")
PART_WORDS = ("large", "small", "hot", "cold", "red", "blue")
PART_NOUNS = ("ring", "bolt", "gear", "pipe", "nut")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL")

# rows per table at scale 1.0 (the shape of the engine's sf0.01 tables)
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 200,
}
DAY_MS = 86_400_000
DATE_LO_MS = 788_918_400_000  # 1995-01-01
DATE_SPAN_DAYS = 2404  # to 2001-08-01
EVENTS_LO_US = 1_704_067_200_000_000  # 2024-01-01
EVENTS_SPAN_US = 30 * 86_400_000_000


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    t = pa.table(cols)
    pq.write_table(t, path, row_group_size=max(1, t.num_rows))


def _pick(rng: np.random.Generator, choices: tuple[str, ...], n: int) -> pa.Array:
    return pa.array([choices[i] for i in rng.integers(0, len(choices), n)])


def write_tables(
    out_dir: str, seed: int, scale: float = 1.0
) -> tuple[dict[str, int], Docs]:
    """Write the eight engine tables plus embeddings; returns rows per
    table and the planted documents."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n = {k: max(5, int(v * scale)) for k, v in BASE_ROWS.items()}
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def path(name: str) -> str:
        return os.path.join(out_dir, f"{name}.parquet")

    _write(path("region"), {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    _write(path("nation"), {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    _write(path("customer"), {
        "c_custkey": pa.array(range(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2), f64),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    _write(path("supplier"), {
        "s_suppkey": pa.array(range(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2), f64),
    })
    words, nouns = rng.integers(0, 6, npart), rng.integers(0, 5, npart)
    _write(path("part"), {
        "p_partkey": pa.array(range(npart), i64),
        "p_name": pa.array([f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in zip(words, nouns)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900 + rng.uniform(0, 1100, npart), 2), f64),
    })
    no = n["orders"]
    odate = DATE_LO_MS + rng.integers(0, DATE_SPAN_DAYS, no) * DAY_MS
    _write(path("orders"), {
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), no),
        "o_totalprice": pa.array(np.round(rng.uniform(1e3, 4e5, no), 2), f64),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    _write(path("lineitem"), {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, nl), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": _pick(rng, ("R", "A", "N"), nl),
        "l_linestatus": _pick(rng, ("O", "F"), nl),
        "l_shipdate": pa.array(
            odate[l_order] + rng.integers(1, 122, nl) * DAY_MS, pa.timestamp("ms")
        ),
    })
    ne = n["events"]
    ts_us = np.sort(EVENTS_LO_US + rng.integers(0, EVENTS_SPAN_US, ne))
    _write(path("events"), {
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, nc, ne), i64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(60, ne), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    docs = plant_documents(rng, n["documents"])
    texts = docs.texts
    nd = len(texts)
    _write(path("documents"), {
        "doc_id": pa.array(range(nd), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.3, (nv, 64))).astype(np.float32)
    _write(path("embeddings"), {
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {**n, "region": 5, "nation": 25}, docs


@dataclass
class Docs:
    """Planted documents. content[i] is the first document with doc i's
    exact text; family[i] the original a near-duplicate family grew
    from (i itself for an unrelated original), None for junk."""

    texts: list[str]
    content: list[int]
    family: list[int | None]


# near-duplicate families grow only from originals this long: one
# appended word keeps every pair of the family at shingle Jaccard
# >= 39/41, where the 8-band LSH misses a pair with probability ~1e-8
FAMILY_MIN_WORDS = 40


def plant_documents(rng: np.random.Generator, n: int) -> Docs:
    """Vocabulary documents with planted exact duplicates, near-duplicate
    families and junk, so the dedup operators and the ingest gates find
    real work. About 10% are junk that fails the quality gates (under
    five words, or one word repeated), 10% exact copies of an earlier
    document, and 15% near duplicates: an original of at least
    FAMILY_MIN_WORDS words plus one appended word. Unrelated documents
    share almost no word bigrams (shingle Jaccard far below 0.2)."""
    d = Docs([], [], [])
    long_originals: list[int] = []
    for i in range(n):
        r = rng.random()
        if r < 0.1:
            if r < 0.05:
                ws = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(1, 5)))]
            else:
                ws = [VOCAB[int(rng.integers(0, len(VOCAB)))]] * int(rng.integers(5, 20))
            d.texts.append(" ".join(ws))
            d.content.append(i)
            d.family.append(None)
        elif i and r < 0.2:
            j = int(rng.integers(0, i))
            d.texts.append(d.texts[j])
            d.content.append(d.content[j])
            d.family.append(d.family[j])
        elif long_originals and r < 0.35:
            root = long_originals[int(rng.integers(0, len(long_originals)))]
            d.texts.append(d.texts[root] + " " + VOCAB[int(rng.integers(0, len(VOCAB)))])
            d.content.append(i)
            d.family.append(root)
        else:
            k = int(rng.integers(8, 70))
            ws = [VOCAB[j] for j in rng.integers(0, len(VOCAB), k)]
            # a stopword every ninth word from the fifth: density >= 1/13
            for j in range(4, k, 9):
                ws[j] = ("a", "the")[j // 9 % 2]
            if k >= FAMILY_MIN_WORDS:
                long_originals.append(i)
            d.texts.append(" ".join(ws))
            d.content.append(i)
            d.family.append(i)
    return d


def ingest_ledger(docs: Docs, epochs: int) -> dict[int, tuple]:
    """The ingest ledger the planted documents call for, doc_id ->
    (status, dup_of, cluster_id), when doc i arrives in epoch
    i % epochs. Junk fails the gates. The first arrival, by (epoch,
    doc_id), of each exact text is admitted and the others name it as
    dup_of. A document's cluster is the smallest doc_id of its family
    that has arrived by the end of its own epoch."""
    arrival = lambda i: (i % epochs, i)  # noqa: E731
    rep: dict[int, int] = {}
    for i in sorted(range(len(docs.texts)), key=arrival):
        rep.setdefault(docs.content[i], i)
    out: dict[int, tuple] = {}
    for i, fam in enumerate(docs.family):
        if fam is None:
            out[i] = ("quality_fail", None, None)
            continue
        r = rep[docs.content[i]]
        cluster = min(
            k for k, f in enumerate(docs.family)
            if f == fam and k % epochs <= i % epochs
        )
        out[i] = ("admitted" if r == i else "duplicate", None if r == i else r, cluster)
    return out
