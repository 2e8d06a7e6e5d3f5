"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from ``--seed``;
the same seed gives byte-identical inputs.  Two families:

- fixture tables (Parquet, one file and one row group each) with the
  schemas the query registry reads: a TPC-H-style star schema, an
  ``events`` stream table, ``documents`` (word soup with planted exact
  and near duplicates) and ``embeddings`` (unit vectors with planted
  near duplicates);
- ingest batches: nested search payloads shaped like the reference's
  ``search.list`` response, with a set share of keys re-seen from
  earlier batches and a set share of duplicates within a batch, plus
  update batches for ``merge_upsert``.

Run as a script to write the fixture tables, in a process of their own:

    python3 perfbench/inputs.py OUT_DIR SEED {bench,smoke}
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per scale.  ``bench`` matches the sf0.01 fixture tables;
#: ``smoke`` matches sf0.001 (documents/embeddings trimmed further).
SIZES = {
    "bench": dict(
        customer=1500, supplier=100, part=2000, orders=15000,
        events=10000, documents=500, embeddings=500,
    ),
    "smoke": dict(
        customer=150, supplier=10, part=200, orders=1500,
        events=1000, documents=200, embeddings=200,
    ),
}

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_TYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
_PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "rod", "widget", "anvil", "nut")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_VOCAB = (
    "a", "the", "data", "table", "row", "column", "key", "value", "join",
    "merge", "sort", "hash", "scan", "filter", "group", "agg", "order",
    "line", "part", "customer", "query", "spark", "stream", "batch",
    "window", "vector", "big", "small", "fast", "slow",
)
_EPOCH_DAY_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_US_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in microseconds
_US_PER_DAY = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_to_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> int:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def write_tables(out_dir: str, seed: int, scale: str) -> dict[str, int]:
    """Write every fixture table under ``out_dir``; returns row counts."""
    n = SIZES[scale]
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}

    rows["region"] = _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    }))
    rows["nation"] = _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    nc = n["customer"]
    rows["customer"] = _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    }))
    ns = n["supplier"]
    rows["supplier"] = _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }))
    npart = n["part"]
    names = np.char.add(
        np.char.add(rng.choice(_PART_ADJ, npart), " "), rng.choice(_PART_NOUN, npart)
    )
    rows["part"] = _write(out_dir, "part", pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": rng.choice(_PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart, dtype=np.int32),
        "p_retailprice": _money(rng, 900.0, 999.99, npart),
    }))

    no = n["orders"]
    order_day = _EPOCH_DAY_1995 + rng.integers(0, 2404, no)  # to 2001-08
    rows["orders"] = _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days_to_us(order_day),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    }))
    lines = rng.integers(1, 8, no)  # 1..7 lines per order, ~4 on average
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    linenumber = np.arange(nl) - np.repeat(starts, lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    rows["lineitem"] = _write(out_dir, "lineitem", pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": _days_to_us(np.repeat(order_day, lines) + rng.integers(1, 122, nl)),
    }))

    ne = n["events"]
    # ~30 days of monotone event time with exponential gaps
    gaps = rng.exponential(30 * _US_PER_DAY / ne, ne).astype(np.int64)
    rows["events"] = _write(out_dir, "events", pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(_EPOCH_US_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, max(ne * 3 // 20, 10), ne, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }))

    rows["documents"] = _write(out_dir, "documents", _documents(rng, n["documents"]))
    rows["embeddings"] = _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))
    return rows


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Word soup over a 30-word vocabulary, 10-100 words each; ~5% are an
    earlier document plus one extra token (near duplicates) and ~1% are
    exact copies of an earlier document."""
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i >= 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=(0.4, 0.15, 0.15, 0.15, 0.15)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, nv: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors; ~2% are a small perturbation of an
    earlier vector (near duplicates)."""
    vecs = rng.standard_normal((nv, dim))
    for i in range(10, nv):
        if rng.random() < 0.02:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 1e-3, dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv, dtype=np.int32),
    })


# ---- ingest stream -------------------------------------------------------


@dataclass(frozen=True)
class IngestShape:
    """Shape of one ingest pass: ``batches`` append batches of
    ``batch_items`` search results; after every ``maint_every`` batches
    an update batch of ``update_items`` rows is merged and the table is
    compacted.  ``reseen_share`` of each batch's items (after the first
    batch) reuse a key landed earlier in the pass; ``dup_share`` repeat
    another item of the same batch; ``update_old_share`` of an update
    batch's rows carry a key already in the table.

    One batch is one page of ``maxResults = 50`` items, the only page the
    reference lands per run (BASELINE.md, "max rows ingested per pipeline
    run").  The reference publishes no traffic mix, so the three shares
    and the maintenance cadence are assumptions, not measurements: they
    model re-runs of a keyword whose results overlap an earlier run
    (FIXTURES.md, parity cases) and a periodic correction of landed rows.
    """

    batches: int
    batch_items: int
    maint_every: int
    update_items: int
    reseen_share: float = 0.3
    dup_share: float = 0.05
    update_old_share: float = 0.8


INGEST_SHAPES = {
    "bench": IngestShape(batches=4, batch_items=50, maint_every=2, update_items=50),
    "smoke": IngestShape(batches=2, batch_items=20, maint_every=2, update_items=10),
}

_CHANNELS = tuple(f"channel_{i:02d}" for i in range(50))
_ID_ALPHABET = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"))


def _phrases(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` phrases of ``lo``..``hi - 1`` vocabulary words each."""
    lens = rng.integers(lo, hi, n)
    words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    return [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]


def _payload(rng: np.random.Generator, ids: list[str], title_prefix: str) -> dict:
    """One ``search.list``-shaped response carrying ``ids`` in order."""
    n = len(ids)
    titles = _phrases(rng, n, 3, 9)
    descriptions = _phrases(rng, n, 8, 30)
    channels = rng.choice(_CHANNELS, n)
    etags = rng.integers(0, 1 << 30, n)
    days = rng.integers(1, 29, n)
    secs = rng.integers(0, 86400, n)
    items = [
        {
            "kind": "youtube#searchResult",
            "etag": f"e{int(etags[i]):x}",
            "id": {"kind": "youtube#video", "videoId": vid},
            "snippet": {
                "publishedAt": f"2024-05-{days[i]:02d}T{secs[i] // 3600:02d}:"
                f"{secs[i] // 60 % 60:02d}:{secs[i] % 60:02d}Z",
                "title": f"{title_prefix} {titles[i]}",
                "description": descriptions[i],
                "channelTitle": str(channels[i]),
            },
        }
        for i, vid in enumerate(ids)
    ]
    return {
        "kind": "youtube#searchListResponse",
        "etag": f"p{int(rng.integers(0, 1 << 30)):x}",
        "nextPageToken": f"T{int(rng.integers(0, 1 << 30)):x}",
        "regionCode": "US",
        "pageInfo": {"totalResults": 1000000, "resultsPerPage": n},
        "items": items,
    }


@dataclass(frozen=True)
class IngestStep:
    """One step of an ingest pass: ``kind`` is ``append`` or ``merge``."""

    kind: str
    keyword: str
    payload: dict


def ingest_pass(seed: int, pass_no: int, shape: IngestShape) -> list[IngestStep]:
    """The seeded steps of one ingest pass into a fresh table."""
    rng = np.random.default_rng([seed, 2, pass_no])
    seen: list[str] = []  # keys landed so far, in landing order
    counter = 0

    def new_ids(k: int) -> list[str]:
        nonlocal counter
        heads = _ID_ALPHABET[rng.integers(0, len(_ID_ALPHABET), (k, 6))]
        out = ["".join(h) + f"{counter + j:05d}" for j, h in enumerate(heads, 1)]
        counter += k
        return out

    steps: list[IngestStep] = []
    for b in range(shape.batches):
        n = shape.batch_items
        n_dup = int(n * shape.dup_share)
        n_seen = int(n * shape.reseen_share) if seen else 0
        ids = [str(s) for s in rng.choice(seen, n_seen, replace=False)] if n_seen else []
        ids += new_ids(n - n_dup - n_seen)
        ids += [ids[int(j)] for j in rng.integers(0, len(ids), n_dup)]
        ids = [ids[int(j)] for j in rng.permutation(len(ids))]
        keyword = f"kw{pass_no}_{b}"
        steps.append(IngestStep("append", keyword, _payload(rng, ids, keyword)))
        seen_set = set(seen)
        seen.extend(dict.fromkeys(i for i in ids if i not in seen_set))
        if (b + 1) % shape.maint_every == 0:
            n_upd = shape.update_items
            n_old = min(len(seen), int(n_upd * shape.update_old_share))
            upd = [str(s) for s in rng.choice(seen, n_old, replace=False)]
            upd += new_ids(n_upd - n_old)
            keyword = f"upd{pass_no}_{b}"
            steps.append(IngestStep("merge", keyword, _payload(rng, upd, keyword)))
            seen.extend(upd[n_old:])
    return steps


class Replay:
    """Plain-Python model of the versioned table under the reference's
    append semantics (cross-batch anti-join on ``videoId``, duplicates
    within a batch of unseen keys survive) and copy-on-write MERGE (each
    source row replaces every table row with its key)."""

    def __init__(self) -> None:
        self.rows: list[tuple[str, str]] = []  # (videoId, title)

    def append(self, payload: dict) -> int:
        present = {v for v, _ in self.rows}
        new = [
            (it["id"]["videoId"], it["snippet"]["title"])
            for it in payload["items"]
            if it["id"]["videoId"] not in present
        ]
        self.rows.extend(new)
        return len(new)

    def merge(self, payload: dict) -> None:
        src = {it["id"]["videoId"]: it["snippet"]["title"] for it in payload["items"]}
        self.rows = [r for r in self.rows if r[0] not in src] + list(src.items())

    def summary(self) -> tuple[int, int]:
        return len(self.rows), len({v for v, _ in self.rows})


if __name__ == "__main__":
    write_tables(sys.argv[1], int(sys.argv[2]), sys.argv[3])
