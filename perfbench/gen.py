"""Seeded input generators for the benchmark.

Everything the engine sees in a run comes from here and from ``--seed``:

- :func:`write_star_schema` writes the ten registry tables (TPC-H-style
  star schema plus ``events``, ``documents`` and ``embeddings``) as one
  single-row-group parquet file each, with the same column names, types,
  value domains and scaling rules as the engine's test data.
- :func:`csv_upload` builds one CSV upload for the ingest API with
  varied delimiters, quoting, embedded newlines, empty cells and unicode.
- :func:`event_batch` builds one parquet file of stream events.

The same seed gives byte-identical files; all randomness flows through
``numpy.random.Generator(PCG64(seed))`` streams derived per table.
"""

from __future__ import annotations

import csv
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
EMBED_DIM = 64

_US_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00Z in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00Z


def rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream) so adding a table or
    a column never shifts the values of another."""
    key = [seed & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _pick(g: np.random.Generator, domain: list[str], n: int) -> pa.Array:
    idx = g.integers(0, len(domain), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(domain)
    ).cast(pa.string())


def _cents(g: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(g.uniform(lo, hi, n), 2)


def _days(g: np.random.Generator, base_us: int, span: int, n: int) -> pa.Array:
    us = base_us + g.integers(0, span, n) * _US_DAY
    return pa.array(us, pa.timestamp("us"))


def _star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n = table_sizes(sf)
    users = max(1, round(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    g = rng(seed, "customer")
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(g.integers(0, 25, k), pa.int32()),
        "c_acctbal": _cents(g, -999.99, 9999.99, k),
        "c_mktsegment": _pick(g, SEGMENTS, k),
    })
    g = rng(seed, "supplier")
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(g.integers(0, 25, k), pa.int32()),
        "s_acctbal": _cents(g, -999.99, 9999.99, k),
    })
    g = rng(seed, "part")
    k = n["part"]
    adj = g.integers(0, len(PART_ADJ), k)
    noun = g.integers(0, len(PART_NOUN), k)
    keys = np.arange(k)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, k)],
        "p_type": _pick(g, PART_TYPES, k),
        "p_size": pa.array(g.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    g = rng(seed, "orders")
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": _pick(g, ORDER_STATUS, k),
        "o_totalprice": _cents(g, 1000.0, 500_000.0, k),
        "o_orderdate": _days(g, _EPOCH_1995, 2405, k),
        "o_orderpriority": _pick(g, PRIORITIES, k),
    })
    g = rng(seed, "lineitem")
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, k), pa.int32()),
        "l_quantity": g.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _cents(g, 900.0, 105_000.0, k),
        "l_discount": g.integers(0, 11, k) / 100.0,
        "l_tax": g.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(g, RETURN_FLAGS, k),
        "l_linestatus": _pick(g, LINE_STATUS, k),
        "l_shipdate": _days(g, _EPOCH_1995 + _US_DAY, 2499, k),
    })
    g = rng(seed, "events")
    k = n["events"]
    ts = np.sort(g.integers(0, 30 * _US_DAY, k)) + _EPOCH_2024
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, users, k), pa.int64()),
        "event_type": _pick(g, EVENT_TYPES, k),
        "value": np.round(g.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in g.integers(0, 100, k)],
    })
    out["documents"] = _documents(seed, n["documents"])
    g = rng(seed, "embeddings")
    k = n["embeddings"]
    vec = g.standard_normal((k, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, k), pa.int32()),
    })
    return out


def _documents(seed: int, k: int) -> pa.Table:
    """Bag-of-words documents; 5 % are near-duplicates (another
    document's text plus a trailing ``dup`` token) so the dedup and
    similarity operators have pairs to find."""
    g = rng(seed, "documents")
    lengths = g.integers(10, 101, k)
    texts = [" ".join(WORDS[w] for w in g.integers(0, len(WORDS), m)) for m in lengths]
    dups = np.sort(g.choice(k, size=k // 20, replace=False))
    is_dup = np.zeros(k, bool)
    is_dup[dups] = True
    originals = np.flatnonzero(~is_dup)
    for d, src in zip(dups, g.choice(originals, size=len(dups))):
        texts[d] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in g.choice(len(LANGS), size=k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_parquet(table: pa.Table, path: str) -> None:
    """One row group, like the engine's test data (every scan is one
    task unless the engine spreads it)."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def write_star_schema(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write ``<table>.parquet`` for every registry table into
    ``out_dir``; returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in _star_tables(seed, sf).items():
        write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# -- ingest-roundtrip inputs ----------------------------------------------

# Cell vocabulary for uploads: plain tokens plus the awkward cases the
# reference's pandas parser must survive (quoted delimiters, doubled
# quotes, embedded newlines, empty cells, non-ASCII text).
_CELL_WORDS = ["alpha", "beta", "gamma", "delta", "Zürich", "naïve", "東京", "😀"]
# three, so every round of three uploads (one table's worth) uses each once
_DELIMS = [",", ";", "\t"]


def _cell(g: np.random.Generator, delim: str) -> str:
    kind = g.integers(0, 10)
    if kind == 0:
        return ""
    if kind == 1:
        return f"{_CELL_WORDS[g.integers(0, 8)]}{delim}{g.integers(0, 100)}"
    if kind == 2:
        return f'say "{_CELL_WORDS[g.integers(0, 8)]}"'
    if kind == 3:
        return f"line one\nline {g.integers(0, 100)}"
    if kind <= 6:
        return str(int(g.integers(-10_000, 10_000)))
    return f"{_CELL_WORDS[g.integers(0, 8)]} {g.integers(0, 1000)}"


def upload_columns(n_cols: int) -> list[str]:
    """Column names of an upload; the first two are the same in every
    upload so uploads can be joined on ``k`` by the export step."""
    return ["k", "grp"] + [f"c{i}" for i in range(2, n_cols)]


def csv_upload(seed: int, index: int, rows: int, n_cols: int) -> tuple[bytes, str, list[list[str]]]:
    """One CSV upload: ``(bytes, delimiter, rows as parsed strings)``.

    The delimiter cycles with ``index``, so every seed gets the same mix
    of delimiters; the seed sets the cells.

    Column ``k`` is a per-upload unique key (``<index>-<row>``) and
    ``grp`` a small join key shared across uploads; the remaining cells
    are drawn from :func:`_cell`. Quoting follows RFC 4180 (``csv``
    module, minimal quoting), which the engine's compat reader parses.
    """
    g = rng(seed, f"upload-{index}")
    delim = _DELIMS[index % len(_DELIMS)]
    cols = upload_columns(n_cols)
    data = []
    for r in range(rows):
        row = [f"{index}-{r}", str(int(g.integers(0, 50)))]
        row += [_cell(g, delim) for _ in cols[2:]]
        data.append(row)
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=delim, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    w.writerow(cols)
    w.writerows(data)
    return buf.getvalue().encode("utf-8"), delim, data


EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("user_id", pa.int64()),
    ("value", pa.int64()),
])


def event_batch(seed: int, index: int, rows: int) -> pa.Table:
    """Stream events for landing batch ``index``; ``event_id`` is unique
    across batches (``index * 10**7 + row``)."""
    g = rng(seed, f"stream-{index}")
    return pa.table({
        "event_id": pa.array(index * 10_000_000 + np.arange(rows), pa.int64()),
        "user_id": pa.array(g.integers(0, 1000, rows), pa.int64()),
        "value": pa.array(g.integers(0, 1000, rows), pa.int64()),
    }, schema=EVENT_SCHEMA)
