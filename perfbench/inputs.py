"""Seeded input generator for the benchmark workloads.

Every table is synthesized from the seed alone, with the schemas and
the statistics of the engine's fixture tables as measured by
``fixture_stats.py`` on the sf0.1 and sf0.01 fixture directories (the
figures are in README.md). The benchmark reads nothing outside its
checkout, so it derives no rows from an external fixture directory.

Each table is a directory of ``4 x cores`` parquet files with one row
group each, so a scan gets as many splits as a real multi-file table
and the measurement covers the engine, not one oversized split.
"""

from __future__ import annotations

import hashlib
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the fixture corpus vocabulary, each word about equally frequent
VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row the agg key query a scan batch"
).split()
#: words per document before any duplicate marker (uniform)
DOC_WORDS = (10, 99)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
EPOCH = np.datetime64("1995-01-01", "us")
#: share of documents whose text is another document's plus " dup"
NEAR_DUP_FRAC = 0.05
#: fixture key-domain ratios: 4 lineitems per order, 600 per supplier
LINES_PER_ORDER = 4
LINES_PER_SUPPLIER = 600


@dataclass(frozen=True)
class Sizes:
    """Row counts per table; 0 leaves the table out."""
    documents: int = 0
    part: int = 0
    lineitem: int = 0


@dataclass(frozen=True)
class TableInfo:
    rows: int
    bytes: int
    files: int
    fingerprint: str


def _rng(seed: int, table: str) -> np.random.Generator:
    # zlib.crc32 is stable across processes (str hash() is salted)
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def documents(seed: int, n: int) -> pa.Table:
    """The fixture corpus shape: uniform words, and 5% of the rows
    replaced, in doc_id order, by the then-current text of a random
    other row plus " dup". Exact duplicates arise, as in the fixture,
    only where two such rows copy the same text, and a copy of a row
    replaced earlier carries a second marker."""
    rng = _rng(seed, "documents")
    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])]
    k = int(round(NEAR_DUP_FRAC * n)) if n > 1 else 0
    for i in np.sort(rng.choice(n, size=k, replace=False)):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n)
                    / 100.0, 2)


def _days(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return EPOCH + rng.integers(lo, hi + 1, n) * np.timedelta64(1, "D")


def part(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "part")
    keys = np.arange(n, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n)]
    return pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })


def lineitem(seed: int, n: int, n_parts: int) -> pa.Table:
    rng = _rng(seed, "lineitem")
    return pa.table({
        "l_orderkey": rng.integers(0, max(n // LINES_PER_ORDER, 1), n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, max(n // LINES_PER_SUPPLIER, 1), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, 1, 2499, n),
    })


def build_tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """Every table ``sizes`` asks for, as in-memory Arrow tables."""
    s = sizes
    out: dict[str, pa.Table] = {}
    if s.documents:
        out["documents"] = documents(seed, s.documents)
    if s.part:
        out["part"] = part(seed, s.part)
    if s.lineitem:
        out["lineitem"] = lineitem(seed, s.lineitem, max(s.part, 1))
    return out


def fingerprint(table: pa.Table) -> str:
    """Content hash of a table, independent of how it is split into
    files: sha256 over the Arrow IPC stream of its rows."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]


def write_tables(out_dir: str, tables: dict[str, pa.Table],
                 n_files: int) -> dict[str, TableInfo]:
    """Write each table as ``<out_dir>/<name>.parquet/part-NNNNN.parquet``
    (``n_files`` files, one row group each; tables with fewer rows get
    one file per row) and return rows, on-disk bytes and fingerprint
    per table."""
    info: dict[str, TableInfo] = {}
    for name, table in tables.items():
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        k = max(1, min(n_files, table.num_rows))
        bounds = np.linspace(0, table.num_rows, k + 1).astype(int)
        size = 0
        for i in range(k):
            chunk = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            path = os.path.join(tdir, f"part-{i:05d}.parquet")
            pq.write_table(chunk, path, row_group_size=max(chunk.num_rows, 1))
            size += os.path.getsize(path)
        info[name] = TableInfo(table.num_rows, size, k, fingerprint(table))
    return info


def generate(out_dir: str, seed: int, sizes: Sizes,
             n_files: int) -> dict[str, TableInfo]:
    """Generate and write one workload's tables; see :func:`write_tables`."""
    return write_tables(out_dir, build_tables(seed, sizes), n_files)
