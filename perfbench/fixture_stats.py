#!/usr/bin/env python3
"""Print the shape of a fixture scale directory: the statistics the
input generator (``inputs.py``) copies.

    python3 perfbench/fixture_stats.py <fixture dir, e.g. .../sf0.1>

The benchmark never runs this: a run reads nothing outside its
checkout. It is how the generator's constants were measured, and, run
on a generated directory (tables as directories of parquet files), how
they are checked.
"""

from __future__ import annotations

import collections
import os
import sys

import duckdb


def documents(con) -> None:
    rows = con.execute("SELECT doc_id, text, lang, source FROM documents "
                       "ORDER BY doc_id").fetchall()
    n = len(rows)
    texts = [r[1] for r in rows]
    first: dict[str, int] = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    marked = [t for t in texts if t.endswith(" dup")]
    copies = [t for t in marked if t[:-4] in first]
    exact = [i for i, t in enumerate(texts) if first[t] != i]
    originals = [t.split() for t in texts if "dup" not in t.split()]
    lengths = [len(t) for t in originals]
    vocab = collections.Counter(w for t in originals for w in t)
    langs = collections.Counter(r[2] for r in rows)
    print(f"documents: {n} rows")
    print(f"  words per unmarked document: {min(lengths)}-{max(lengths)}, "
          f"mean {sum(lengths) / len(lengths):.1f}")
    print(f"  vocabulary ({len(vocab)} words, counts within "
          f"{min(vocab.values())}-{max(vocab.values())}): "
          f"{' '.join(sorted(vocab))}")
    print("  lang shares: " + ", ".join(
        f"{k} {v / n:.3f}" for k, v in langs.most_common()))
    print(f"  source == 'src' || (doc_id % 20): "
          f"{sum(r[3] == f'src{r[0] % 20}' for r in rows)} of {n}")
    print(f"  texts ending in ' dup': {len(marked)} ({len(marked) / n:.2%}); "
          f"of these, another row's text + ' dup': {len(copies)}")
    print(f"  texts equal to an earlier row's: {len(exact)} "
          f"({len(exact) / n:.2%}); of these ending in ' dup': "
          f"{sum(texts[i].endswith(' dup') for i in exact)}")


def part_and_lineitem(con) -> None:
    print("part:", con.execute(
        "SELECT count(*), string_agg(DISTINCT split_part(p_name, ' ', 1), ' '"
        " ORDER BY split_part(p_name, ' ', 1)), string_agg(DISTINCT "
        "split_part(p_name, ' ', 2), ' ' ORDER BY split_part(p_name, ' ', 2))"
        ", count(DISTINCT p_brand), min(p_size), max(p_size) "
        "FROM part").fetchone(),
        "(rows, name adjectives, name nouns, brands, size range)")
    n, orders, order_keys, parts, supps = con.execute(
        "SELECT count(*), count(DISTINCT l_orderkey), max(l_orderkey) + 1, "
        "max(l_partkey) + 1, max(l_suppkey) + 1 FROM lineitem").fetchone()
    print(f"lineitem: {n} rows; {orders} distinct orders; lines per order "
          f"key {n / order_keys:.2f}; part keys 0-{parts - 1}; lines per "
          f"supplier key {n / supps:.0f}")
    print("  lines per order:", con.execute(
        "SELECT c, count(*) FROM (SELECT count(*) c FROM lineitem "
        "GROUP BY l_orderkey) GROUP BY c ORDER BY c").fetchall())


def main(argv: list[str]) -> int:
    con = duckdb.connect()
    for t in ("documents", "part", "lineitem"):
        path = os.path.join(argv[1], f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    documents(con)
    part_and_lineitem(con)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
