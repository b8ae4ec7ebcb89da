"""Regression gate for the five ADVICE r12 findings.

1. ``tools/bench_outliers.accept_pins`` divided by a sweep time of
   0.0 when computing the drift ratio — --accept-pins would crash
   with ZeroDivisionError on a row rounded to 0.0. Now any t <= 0
   holds the existing pin (a zero pin would poison every later
   ratio), with or without median-of-3 provenance.
2. ``dedup_clusters_sharded``'s within-shard clustering was barely
   exercised by the sf0.01 differential (DEDUP_SHARD_SPAN=5000
   collapses to pure source sharding there and most planted dup
   groups cross sources) — coverage rested on one 4-row unit test.
   The test below drives the full sharded pipeline (pairs →
   components → cluster rollup) over a planted corpus with several
   MULTI-MEMBER within-(source,shard) groups across multiple shards
   and sources, against an independent Python union-find.
3. ``_anchor_argmax_assign`` silently assigned the seed sentinel
   a_id=-1 to zero-norm vectors (NULL cosine never wins the strict
   fold), creating a phantom cell that would silently diverge from
   the oracle. Now the a_id expression raises at execution time.
4. ``plans.exchange_inputs`` relied on a fixed 5-line lookahead, and
   consumers matched ``"emb" in cols`` by raw substring — which
   false-positives on names like 'members' (m-e-m-b …) and
   false-negatives on renames. Now: lookahead scans to the next node
   header, ``exchange_input_names`` parses the column names, and
   ``is_vector_named`` matches '_'-separated name components.
5. ``similarity_ann_ivf_pruned`` wrote its at-rest index to a path
   shared by every session on the same sf dir — two concurrent
   sessions could race overwrite-against-read. The store path now
   carries the session's applicationId.
"""

from __future__ import annotations

import os

import pytest

from tools.bench_outliers import accept_pins

# ---------------------------------------------------------------- #
# finding 1: accept_pins must survive (and hold) a 0.0 sweep time    #
# ---------------------------------------------------------------- #


def test_accept_pins_zero_time_is_held_not_crash():
    pins = {"q_zero": 1.2, "q_ok": 1.0}
    times = {"q_zero": 0.0, "q_ok": 1.1}
    accepted, held = accept_pins(times, pins, repinned=set())
    assert accepted["q_zero"] == 1.2  # old pin held, no ZeroDivision
    assert "q_zero" in held
    assert accepted["q_ok"] == 1.1 and "q_ok" not in held


def test_accept_pins_zero_time_held_even_with_provenance():
    """Median-of-3 provenance cannot bless a 0.0 pin: a zero pin
    breaks every downstream ratio, so t<=0 is held unconditionally."""
    accepted, held = accept_pins(
        {"q": 0.0}, {"q": 0.8}, repinned={"q"})
    assert accepted["q"] == 0.8 and held == ["q"]


def test_accept_pins_zero_time_new_row_still_accepted():
    """A NEW row (no pin yet) keeps the old contract — accepted as-is
    (there is no pin to poison; the family comparison covers it)."""
    accepted, held = accept_pins({"q_new": 0.0}, {}, repinned=set())
    assert accepted["q_new"] == 0.0 and held == []


# ---------------------------------------------------------------- #
# finding 2: within-shard clustering against an independent oracle   #
# ---------------------------------------------------------------- #

_BASE = ("the quick brown fox jumps over the lazy dog near the "
         "river bank today")  # 14 tokens -> 12 distinct-ish shingles


def _tok(text: str) -> list[str]:
    import re

    out = []
    for t in text.lower().split():
        t = re.sub(r"[^a-z']", "", t)
        if t:
            out.append(t)
    return out


def _shingle_set(text: str) -> frozenset:
    toks = _tok(text)
    return frozenset(" ".join(toks[i:i + 3])
                     for i in range(len(toks) - 2))


def _python_sharded_clusters(rows, threshold=0.8):
    """Independent reference: per (source, shard) brute-force jaccard
    pairs + union-find, rolled up exactly like the Spark query."""
    import itertools

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    sh = {d: _shingle_set(t) for d, t, _, _ in rows}
    meta = {d: (src, shard) for d, _, src, shard in rows}
    for a, b in itertools.combinations(sorted(meta), 2):
        if meta[a] != meta[b]:
            continue
        if not sh[a] or not sh[b]:
            continue
        inter = len(sh[a] & sh[b])
        if inter / (len(sh[a]) + len(sh[b]) - inter) >= threshold:
            union(a, b)
    clusters: dict = {}
    for d in meta:
        label = find(d) if d in parent else d
        clusters.setdefault((meta[d][0], meta[d][1], label),
                            []).append(d)
    return {(src, shard, label, len(m),
             "|".join(str(x) for x in sorted(m)))
            for (src, shard, label), m in clusters.items()}


def test_sharded_clusters_within_shard_groups(spark):
    """Multi-member dup groups INSIDE several (source, shard) cells,
    plus planted cross-shard / cross-source groups that must NOT
    merge — the full pairs→components→rollup pipeline vs Python."""
    import pyspark.sql.functions as F

    from mapreducewordcounting_spark.operators.dedup import (
        component_labels,
        ngram_jaccard_pairs,
    )

    rows = [
        # (srcA, 0): a 3-member group (base, +1 word, +1 other word)
        (0, _BASE, "srcA", 0),
        (1, _BASE + " again", "srcA", 0),
        (2, _BASE + " tomorrow", "srcA", 0),
        # (srcA, 0): an unrelated singleton
        (3, "completely different words about winter snow and ice "
            "falling on quiet mountain villages", "srcA", 0),
        # (srcA, 1): a 2-member identical group
        (10, _BASE, "srcA", 1),
        (11, _BASE, "srcA", 1),
        # (srcB, 0): a 4-member group
        (20, _BASE, "srcB", 0),
        (21, _BASE, "srcB", 0),
        (22, _BASE + " again", "srcB", 0),
        (23, _BASE + " tomorrow", "srcB", 0),
        # cross-shard identical pair: must NOT merge
        (30, "green ideas sleep furiously under a pale morning sky "
             "while clocks melt slowly", "srcA", 0),
        (31, "green ideas sleep furiously under a pale morning sky "
             "while clocks melt slowly", "srcA", 1),
        # cross-source identical pair: must NOT merge
        (40, "seven silver ships sail silently across the southern "
             "sea before sunrise tonight", "srcA", 0),
        (41, "seven silver ships sail silently across the southern "
             "sea before sunrise tonight", "srcB", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, shard long")
    labels = component_labels(spark, lambda: ngram_jaccard_pairs(
        docs, 0.8, shard_cols=("source", "shard")))
    shard_of = docs.select(F.col("doc_id").alias("node"),
                           "source", "shard")
    got_df = (labels.join(shard_of, "node")
              .groupBy("source", "shard",
                       F.col("label").alias("cluster_survivor"))
              .agg(F.count("*").alias("n_members"),
                   F.array_join(F.sort_array(F.collect_list("node")),
                                "|").alias("members")))
    got = {(r.source, r.shard, r.cluster_survivor, r.n_members,
            r.members) for r in got_df.collect()}
    want = _python_sharded_clusters(rows)
    # the Spark rollup only emits nodes that appear in the edge list
    # (singletons have no pair) — restrict the reference the same way
    want_multi = {w for w in want if w[3] > 1}
    assert got == want_multi, (got, want_multi)
    # the planted structure is actually exercised: >= 3 multi-member
    # within-shard clusters across >= 2 sources and >= 2 shards
    assert len(got) >= 3
    assert len({(s, sh) for s, sh, *_ in got}) >= 3
    # the boundary-straddling groups stayed split
    members = {m for *_, m in got}
    assert "30|31" not in members and "40|41" not in members


# ---------------------------------------------------------------- #
# finding 3: zero-norm vectors raise instead of phantom a_id=-1      #
# ---------------------------------------------------------------- #


def test_anchor_argmax_zero_norm_vector_raises(spark):
    from mapreducewordcounting_spark.operators.similarity import (
        _anchor_argmax_assign,
    )

    anchors = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "a_id long, a_emb array<double>")
    emb = spark.createDataFrame(
        [(7, [0.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="unassignable|vec_id=7"):
        _anchor_argmax_assign(emb, anchors).collect()


def test_anchor_argmax_normal_vectors_still_assign(spark):
    from mapreducewordcounting_spark.operators.similarity import (
        _anchor_argmax_assign,
    )

    anchors = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "a_id long, a_emb array<double>")
    emb = spark.createDataFrame(
        [(7, [2.0, 0.1]), (8, [0.1, 3.0]), (9, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: r.a_id
           for r in _anchor_argmax_assign(emb, anchors).collect()}
    # 9 ties on cosine -> smallest a_id wins (the strict-fold rule)
    assert got == {7: 0, 8: 1, 9: 0}


# ---------------------------------------------------------------- #
# finding 4: parsed names, robust lookahead, component matching      #
# ---------------------------------------------------------------- #


def test_is_vector_named_component_matching():
    from mapreducewordcounting_spark.plans import is_vector_named

    assert is_vector_named("emb")
    assert is_vector_named("q_emb")
    assert is_vector_named("a_emb")
    assert is_vector_named("embedding")
    assert is_vector_named("c_embedding")
    assert is_vector_named("embeddings")
    # the ADVICE false-positives: 'emb' as a raw substring only
    assert not is_vector_named("members")
    assert not is_vector_named("n_members")
    assert not is_vector_named("december")


def test_exchange_input_names_parses_names(spark):
    """Names come back parsed (no '#id' suffixes) for a plan with a
    real shuffle exchange."""
    import pyspark.sql.functions as F

    from mapreducewordcounting_spark.plans import exchange_input_names

    df = (spark.range(100)
          .select((F.col("id") % 7).alias("members"),
                  F.col("id").alias("value"))
          .groupBy("members").agg(F.sum("value").alias("total")))
    names = exchange_input_names(df)
    assert names, "expected the aggregate exchange"
    flat = [n for cols in names for n in cols]
    assert all("#" not in n for n in flat)
    assert any("members" in cols for cols in names), names


def test_exchange_array_columns_flags_shuffled_arrays(spark):
    """The typed audit: shuffling an array column is reported; a
    scalar-only shuffle reports clean."""
    import pyspark.sql.functions as F

    from mapreducewordcounting_spark.plans import exchange_array_columns

    base = spark.range(50).select(
        (F.col("id") % 5).alias("k"),
        F.array(F.col("id"), F.col("id") + 1).alias("vec"))
    fat = base.repartition(4, "k")
    assert any("vec:array<bigint>" in cols
               for cols in exchange_array_columns(fat)), (
        exchange_array_columns(fat))
    thin = base.select("k").repartition(4, "k")
    assert all(cols == [] for cols in exchange_array_columns(thin))


# ---------------------------------------------------------------- #
# finding 5: session-scoped ivf index path                           #
# ---------------------------------------------------------------- #


def test_ivf_pruned_store_path_is_session_scoped(spark, sf_dir):
    from mapreducewordcounting_spark.operators.io_roundtrip import (
        _io_path,
    )
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_ivf_pruned,
    )

    similarity_ann_ivf_pruned(spark, sf_dir)
    app_id = spark.sparkContext.applicationId
    store = _io_path(sf_dir, f"ivf_index_{app_id}")
    assert os.path.isdir(store), store
