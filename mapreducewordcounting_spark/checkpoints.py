"""Executor-storage hygiene for eager localCheckpoints (VERDICT r5
item 5).

``df.localCheckpoint(eager=True)`` pins the materialized blocks in
executor storage until the RDD is unpersisted — and because a local
checkpoint TRUNCATES lineage, those blocks are unrecoverable once
dropped, so an operator must never unpersist a checkpoint its returned
DataFrame still reads. That splits the repo's checkpoint sites into
two classes:

* **result-referenced** (the one-shot shingle/tf/weights tables in
  dedup.py, text_analysis.py, drift.py; the ANN index tables in
  similarity.py): a plain ``df.localCheckpoint(eager=True)``. The
  RETURNED DataFrame's plan is a scan of those blocks, so the
  operator cannot release them. Their bound is one checkpoint per
  operator CALL, freed by Spark's ContextCleaner when the DataFrame
  is GC'd — and deterministically by :func:`release_all_pinned`,
  which the bench and verify_full harnesses call between queries
  (safe there because every query call builds its DataFrames fresh).
* **loop-superseded** (pagerank's per-iteration ranks, the BFS
  distances, the label-propagation and component-label sweeps):
  iteration k's checkpoint is consumed exactly once — to materialize
  iteration k+1's checkpoint — and is garbage the moment that
  successor exists. Without an explicit unpersist, a 10-iteration
  pagerank leaves 10 pinned rank snapshots per call in a long-lived
  session (bench's 4x invocation, verify_full's registry-wide sweep).
  :class:`CheckpointRotator` exists only for these loops: it
  unpersists each superseded step as soon as its successor is eagerly
  materialized, and :meth:`CheckpointRotator.release` drops
  loop-scoped scratch (the pagerank edge table, the component edge
  list) that the returned plan no longer references. The final
  snapshot stays pinned for the returned plan, like a
  result-referenced checkpoint.

Id-diffing note: created-RDD ids are discovered by diffing
``getPersistentRDDs`` around the checkpoint call, which assumes no
concurrent persist activity on the same SparkContext from another
thread. All repo harnesses run queries sequentially; a concurrent
caller would at worst see its checkpoint recomputed... which a LOCAL
checkpoint cannot do — so keep rotators out of multi-threaded jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _pinned(spark: SparkSession) -> dict[int, object]:
    """Snapshot of currently persisted RDDs: {rdd_id: JavaRDD}.
    ``getPersistentRDDs`` returns an immutable copy, so iterating it
    while unpersisting is safe."""
    out: dict[int, object] = {}
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        e = it.next()
        out[e.getKey()] = e.getValue()
    return out


def n_pinned(spark: SparkSession) -> int:
    """Number of RDDs currently pinned in executor storage."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release_all_pinned(spark: SparkSession) -> int:
    """Unpersist EVERY pinned RDD (non-blocking) and return how many
    were dropped. Harness-level sweep between queries — never call
    while a DataFrame you still need reads a local checkpoint."""
    rdds = _pinned(spark)
    for rdd in rdds.values():
        rdd.unpersist(False)
    return len(rdds)


def pinned_ids(spark: SparkSession) -> set[int]:
    """Ids of currently pinned RDDs (for scoped release)."""
    return set(_pinned(spark))


def release_created_since(spark: SparkSession, before: set[int],
                          keep: frozenset[int] | set[int] = frozenset(),
                          ) -> int:
    """Unpersist every RDD pinned AFTER the ``before`` snapshot except
    those in ``keep``. Lets a composite operator free checkpoints a
    sub-operator created for its own plan once a downstream
    materialization (e.g. an edge-list checkpoint) has made them
    unreachable."""
    n = 0
    for rid, rdd in _pinned(spark).items():
        if rid not in before and rid not in keep:
            rdd.unpersist(False)
            n += 1
    return n


class CheckpointRotator:
    """Per-loop manager: ``rotate(df)`` eagerly checkpoints ``df`` and
    unpersists the checkpoint created by the PREVIOUS ``rotate`` call
    (now superseded — the new blocks are already materialized from
    it). ``release()`` drops whatever the rotator still pins; call it
    only when the returned plan does not read those blocks."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._live: dict[int, object] = {}

    @property
    def live_ids(self) -> set[int]:
        return set(self._live)

    def rotate(self, df: DataFrame) -> DataFrame:
        before = set(_pinned(self._spark))
        out = df.localCheckpoint(eager=True)
        created = {i: r for i, r in _pinned(self._spark).items()
                   if i not in before}
        for rdd in self._live.values():
            rdd.unpersist(False)
        self._live = created
        return out

    def release(self) -> None:
        for rdd in self._live.values():
            rdd.unpersist(False)
        self._live = {}
