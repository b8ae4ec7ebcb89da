"""The benchmark's workloads: which registered queries run on which
generated inputs. README.md gives the layer each one is meant to
expose and the metric it should move."""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.inputs import Sizes


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sizes: Sizes


WORKLOADS: dict[str, Workload] = {w.name: w for w in (
    # The reference program's query shape and its neighbours: tasks do
    # most of the work, the build step little (the control for changes
    # to driver-side code).
    Workload(
        "corpus_scan",
        ("wordcount_canonical", "wordcount_rdd", "source_text_dir_wordcount"),
        Sizes(documents=48000),
    ),
    # Near-duplicate and pair-join operators: most of the time is the
    # build step (eager checkpoints of real intermediates, driver-side
    # plan building), the rest shuffle-heavy pair joins.
    Workload(
        "neardup_join",
        ("dedup_minhash_det", "similarity_tfidf_pairs",
         "basket_pair_affinity"),
        Sizes(documents=1000, part=2000, lineitem=60000),
    ),
)}
