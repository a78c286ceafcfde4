"""The benchmark's workloads, each a list of parts called through the
public ``hgn_spark`` API and drained with a noop write.

A benchmark job runs every part of its workload once: for each part,
construct (the call into the public entry point) and drain. A part's
``reference`` names what checks its output: a registered row's DuckDB
oracle, or the HGN replay.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import hgn_replay


@dataclass(frozen=True)
class Part:
    name: str
    # (spark, data_dir, phase_timings dict) -> DataFrame
    build: Callable
    # Registered row whose oracle checks this part, "replay" for the
    # HGN replay, "peel" for exact k-core peeling (check.core_numbers),
    # or None when another part's check covers it.
    reference: str | None


@dataclass(frozen=True)
class Workload:
    name: str
    families: tuple[str, ...]  # generator table families
    why: str
    parts: tuple[Part, ...]
    # Untimed checks run once per run: (name, build, registered row).
    extra_checks: tuple[Part, ...] = field(default_factory=tuple)


class StepClock(dict):
    """A ``phase_timings`` dict that also records when each HGN step's
    delete-rule phase starts and ends (epoch seconds), so Spark jobs can
    be attributed to steps by submission time. ``hgn_communities`` sets
    ``n_steps`` as a step begins and appends to
    ``loop_delete_rule_per_step`` as its delete-rule phase ends."""

    def __init__(self) -> None:
        super().__init__()
        self.step_windows: list[list[float]] = []

    def __setitem__(self, key, value) -> None:
        if key == "n_steps":
            self.step_windows.append([time.time(), 0.0])
        super().__setitem__(key, value)

    def setdefault(self, key, default=None):
        if key == "loop_delete_rule_per_step" and self.step_windows:
            self.step_windows[-1][1] = time.time()
        return super().setdefault(key, default)


def _registered(row: str) -> Callable:
    def build(spark, data_dir, _timings):
        from hgn_spark.registry import load_all

        return load_all()[row].fn(spark, data_dir)

    return build


def _hgn_cascade(spark, data_dir, timings):
    from pyspark.sql import functions as F

    from hgn_spark.catalog import load_table
    from hgn_spark.graph.hgn import HGNParams, hgn_communities
    from hgn_spark.graph.queries import derived_edges

    p = hgn_replay.CASCADE
    vertices = load_table(spark, data_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), F.col("s_nationkey").alias("nationkey"))
    params = HGNParams(
        r_lvl1_thres=float(p.r_lvl1_thres),
        r_lvl2_thres=float(p.r_lvl2_thres),
        max_edge_weight=float(p.max_edge_weight),
        betweenness_thres=float(p.betweenness_thres),
        feature_min_avg=float(p.feature_min_avg),
        max_steps=p.max_steps,
        max_sp_length=2,
    )
    return hgn_communities(vertices, derived_edges(spark, data_dir), ["nationkey"],
                           params, phase_timings=timings, edges_canonical=True)


def _curate(spark, data_dir, _timings):
    from hgn_spark.pipeline import curate_corpus

    return curate_corpus(spark, data_dir)


# Labels of hgn_spark.branches.BRANCH_ROLES["simsearch_topk_cosine"],
# fixed here because they name per-layer metrics.
SIMSEARCH_VARIANTS = ("exact", "seed", "kmeans", "lsh", "ivf_adaptive",
                      "lsh_adaptive", "ivf_linear")

GRAPH_ROWS = ("graph_pagerank", "graph_label_propagation", "graph_kcore")

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "hgn_cascade", ("graph",),
            "the paper's algorithm: step 1 scores every edge with about twice "
            "the task CPU per wall second of the two tail steps, which are "
            "bound by per-step driver overhead",
            (Part("hgn_communities", _hgn_cascade, "replay"),),
        ),
        Workload(
            "operators", ("graph", "corpus", "embeddings"),
            "graph loops, curation and similarity search on the same kind of "
            "inputs: shares checkpoint and components with HGN, bypasses its layers",
            tuple(Part(r, _registered(r), "peel" if r == "graph_kcore" else r)
                  for r in GRAPH_ROWS) + (
                Part("curate_corpus", _curate, None),
                Part("simsearch_topk_cosine", _registered("simsearch_topk_cosine"),
                     "simsearch_topk_cosine"),
            ),
            (Part("pipeline_curation_report",
                  _registered("pipeline_curation_report"),
                  "pipeline_curation_report"),),
        ),
    )
}
