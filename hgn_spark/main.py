"""CLI entry point: the reference's `python main.py -c conf.yml`
lifecycle (reference main.py:216-272 / SURVEY §3.1) re-expressed:

  config (S12) → typed CSV load (S1/S2) → HGN loop (G2-G13) →
  per-community CSV export (S7, distributed) + parquet assignment table.

Usage:
  python -m hgn_spark.main -c conf.yml [-o out_dir]

The config shape is validated by hgn_spark.config.RUN_SCHEMA; see
tests/test_main_cli.py for a complete example.
"""

from __future__ import annotations

import argparse
import os

from hgn_spark.checkpoint import loose_local_checkpoint
from hgn_spark.config import load_config
from hgn_spark.graph.components import component_sizes
from hgn_spark.graph.hgn import HGNParams, hgn_communities
from hgn_spark.session import get_spark
from hgn_spark.sources.csv import load_edges_csv, load_nodes_csv
from hgn_spark.sources.sinks import write_communities_csv, write_parquet


def run(config_path: str, out_dir: str) -> dict[str, int]:
    conf = load_config(config_path)
    spark = get_spark(
        app_name="hgn_spark_main",
        extra_conf=conf.get("spark", {}).get("config", {}),
    )

    nodes_conf = conf["input"]["nodes"]
    edges_conf = conf["input"]["edges"]
    nodes = load_nodes_csv(
        spark,
        nodes_conf["path"],
        feature_names=nodes_conf["feature_names"],
        delimiter=nodes_conf.get("delimiter", ","),
        has_header=nodes_conf.get("has_header", False),
        encoding=nodes_conf.get("encoding", "UTF-8"),
    )
    edges = load_edges_csv(
        spark,
        edges_conf["path"],
        delimiter=edges_conf.get("delimiter", ","),
        has_weights=edges_conf.get("has_weights", False),
        has_header=edges_conf.get("has_header", False),
    )

    ro = conf.get("run_options", {})
    params = HGNParams(
        r_lvl1_thres=ro.get("r_lvl1_thres", 0.5),
        r_lvl2_thres=ro.get("r_lvl2_thres", 0.5),
        max_edge_weight=ro.get("max_edge_weight", 0.5),
        betweenness_thres=ro.get("betweenness_thres", 5.0),
        feature_min_avg=ro.get("feature_min_avg", 0.5),
        max_steps=ro.get("max_steps", 10),
        max_sp_length=ro.get("max_sp_length", 2),
        min_comp_size=ro.get("min_comp_size", 1),
    )
    feature_cols = ro.get("features_to_check", nodes_conf["feature_names"][1:2])

    communities = hgn_communities(nodes, edges, feature_cols, params)
    if params.min_comp_size > 1:
        # The reference defined this filter but never wired it (SURVEY
        # §8.4); wiring it is the point of having the config knob.
        # Sizes come from the COMMUNITY labels themselves: HGN
        # communities are components of the PRUNED edge set, so
        # re-running components on the original edges would measure the
        # enclosing original-graph component (always >= the community)
        # and the filter would be a silent no-op on connected inputs.
        big = component_sizes(communities, min_size=params.min_comp_size)
        communities = communities.join(big.select("component"), "component", "left_semi")
    communities = loose_local_checkpoint(communities)

    write_parquet(communities, os.path.join(out_dir, "communities.parquet"))
    write_communities_csv(communities, nodes, os.path.join(out_dir, "communities_csv"))

    n_vertices = communities.count()
    n_communities = communities.select("component").distinct().count()
    return {"n_vertices": n_vertices, "n_communities": n_communities}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("-c", "--config", required=True)
    ap.add_argument("-o", "--out", default="out")
    args = ap.parse_args()
    stats = run(args.config, args.out)
    print(stats)


if __name__ == "__main__":
    main()
