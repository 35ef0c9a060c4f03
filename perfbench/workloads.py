"""The benchmark's workloads: which requests a pass runs, and the
fixture each workload builds during set-up.

A request is ``(name, build, oracle_name)``: ``build(spark, data_dir)``
returns the DataFrame the request forces through the ``noop`` sink, and
``oracle_name`` names the registry query whose DuckDB oracle checks it.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from typing import Callable

from .trace import PKG


@dataclass(frozen=True)
class Request:
    name: str
    build: Callable
    oracle: str


#: the in-repo SPARQL texts of ``queries_sparql`` and the registry query
#: each one is the text of
SPARQL_TEXTS = {
    "sparql_network_root": "_NETWORK_00_RQ",
    "sparql_network_remove_na": "_NETWORK_01_RQ",
    "sparql_lokale": "_LOKALE_RQ",
    "sparql_path_instances": "_PATH_RQ",
    "sparql_lang_filter": "_LANG_FILTER_RQ",
    "sparql_inverse_path": "_INVERSE_RQ",
    "sparql_langmatches": "_LANGMATCHES_RQ",
    "sparql_alt_path": "_ALT_RQ",
    "sparql_negated_path": "_NPS_RQ",
    "sparql_group_closure": "_GROUP_CLOSURE_RQ",
    "sparql_alt_closure": "_ALT_CLOSURE_RQ",
}

REGISTRY = {
    "kg_sparql": ["graph_bgp_region_members", "graph_transitive_closure"],
    "er_dedup": [
        "er_cosine_pairs", "er_resolve_entities", "er_lsh_pairs_sparse",
        "dedup_minhash_pairs", "dedup_jaccard_pairs",
        "dedup_near_cluster_keep", "corpus_curation",
        "dedup_remove_boilerplate",
    ],
    "graph_analytics": [
        "graph_degrees", "graph_pagerank", "graph_label_propagation",
        "graph_kcore_peel", "graph_bfs_distances", "graph_tree_betweenness",
    ],
    "stream_ingest": [
        "stream_tumbling_daily", "stream_tumbling_append",
        "stream_session_append", "stream_stateful_totals",
        "stream_dedupe_watermarked",
    ],
    # a run-time-sized cut of the two above, so that operators.graph
    # (one-shot aggregation and an iterative driver loop) and
    # streaming.windows (stateless and stateful micro-batches) are both
    # measured in one short run
    "graph_stream": [
        "graph_degrees", "graph_pagerank",
        "stream_tumbling_daily", "stream_stateful_totals",
    ],
}

WORKLOADS = tuple(REGISTRY)


def requests(workload: str, seed: int) -> list[Request]:
    import importlib

    specs = importlib.import_module(f"{PKG}.registry").all_specs()
    out = [Request(n, specs[n].fn, n) for n in REGISTRY[workload]]
    if workload == "kg_sparql":
        qs = importlib.import_module(f"{PKG}.queries_sparql")
        counter = itertools.count()

        def sparql_request(text: str):
            def build(spark, data_dir):
                # a fresh comment line per request: the result is the
                # same, but the compile memo misses, as it does for a
                # user's new query text
                tagged = f"# req-{seed}-{next(counter)}\n{text}"
                return qs.compile_sparql(tagged, qs.factgrid_kg(spark, data_dir))
            return build

        out += [Request(n, sparql_request(getattr(qs, const)), n)
                for n, const in SPARQL_TEXTS.items()]
    return out


def fixture(workload: str, spark, data_dir: str) -> None:
    """The workload's set-up work beyond session start: the KG stores
    for ``kg_sparql``; nothing for the others, whose requests load
    their own inputs."""
    if workload != "kg_sparql":
        return
    import importlib

    qs = importlib.import_module(f"{PKG}.queries_sparql")
    qg = importlib.import_module(f"{PKG}.queries_graph")
    qs.factgrid_kg(spark, data_dir)
    qg._triples(spark, data_dir)
