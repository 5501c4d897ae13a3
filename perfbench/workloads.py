"""The benchmark's workloads: which ops each draws from, which Store
layouts its set-up builds, and the module each op's code lives in. Why each
workload was chosen is in README.md and BENCHMARK.json.

Every op is a `SparkEntry.queries` key with an oracle in `SparkEntry.oracleSql`.
"""

WORKLOADS = {
    "metadata_read": {
        "ops": ["sp15_visibility_anon", "fts5_page2", "cat5_iri_backlinks", "cat2_list_v2_page",
                "ev3_watch_delivery"],
        "stores": ["quads", "postings", "iri_index"],
    },
    "batch_jobs": {
        "ops": ["dd8_dedup_components", "ann6_pq_adc", "tx17_winnowing", "gr4_shortest_paths",
                "pl2_filter_spandedup_shard"],
        "stores": [],
    },
    "ingest_writes": {
        "ops": ["cat14_copy_conditions", "cat8_usage_delta", "ev5_projection", "ev4_debounce",
                "cr1_orset_fold"],
        "stores": [],
    },
}

# module = the package of the repo whose code does the op's work
MODULES = {
    "sp15_visibility_anon": "sparql",
    "fts5_page2": "fts",
    "cat5_iri_backlinks": "index",
    "cat2_list_v2_page": "catalog",
    "dd8_dedup_components": "dedup",
    "ann6_pq_adc": "similarity",
    "tx17_winnowing": "text",
    "gr4_shortest_paths": "graph",
    "pl2_filter_spandedup_shard": "pipeline",
    "ev3_watch_delivery": "streaming",
    "cat14_copy_conditions": "catalog",
    "cat8_usage_delta": "catalog",
    "ev5_projection": "streaming",
    "ev4_debounce": "streaming",
    "cr1_orset_fold": "streaming",
}

MODULE_NAMES = ["sparql", "fts", "index", "catalog", "streaming", "dedup",
                "similarity", "text", "pipeline", "graph"]

STORES = ["quads", "triples", "triples_bucketed", "postings", "iri_index"]
