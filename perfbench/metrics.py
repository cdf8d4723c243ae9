"""Which per-layer metrics each workload measures.

``BENCHMARK.json`` at the repository root is the metric catalogue (names,
units, direction); ``run.py`` reads it.  This module only says which layers
each workload crosses.  A per-layer metric belongs to the longest prefix of
``LAYERS`` its name starts with; a workload measures the metrics whose
prefix it lists, and reports 0 for the others.
"""

from __future__ import annotations

# printed with --trace 0 but not bounded, and kept as bench.<name> in the
# traced run: the stream runs at about its capacity, and each file's latency
# (and the end-of-input flush) moves with where it lands in the empty-batch
# cycle
UNBOUNDED = [("latency_p50_ms", "ms"), ("latency_p99_ms", "ms"), ("drain_s", "s")]

# (layer, registered query) for the corpus entries
CORPUS_ENTRIES = [
    ("dedup", "minhash_recall"),
    ("dedup", "dedup_containment"),
    ("text", "dedup_semantic_docs"),
    ("similarity", "ann_ivf_topk"),
    ("pipeline", "corpus_curation"),
]
# layers that get a <layer>.self_s metric from the traced run's spans
SELF_LAYERS = ["bench", "io", "fads_batch", "fads_core", "fads_stream", "spark",
               "dedup", "text", "similarity", "pipeline"]

# every workload: spans, tracing overhead, the JVM status store
_COMMON = ("bench.", "spark.", "io.self_s")
LAYERS = {
    "fads_batch": _COMMON + ("fads_batch.", "io.events_with_arrival_s"),
    "taxi_stream_ref": _COMMON + ("fads_core.", "fads_stream.", "spark.stream.",
                                  "bench.generator_", "io.parse_taxi_lines_s"),
    "corpus_dedup": _COMMON + ("dedup.", "text.", "similarity.", "pipeline.",
                               "io.read_table_s"),
}
WORKLOADS = tuple(LAYERS)
_PREFIXES = sorted({p for ps in LAYERS.values() for p in ps}, key=len, reverse=True)


def measured_by(workload: str, name: str) -> bool:
    """True when ``workload`` measures the per-layer metric ``name``."""
    prefix = next((p for p in _PREFIXES if name.startswith(p)), None)
    if prefix is None:
        raise KeyError(f"per-layer metric {name} belongs to no layer in metrics.py")
    return prefix in LAYERS[workload]
