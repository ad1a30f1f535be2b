"""The benchmark's workloads: which registered operations each one runs.

An operation is one registered query callable (``plans.REGISTRY[name].spark``)
followed by a ``collect()`` of its result. Lists are in registration order;
the run's seed permutes them. Each list is a sample of its family, sized so
that one run (a fresh JVM: set-up, a first pass, warm passes and five
timed passes) fits the time a comparison of two commits may take (see README.md).
"""

from __future__ import annotations

# load_clean: the paper's job, by pipeline stage. Anomaly injection runs in
# set-up, inside prepare's cleaned_points item (inject -> detect -> impute).
LOAD_CLEAN_STAGES = {
    "ingest": ("p3_regularize_grid",),
    "detect": ("ml_softpatch_scores",),
    "impute": ("m17_ae_imputation",),
    "forecast": ("forecast_ab_neural",),
}

# short_sf001: small inputs, so each operation's fixed cost dominates —
# construction and job launch (TPC-H q*), sink writes (sink_*), Python-worker
# start (codec mm_*)
SHORT_OPS = ("q6_forecast_revenue", "sink_partition_prune", "mm_binary_features")

# sf: scale factor of the input tables (perfbench/data/sf<sf>). prepare:
# set-up calls plans.prepare (short_sf001's operations read none of its views).
# warm_passes: untimed passes after the first one. short_sf001's operations
# were still getting cheaper in its third and fourth passes; load_clean's
# were not, and its passes take twice as long.
SETTINGS = {
    "load_clean": {"sf": 0.001, "prepare": True, "warm_passes": 2},
    "short_sf001": {"sf": 0.01, "prepare": False, "warm_passes": 4},
}


def stage_of(op: str) -> str | None:
    for stage, ops in LOAD_CLEAN_STAGES.items():
        if op in ops:
            return stage
    return None


def operations(workload: str, registered: list[str]) -> list[str]:
    """The workload's operations, in registration order."""
    if workload == "load_clean":
        want = {op for ops in LOAD_CLEAN_STAGES.values() for op in ops}
        return [n for n in registered if n in want]
    if workload == "short_sf001":
        return [n for n in registered if n in SHORT_OPS]
    raise KeyError(workload)
