"""The benchmark's workloads: which registered queries run, at what scale.

Each pass runs every query of the list once, in an order permuted by the
run's seed. The lists are subsets of bench.py's headline sets, sized so
that one run, cold set-up and oracle check included, stays within the
benchmark's time budget on a 4-core host. One workload exercises each of
the batch and streaming paths while the other bypasses it.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]
    # Seconds of one warm pass on the 4-core reference host while the
    # host is calm. It turns ``--seconds`` into a fixed pass count, so
    # every run of a workload, on any commit, takes its fastest pass and
    # fastest executions from the same number of tries.
    pass_s: float

    def passes(self, seconds: float) -> int:
        return max(2, round(seconds / self.pass_s))


WORKLOADS: dict[str, Workload] = {
    "batch-sf0.1": Workload(
        sf=0.1,
        queries=(
            "q09_product_profit",
            "w4_topk_per_group",
            "a5c_quantile_rollup",
            "l3_cosine_topk",
        ),
        pass_s=5.0,
    ),
    "stream-sf0.1": Workload(
        sf=0.1,
        queries=(
            "s1_stream_replay",
            "t2_stream_tumbling",
            "t21_stream_drift_gate",
        ),
        pass_s=4.8,
    ),
}
