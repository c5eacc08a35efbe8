"""The benchmark's workloads: fixed lists of registry queries from
``relational.suite.queries()``, grouped by the layer each exercises.

Every group a per-layer metric sums over is named here; a query sits in
at most one group of each family.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str
    queries: tuple[str, ...]
    # group name -> the queries of this workload in it
    groups: dict[str, tuple[str, ...]] = field(default_factory=dict)
    persist_melt: bool = False
    # median timed pass on the reference host (4 cores, sf0.01); the
    # run's pass count is fixed from it, so it never depends on the
    # speed being measured
    nominal_pass_s: float = 5.0

    def passes(self, seconds: float, min_executions: int,
               traced: bool) -> int:
        """Timed passes of a run of ``seconds``: as many nominal passes
        as fill it, at least enough for ``min_executions`` query
        executions; a traced run makes them in groups of four."""
        n = max(round(seconds / self.nominal_pass_s),
                -(-min_executions // len(self.queries)))
        return max(4, -(-n // 4) * 4) if traced else n


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="melt_models",
            sf="0.01",
            queries=(
                "thermometer_putirka2008_15",
                "unit_conversions",
                "fe3fe2_expr_models",
                "kd_expr_models",
                "density_viscosity",
                "volatile_saturation_im",
                "qfm_exact",
            ),
            groups={
                "expr": ("thermometer_putirka2008_15", "unit_conversions",
                         "fe3fe2_expr_models", "kd_expr_models",
                         "density_viscosity"),
                "udf": ("volatile_saturation_im", "qfm_exact"),
            },
            persist_melt=True,
            nominal_pass_s=3.9,
        ),
        Workload(
            name="operators_mix",
            sf="0.01",
            queries=(
                "png_decode",
                "wav_chunks",
                "h264_intra_decode",
                "quality_classifier",
                "label_propagation",
                "below_avg_revenue",
                "events_hourly",
                "merge_upsert",
            ),
            groups={
                "decode": ("png_decode", "wav_chunks", "h264_intra_decode"),
                "loop": ("label_propagation",),
                "events": ("events_hourly",),
            },
            nominal_pass_s=6.9,
        ),
    )
}
