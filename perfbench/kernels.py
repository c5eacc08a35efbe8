"""Direct probe of the ``models`` numpy kernels, below Spark.

Each kernel runs on one seeded batch of melt compositions in the
synthetic-melt value ranges; the probe reports rows per second as the
median of a few repetitions.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

SPECIES = ("SiO2", "Al2O3", "TiO2", "MgO", "FeO", "CaO", "Na2O", "K2O",
           "MnO", "P2O5", "H2O", "CO2")


def melt_batch(n_rows: int, seed: int) -> dict[str, np.ndarray]:
    """Basaltic compositions (wt.%), T_K and P_bar over the ranges the
    suite's synthetic melt table spans."""
    rng = np.random.default_rng([seed, n_rows])
    u = lambda lo, hi: rng.uniform(lo, hi, n_rows)  # noqa: E731
    return {
        "SiO2": u(45.0, 65.0), "Al2O3": u(12.0, 17.0), "TiO2": u(1.5, 2.1),
        "MgO": u(4.0, 13.0), "FeO": u(8.0, 10.0), "CaO": u(9.0, 9.8),
        "Na2O": u(2.0, 3.0), "K2O": u(0.5, 0.9), "MnO": np.full(n_rows, 0.15),
        "P2O5": np.full(n_rows, 0.3), "H2O": u(0.1, 3.9), "CO2": u(0.1, 0.5),
        "T_K": u(1300.0, 1500.0), "P_bar": u(1000.0, 5000.0),
    }


# kernel -> rows per call: the mixed-fluid Allison solve is ~100x
# slower per row than the others
KERNELS = {
    "allison_mixed_saturation_np": 256,
    "h2o_saturation_np": 8192,
    "fo2_qfm": 8192,
    "bisect_vectorized": 8192,
}


def _call(name: str, batch):
    from magmapandas_spark.models import allison, eos, volatiles

    wt = {s: batch[s] for s in SPECIES}
    T = batch["T_K"]
    if name == "allison_mixed_saturation_np":
        return allison.allison_mixed_saturation_np(
            wt, batch["H2O"], batch["CO2"], T)
    if name == "h2o_saturation_np":
        return volatiles.h2o_saturation_np(wt, batch["H2O"], T)
    if name == "fo2_qfm":
        return eos.fo2_qfm(0.0, T, batch["P_bar"])
    # the quartz -> coesite transition pressure (kbar) at each T
    return eos.bisect_vectorized(
        lambda p: eos.phase_transition(p, T, "quartz", "coesite"),
        np.full_like(T, 1e-3), np.full_like(T, 150.0))


def probe(seed: int, reps: int = 3) -> dict[str, float]:
    """``{kernel name: rows per second}``; every kernel result is checked
    to be finite on the whole batch before it is timed."""
    out = {}
    for name, n_rows in KERNELS.items():
        batch = melt_batch(n_rows, seed)
        first = _call(name, batch)
        for arr in first if isinstance(first, tuple) else (first,):
            if not np.all(np.isfinite(arr)):
                raise ValueError(f"kernel {name} returned non-finite rows")
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            _call(name, batch)
            times.append(time.perf_counter() - t0)
        out[name] = n_rows / statistics.median(times)
    return out
