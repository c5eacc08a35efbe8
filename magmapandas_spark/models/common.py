"""Shared expression/numpy helpers for model modules.

Column-expression builders mirror the reference's composition handling
(``magmaFrame.py:177-264``, ``parse_io/parse.py:47-65``); numpy twins
power the pandas-UDF solver tier with identical semantics.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame


def csum(cols) -> Column:
    cols = list(cols)
    return reduce(lambda a, b: a + b, cols) if cols else F.lit(0.0)


def as_col(x) -> Column:
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(x)
    return F.lit(float(x))


def components_expr(
    gf: GeoFrame,
    components=(),
    comp: dict[str, Column] | None = None,
    prefix: str = "",
) -> dict[str, Column]:
    """check_components as expressions (``parse_io/parse.py:47-65``):
    null→0, missing→lit(0).

    ``comp`` is this map as already built for ``gf`` by another model
    of the same query; it is extended, not rebuilt, so a query that
    chains models over one melt builds the null→0 columns once.
    ``prefix`` reads species ``s`` from column ``prefix + s``."""
    zero = None
    if comp is None:
        zero = F.lit(0.0)
        comp = {s: F.coalesce(F.col(prefix + s), zero) for s in gf.species}
    missing = [c for c in components if c not in comp]
    if missing and zero is None:
        zero = F.lit(0.0)
    return {**comp, **dict.fromkeys(missing, zero)}


def mole_exprs(
    comp: dict[str, Column], exclude: tuple[str, ...] = ()
) -> dict[str, Column]:
    """wt.% → (unnormalised) moles: ``w / molar weight``."""
    return {
        s: c / chem.calculate_weight(s)
        for s, c in comp.items()
        if s not in exclude
    }


def mole_fraction_exprs(
    comp: dict[str, Column], exclude: tuple[str, ...] = ()
) -> dict[str, Column]:
    """wt.% → mol fractions over the included species
    (``magmaFrame.py:356-385`` with normalise=True)."""
    mol = mole_exprs(comp, exclude)
    total = csum(mol.values())
    return {s: m / total for s, m in mol.items()}


def cation_fraction_exprs(mol: dict[str, Column]) -> dict[str, Column]:
    """Cation mol fractions from oxide mol fractions
    (``magmaFrame.py:225-264``)."""
    cat: dict[str, Column] = {}
    for s, m in mol.items():
        name = chem.cation_name(s)
        e = m * chem.cation_amount(s)
        cat[name] = cat[name] + e if name in cat else e
    total = csum(cat.values())
    return {n: e / total for n, e in cat.items()}


# ----------------------------------------------------------------------
# numpy twins (for solver-tier pandas UDFs)
# ----------------------------------------------------------------------

def mole_fractions_np(
    wt: dict[str, np.ndarray], exclude: tuple[str, ...] = ()
) -> dict[str, np.ndarray]:
    mol = {
        s: v / chem.calculate_weight(s)
        for s, v in wt.items()
        if s not in exclude
    }
    total = sum(mol.values())
    return {s: m / total for s, m in mol.items()}


def cation_fractions_np(mol: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    cat: dict[str, np.ndarray] = {}
    for s, m in mol.items():
        name = chem.cation_name(s)
        e = m * chem.cation_amount(s)
        cat[name] = cat[name] + e if name in cat else e
    total = sum(cat.values())
    return {n: e / total for n, e in cat.items()}


def feo_fe2o3_split_np(
    mol: dict[str, np.ndarray], Fe3Fe2: np.ndarray
) -> dict[str, np.ndarray]:
    """FeO/Fe2O3 split in mol space (``core/MagmaFrames/melt.py:225-262``),
    total-Fe given as FeO."""
    out = dict(mol)
    fe2_frac = 1.0 / (1.0 + Fe3Fe2)
    feo = mol["FeO"]
    out["FeO"] = feo * fe2_frac
    out["Fe2O3"] = feo * (1.0 - fe2_frac) / 2.0
    return out
