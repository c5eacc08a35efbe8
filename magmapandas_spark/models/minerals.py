"""Mineral-phase operators: olivine, plagioclase, clinopyroxene,
magnetite, ilmenite.

Spark-native re-expression of ``src/MagmaPandas/core/MagmaFrames/
{olivine,plagioclase,clinopyroxene,magnetite,ilmenite}.py`` — all pure
arithmetic → Column expressions. Phase subclasses become namespaced
functions over a tagged GeoFrame (SURVEY §1.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magmapandas_spark.core.enums import Datatype, Unit
from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models.common import (
    cation_fraction_exprs,
    components_expr,
    csum,
    mole_fraction_exprs,
)


def _mol(gf: GeoFrame, components: list[str] | None = None) -> dict[str, Column]:
    comp = components_expr(gf, components or [])
    if gf.units == Unit.WT_PERCENT:
        return mole_fraction_exprs(comp)
    return comp


def forsterite(olivine: GeoFrame, out_col: str = "Fo") -> DataFrame:
    """Olivine forsterite content Mg/(Mg+Fe) molar
    (``core/MagmaFrames/olivine.py:33-51``)."""
    mol = _mol(olivine)
    expr = mol["MgO"] / (mol["FeO"] + mol["MgO"])
    return olivine.df.withColumn(out_col, expr)


def olivine_formula(olivine: GeoFrame) -> GeoFrame:
    """Mineral formula at 4 O p.f.u. (``olivine.py:53-58``)."""
    return olivine.mineral_formula(O=4)


def cpx_mg_no(cpx: GeoFrame, out_col: str = "Mg_no") -> DataFrame:
    """Clinopyroxene Mg# (``clinopyroxene.py:33-50``)."""
    mol = _mol(cpx)
    return cpx.df.withColumn(out_col, mol["MgO"] / (mol["FeO"] + mol["MgO"]))


def cpx_formula(cpx: GeoFrame) -> GeoFrame:
    """6 O p.f.u. (``clinopyroxene.py:13-18``)."""
    return cpx.mineral_formula(O=6)


def plagioclase_anorthite(plag: GeoFrame, out_col: str = "An") -> DataFrame:
    """An content Ca·100/(Ca+Na) (``plagioclase.py:28-36``)."""
    cat = cation_fraction_exprs(_mol(plag))
    expr = cat["Ca"] * 100.0 / (cat["Ca"] + cat["Na"])
    return plag.df.withColumn(out_col, expr)


def plagioclase_endmembers(plag: GeoFrame) -> DataFrame:
    """An/Ab/Or endmembers (``plagioclase.py:38-52``)."""
    cat = cation_fraction_exprs(_mol(plag))
    tot = cat["Ca"] + cat["Na"] + cat.get("K", F.lit(0.0))
    return (
        plag.df.withColumn("anorthite", cat["Ca"] * 100.0 / tot)
        .withColumn("albite", cat["Na"] * 100.0 / tot)
        .withColumn("orthoclase", cat.get("K", F.lit(0.0)) * 100.0 / tot)
    )


def plagioclase_formula(plag: GeoFrame) -> GeoFrame:
    """8 O p.f.u. (``plagioclase.py:54-60``)."""
    return plag.mineral_formula(O=8)


_MAGNETITE_COMPONENTS = ["MgO", "MnO", "FeO", "Fe2O3", "TiO2", "Al2O3"]


def _cations_norm_expr(gf: GeoFrame, components: list[str], norm_to: float):
    """Cation moles normalised to ``norm_to`` total cations
    (``magmaFrame.py:225-264`` with norm_to)."""
    comp = components_expr(gf, components)
    mol = (
        mole_fraction_exprs(comp) if gf.units == Unit.WT_PERCENT else comp
    )
    cat = cation_fraction_exprs(mol)
    return {n: e * norm_to for n, e in cat.items()}


def magnetite_endmembers(mt: GeoFrame) -> DataFrame:
    """Magnetite-ulvospinel endmembers, Lindsley/QUILF
    (``magnetite.py:17-43``)."""
    cat = _cations_norm_expr(mt, _MAGNETITE_COMPONENTS, 3.0)
    g = lambda n: cat.get(n, F.lit(0.0))
    magnetite = (
        (g("Mg") + g("Mn") + g("Fe"))
        - F.lit(2.0) * g("Ti")
        - g("Al") / 2.0
    ) / 3.0
    mg_ulv = g("Mg") / 2.0
    mn_ulv = g("Mn") / 2.0
    ulv = g("Ti") - mn_ulv - mg_ulv
    total = magnetite + ulv + mg_ulv
    ulv_frac = (ulv + mg_ulv) / total
    return mt.df.withColumn("magnetite", F.lit(1.0) - ulv_frac).withColumn(
        "ulvospinel", ulv_frac
    )


def magnetite_fe_speciation(mt: GeoFrame) -> DataFrame:
    """Fe3+/Fe2+ split at 3-cation normalisation, Lindsley/QUILF
    (``magnetite.py:45-117``). Returns cation moles with Fe split into
    Fe (2+) and Fe3 columns (engine keeps the cation basis; oxide wt.%
    re-expression composes via GeoFrame.oxides())."""
    cat = _cations_norm_expr(mt, _MAGNETITE_COMPONENTS, 3.0)
    g = lambda n: cat.get(n, F.lit(0.0))
    magnetite = (
        (g("Mg") + g("Mn") + g("Fe"))
        - F.lit(2.0) * g("Ti")
        - g("Al") / 2.0
    ) / 3.0
    Fe3 = F.lit(2.0) * magnetite
    Fe2 = (
        magnetite
        + F.lit(2.0) * g("Ti")
        + g("Al") / 2.0
        - g("Mg")
        - g("Mn")
    )
    out = mt.df
    for name, expr in cat.items():
        out = out.withColumn(f"cat_{name}", expr)
    return out.withColumn("cat_Fe2", Fe2).withColumn("cat_Fe3", Fe3)


_ILMENITE_COMPONENTS = ["SiO2", "TiO2", "Al2O3", "FeO", "MnO", "MgO", "Cr2O3"]


def ilmenite_endmembers(ilm: GeoFrame) -> DataFrame:
    """Ilmenite endmembers, Andersen/QUILF (``ilmenite.py:17-51``)."""
    cat = _cations_norm_expr(ilm, _ILMENITE_COMPONENTS, 2.0)
    g = lambda n: cat.get(n, F.lit(0.0))
    hematite = ((g("Fe") + g("Mg") + g("Mn")) - g("Ti")) / 2.0
    Fe2 = g("Ti") - g("Mg") - g("Mn")
    ilmenite = Fe2 + g("Al") / 2.0
    total = hematite + ilmenite + g("Mn") + g("Mg")
    return (
        ilm.df.withColumn("hematite", hematite / total)
        .withColumn("ilmenite", ilmenite / total)
        .withColumn("geikielite", g("Mg") / total)
        .withColumn("pyrophanite", g("Mn") / total)
    )


def ilmenite_fe_speciation(ilm: GeoFrame) -> DataFrame:
    """Fe split at 2-cation normalisation (``ilmenite.py:53-97``)."""
    cat = _cations_norm_expr(ilm, _ILMENITE_COMPONENTS, 2.0)
    g = lambda n: cat.get(n, F.lit(0.0))
    hematite = ((g("Fe") + g("Mg") + g("Mn")) - g("Ti")) / 2.0
    Fe2 = g("Ti") - g("Mg") - g("Mn")
    Fe3 = F.lit(2.0) * hematite
    out = ilm.df
    for name, expr in cat.items():
        out = out.withColumn(f"cat_{name}", expr)
    return out.withColumn("cat_Fe2", Fe2).withColumn("cat_Fe3", Fe3)


# Melt structure operators (``core/MagmaFrames/melt.py:113-160``)

def tetrahedral_cations_expr(melt: GeoFrame) -> Column:
    """Σ (Si, Ti, Al, P) cation fractions (``melt.py:113-131``)."""
    cat = cation_fraction_exprs(_mol(melt))
    return csum(cat[n] for n in ("Si", "Ti", "Al", "P") if n in cat)


def oxygen_per_cation_expr(melt: GeoFrame) -> Column:
    """Moles O per mole cations (``magmaFrame.py:315-338``)."""
    from magmapandas_spark.chem import elements as chem

    mol = _mol(melt)
    cat = cation_fraction_exprs(mol)
    ratios = {}
    for s in mol:
        name = chem.cation_name(s)
        o, c = chem.oxygen_amount(s), chem.cation_amount(s)
        ratios[name] = o / c
    return csum(cat[n] * r for n, r in ratios.items() if n in cat)


def nbo(melt: GeoFrame, out_col: str = "NBO") -> DataFrame:
    """Non-bridging oxygen = 2·O − 4·tetrahedral (``melt.py:133-147``)."""
    expr = F.lit(2.0) * oxygen_per_cation_expr(melt) - F.lit(
        4.0
    ) * tetrahedral_cations_expr(melt)
    return melt.df.withColumn(out_col, expr)


def nbo_t(melt: GeoFrame, out_col: str = "NBO_T") -> DataFrame:
    """NBO/T (``melt.py:149-160``)."""
    tet = tetrahedral_cations_expr(melt)
    expr = (
        F.lit(2.0) * oxygen_per_cation_expr(melt) - F.lit(4.0) * tet
    ) / tet
    return melt.df.withColumn(out_col, expr)
