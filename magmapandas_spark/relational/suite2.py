"""Correctness-suite part 2: relational surface, domain-model chains,
text analytics, dedup, similarity search.

Same cross-engine determinism rules as :mod:`suite` (decimal-cast sums,
identical fold order for float reductions, explicit tie-breaks)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.relational.suite import (
    MELT_SPECIES,
    SQL_DAVG,
    SQL_DSUM,
    SQL_MELT_CTE,
    _sql_mole_fraction_terms,
    _t,
    davg,
    dsum,
    heavy_sorted,
    synthetic_melt,
)

W = chem.calculate_weight
R_GAS = 8.314462618


# ----------------------------------------------------------------------
# relational: joins / windows / set ops / time buckets
# ----------------------------------------------------------------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join. Dimension tables (region/nation/
    customer) are broadcast; only the lineitem⋈orders join shuffles —
    the plan that survives 100 TB."""
    region = spark.read.parquet(_t(sf_dir, "region"))
    nation = spark.read.parquet(_t(sf_dir, "nation"))
    customer = spark.read.parquet(_t(sf_dir, "customer"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    lineitem = spark.read.parquet(_t(sf_dir, "lineitem"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(
            dsum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("r_name", "n_name")
    )


SQL_REVENUE_BY_NATION = f"""
SELECT r_name, n_name,
  {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate + deterministic top-k (tie-break on key)."""
    part = spark.read.parquet(_t(sf_dir, "part"))
    lineitem = spark.read.parquet(_t(sf_dir, "lineitem"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_name", "p_brand")
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("revenue").desc(), F.col("p_partkey"))
        .limit(20)
    )


SQL_TOP_PARTS = f"""
SELECT p_partkey, p_name, p_brand,
  {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS revenue,
  COUNT(*) AS n_orders
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey, p_name, p_brand
ORDER BY revenue DESC, p_partkey
LIMIT 20
"""


def q_customer_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-customer order sequence + lag + running sum.
    Single shuffle on the partition key; no global sort."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    out = (
        orders.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "prev_price",
            F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)),
        )
        .withColumn(
            "running_spend",
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .over(w)
            .cast("double"),
        )
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey", "rn", "o_orderkey", "o_totalprice", "prev_price",
            "running_spend",
        )
        .orderBy("o_custkey", "rn")
    )
    return out


SQL_CUSTOMER_ORDER_WINDOW = """
SELECT o_custkey, rn, o_orderkey, o_totalprice, prev_price, running_spend
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER w AS rn,
    COALESCE(LAG(o_totalprice) OVER w, 0.0) AS prev_price,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_spend
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
WHERE rn <= 3
ORDER BY o_custkey, rn
"""


def q_part_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: large-size parts EXCEPT those with a high-quantity
    returned lineitem; the INTERSECT leg exercises both set operators.

    Granularity note: at brand level the difference is empty at every SF
    (all 25 brands have returned rows — a vacuously-green gate), so the
    sets live at part granularity with the returned side restricted to
    ``l_quantity >= 45``: non-empty and non-trivial at sf0.01 (125 of
    440 large parts) and sf0.1 (1346 of 4335)."""
    part = spark.read.parquet(_t(sf_dir, "part"))
    lineitem = spark.read.parquet(_t(sf_dir, "lineitem"))
    returned_parts = (
        lineitem.filter(
            (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45)
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_brand")
        .distinct()
    )
    large = (
        part.filter(F.col("p_size") >= 40)
        .select("p_partkey", "p_brand")
        .distinct()
    )
    return large.exceptAll(
        large.intersect(returned_parts)
    ).orderBy("p_partkey")


SQL_PART_SETOPS = """
(SELECT DISTINCT p_partkey, p_brand FROM part WHERE p_size >= 40)
EXCEPT
((SELECT DISTINCT p_partkey, p_brand FROM part WHERE p_size >= 40)
 INTERSECT
 (SELECT DISTINCT p_partkey, p_brand FROM part JOIN lineitem ON l_partkey = p_partkey
  WHERE l_returnflag = 'R' AND l_quantity >= 45))
ORDER BY p_partkey
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the events stream table — the
    batch twin of the streaming tumbling-window query. Timestamp parts
    extracted as ints under an explicit UTC session to stay
    tz-invariant across engines."""
    from magmapandas_spark.streaming.streams import read_events_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = read_events_batch(spark, sf_dir)
    ts = F.col("ts")
    return (
        events.groupBy(
            F.dayofmonth(ts).alias("day"),
            F.hour(ts).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("day", "hour", "event_type")
    )


SQL_EVENTS_HOURLY = f"""
SELECT
  EXTRACT(day FROM ts) AS day,
  EXTRACT(hour FROM ts) AS hour,
  event_type,
  COUNT(*) AS n_events,
  {SQL_DSUM.format(x='value')} AS total_value,
  COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2, 3
ORDER BY day, hour, event_type
"""


# ----------------------------------------------------------------------
# domain-model chains on the synthetic melt
# ----------------------------------------------------------------------

def _sql_putirka15_raw() -> str:
    anhyd = [s for s in MELT_SPECIES if s != "H2O"]
    _, frac = _sql_mole_fraction_terms(anhyd)
    mg_no = f"({frac['MgO']} / ({frac['MgO']} + {frac['FeO']}))"
    return (
        f"(815.3 + 265.5 * {mg_no} + 15.37 * MgO + 8.61 * FeO"
        f" + 6.646 * (Na2O + K2O) + 39.16 * (P_bar / 10000.0)"
        f" - 12.83 * H2O + 273.15)"
    )


def q_redox_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship chained pipeline (EP2 of SURVEY §3): thermometer →
    QFM(1 bar)+1 fO2 → Borisov Fe3Fe2 — one shuffle-free codegen stage
    end-to-end."""
    from magmapandas_spark.models import fe3fe2, fo2
    from magmapandas_spark.models import thermometers as tm
    from magmapandas_spark.models.common import (
        components_expr,
        mole_fraction_exprs,
    )

    gf = synthetic_melt(spark, sf_dir)
    with_t = tm.putirka2008_15(gf, P_bar="P_bar")
    gf2 = GeoFrame(with_t, units="wt.%", datatype="oxide",
                   species=MELT_SPECIES)
    fO2 = fo2.fo2_qfm_1bar(1.0, F.col("T_K"))
    mol = mole_fraction_exprs(components_expr(gf2))
    fe = fe3fe2.fe3fe2_borisov2018(mol, F.col("T_K"), fO2)
    return (
        gf2.df.withColumn("Fe3Fe2", fe)
        .select(
            "name",
            F.round("T_K", 4).alias("T_K"),
            F.round("Fe3Fe2", 6).alias("Fe3Fe2"),
        )
        .orderBy("name")
    )


def _sql_redox_chain() -> str:
    t_k = _sql_putirka15_raw()
    _, frac = _sql_mole_fraction_terms(MELT_SPECIES)
    fo2 = (
        f"(EXP((-587474 + 1584.427 * T_K - 203.3164 * T_K * LN(T_K)"
        f" + 0.092710 * T_K * T_K) / ({R_GAS!r} * T_K)) * 10.0)"
    )
    log10fo2 = f"(LN({fo2}) / LN(10.0))"
    fe3fe2 = (
        f"POWER(10.0, 0.207 * {log10fo2} + 4633.3 / T_K"
        f" - 0.445 * {frac['SiO2']} - 0.900 * {frac['TiO2']}"
        f" + 1.532 * {frac['MgO']} + 0.314 * {frac['CaO']}"
        f" + 2.030 * {frac['Na2O']} + 3.355 * {frac['K2O']}"
        f" - 4.851 * {frac['P2O5']}"
        f" - 3.081 * {frac['SiO2']} * {frac['Al2O3']}"
        f" - 4.370 * {frac['SiO2']} * {frac['MgO']} - 1.852)"
    )
    return f"""
WITH {SQL_MELT_CTE},
with_t AS (SELECT *, {t_k} AS T_K FROM melt)
SELECT name, ROUND(T_K, 4) AS T_K, ROUND({fe3fe2}, 6) AS Fe3Fe2
FROM with_t
ORDER BY name
"""


_DENSITY = {
    "T_REF": {"SiO2": 1773.0, "TiO2": 1773.0, "Al2O3": 1773.0,
              "Fe2O3": 1723.0, "FeO": 1723.0, "MgO": 1773.0, "CaO": 1773.0,
              "Na2O": 1773.0, "K2O": 1773.0, "H2O": 1273.0},
    "MV": {"SiO2": 26.86, "TiO2": 28.32, "Al2O3": 37.42, "Fe2O3": 41.50,
           "FeO": 12.68, "MgO": 12.02, "CaO": 16.90, "Na2O": 29.65,
           "K2O": 47.28, "H2O": 22.9},
    "DVDT": {"SiO2": 0.0, "TiO2": 0.00724, "Al2O3": 0.00262, "Fe2O3": 0.0,
             "FeO": 0.00369, "MgO": 0.00327, "CaO": 0.00374,
             "Na2O": 0.00768, "K2O": 0.01208, "H2O": 0.0095},
    "DVDP": {"SiO2": -1.89e-4, "TiO2": -2.31e-4, "Al2O3": -2.26e-4,
             "Fe2O3": -2.5e-4, "FeO": -4.5e-5, "MgO": 2.7e-5,
             "CaO": 3.4e-5, "Na2O": -2.4e-4, "K2O": -6.75e-4,
             "H2O": -3.2e-4},
}


def q_density_viscosity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iacovino density + Giordano viscosity over the synthetic melt."""
    from magmapandas_spark.models import rheology
    from magmapandas_spark.models.common import components_expr

    gf = synthetic_melt(spark, sf_dir)
    T_K, P_bar = 1473.15, 2000.0
    comp = components_expr(gf)
    d = rheology.calculate_density(gf, T_K=T_K, P_bar=P_bar, comp=comp)
    gf_d = GeoFrame(d, units="wt.%", datatype="oxide", species=MELT_SPECIES)
    out = rheology.calculate_viscosity(gf_d, T_K=T_K, comp=comp)
    return (
        out.select(
            "name",
            F.round("density", 4).alias("density"),
            F.round("viscosity", 6).alias("viscosity"),
        )
        .orderBy("name")
    )


def _sql_density_viscosity() -> str:
    T_K, P_bar = 1473.15, 2000.0
    comps = list(_DENSITY["MV"])
    # mole fractions over ALL species (density.py:96-98), model oxides only
    # in the volume sum; Fe2O3 missing → zero term
    _, frac = _sql_mole_fraction_terms(MELT_SPECIES)
    mass = " + ".join(
        f"({frac[s]} * {W(s)!r})" for s in comps if s in frac
    )
    vol = " + ".join(
        f"((({T_K!r} - {_DENSITY['T_REF'][s]!r}) * {_DENSITY['DVDT'][s]!r}"
        f" + ({P_bar!r} - 1.0) * {_DENSITY['DVDP'][s]!r}"
        f" + {_DENSITY['MV'][s]!r}) * {frac[s]})"
        for s in comps
        if s in frac
    )
    density = f"(({mass}) / ({vol}) * 1000.0)"

    m = {s: f"({frac[s]} * 100.0)" for s in frac}
    z = "0.0"
    g = lambda s: m.get(s, z)
    B = (
        f"(159.6 * ({g('SiO2')} + {g('TiO2')})"
        f" + -173.3 * {g('Al2O3')}"
        f" + 72.1 * ({g('FeO')} + {g('MnO')} + {g('P2O5')})"
        f" + 75.7 * {g('MgO')}"
        f" + -39.0 * {g('CaO')}"
        f" + -84.1 * ({g('Na2O')} + {g('H2O')} + {z})"
        f" + 141.5 * ({g('H2O')} + {z} + LN(1.0 + {g('H2O')}))"
        f" + -2.43 * (({g('SiO2')} + {g('TiO2')}) * ({g('FeO')} + {g('MnO')} + {g('MgO')}))"
        f" + -0.91 * (({g('SiO2')} + {g('TiO2')} + {g('Al2O3')} + {g('P2O5')})"
        f" * ({g('Na2O')} + {g('K2O')} + {g('H2O')}))"
        f" + 17.6 * ({g('Al2O3')} * ({g('Na2O')} + {g('K2O')})))"
    )
    C = (
        f"(2.75 * {g('SiO2')}"
        f" + 15.7 * ({g('TiO2')} + {g('Al2O3')})"
        f" + 8.3 * ({g('FeO')} + {g('MgO')} + {g('MnO')})"
        f" + 10.2 * {g('CaO')}"
        f" + -12.3 * ({g('Na2O')} + {g('K2O')})"
        f" + -99.5 * LN(1.0 + {g('H2O')} + {z})"
        f" + 0.3 * (({g('Al2O3')} + {g('FeO')} + {g('MgO')} + {g('MnO')}"
        f" + {g('CaO')} - {g('P2O5')})"
        f" * ({g('Na2O')} + {g('K2O')} + {g('H2O')} + {z})))"
    )
    viscosity = f"(-4.55 + {B} / ({T_K!r} - {C}))"
    return f"""
WITH {SQL_MELT_CTE}
SELECT name, ROUND({density}, 4) AS density, ROUND({viscosity}, 6) AS viscosity
FROM melt
ORDER BY name
"""


SQL_OLIVINE_CTE = """
olivine AS (
  SELECT
    p_partkey AS name,
    39.0 + (p_partkey % 30) * 0.05 AS SiO2,
    42.0 + (p_size % 20) * 0.25 AS MgO,
    10.0 + (p_partkey % 80) * 0.1 AS FeO,
    0.1 + (p_size % 5) * 0.05 AS MnO,
    0.25 AS NiO,
    0.05 + (p_partkey % 3) * 0.05 AS CaO
  FROM part
)
"""

OLIVINE_SPECIES = ["SiO2", "MgO", "FeO", "MnO", "NiO", "CaO"]


def synthetic_olivine(spark: SparkSession, sf_dir: str) -> GeoFrame:
    part = spark.read.parquet(_t(sf_dir, "part"))
    df = part.select(
        F.col("p_partkey").alias("name"),
        (F.lit(39.0) + (F.col("p_partkey") % 30) * F.lit(0.05)).alias("SiO2"),
        (F.lit(42.0) + (F.col("p_size") % 20) * F.lit(0.25)).alias("MgO"),
        (F.lit(10.0) + (F.col("p_partkey") % 80) * F.lit(0.1)).alias("FeO"),
        (F.lit(0.1) + (F.col("p_size") % 5) * F.lit(0.05)).alias("MnO"),
        F.lit(0.25).alias("NiO"),
        (F.lit(0.05) + (F.col("p_partkey") % 3) * F.lit(0.05)).alias("CaO"),
    )
    return GeoFrame(df, units="wt.%", datatype="oxide", species=OLIVINE_SPECIES)


def q_mineral_forsterite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Olivine forsterite + 4-oxygen mineral-formula cations."""
    from magmapandas_spark.models import minerals

    gf = synthetic_olivine(spark, sf_dir)
    with_fo = minerals.forsterite(gf)
    gf2 = GeoFrame(with_fo, units="wt.%", datatype="oxide",
                   species=OLIVINE_SPECIES)
    formula = gf2.mineral_formula(O=4)
    out = formula.df.select(
        "name",
        F.round("Fo", 6).alias("Fo"),
        F.round("Si", 6).alias("Si"),
        F.round("Mg", 6).alias("Mg"),
        F.round("Fe", 6).alias("Fe"),
    )
    return out.orderBy("name")


def _sql_mineral_forsterite() -> str:
    _, frac = _sql_mole_fraction_terms(OLIVINE_SPECIES)
    fo = f"({frac['MgO']} / ({frac['FeO']} + {frac['MgO']}))"
    # cation fractions == oxide mol fractions here (all 1-cation oxides);
    # oxygen factor: Σ cation_i × (O/cat)_i ; SiO2 → 2 O, others → 1
    o_ratio = {"SiO2": 2.0, "MgO": 1.0, "FeO": 1.0, "MnO": 1.0, "NiO": 1.0,
               "CaO": 1.0}
    mol_terms = [f"({s} / {W(s)!r})" for s in OLIVINE_SPECIES]
    total_mol = " + ".join(mol_terms)
    cat = {s: f"(({s} / {W(s)!r}) / ({total_mol}))" for s in OLIVINE_SPECIES}
    oxy_total = " + ".join(f"({cat[s]} * {o_ratio[s]!r})" for s in OLIVINE_SPECIES)
    factor = f"(4.0 / ({oxy_total}))"
    return f"""
WITH {SQL_OLIVINE_CTE}
SELECT name,
  ROUND({fo}, 6) AS Fo,
  ROUND({cat['SiO2']} * {factor}, 6) AS Si,
  ROUND({cat['MgO']} * {factor}, 6) AS Mg,
  ROUND({cat['FeO']} * {factor}, 6) AS Fe
FROM olivine
ORDER BY name
"""


# ----------------------------------------------------------------------
# text analytics / dedup / similarity
# ----------------------------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: token count, stopword ratio, mean
    token length — narrow, scan-local (no shuffle at all)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    tokens = F.split(F.col("text"), " ")
    n_tokens = F.size(tokens)
    n_stop = F.size(
        F.filter(tokens, lambda x: x.isin("a", "the", "of", "and"))
    )
    mean_len = (F.length("text") - n_tokens + 1) / n_tokens
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            n_stop.alias("n_stop"),
            F.round(n_stop.cast("double") / n_tokens, 6).alias("stop_ratio"),
            F.round(mean_len, 6).alias("mean_token_len"),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_QUALITY = """
SELECT doc_id, lang,
  len(str_split(text, ' ')) AS n_tokens,
  len(list_filter(str_split(text, ' '), x -> x IN ('a','the','of','and'))) AS n_stop,
  ROUND(CAST(len(list_filter(str_split(text, ' '), x -> x IN ('a','the','of','and'))) AS DOUBLE)
        / len(str_split(text, ' ')), 6) AS stop_ratio,
  ROUND((length(text) - len(str_split(text, ' ')) + 1.0) / len(str_split(text, ' ')), 6) AS mean_token_len
FROM documents
ORDER BY doc_id
"""


# BPE-ish pretokenizer (GPT-2-pattern subset): apostrophe suffix |
# word | digit run | punctuation run | residual space run. Restricted
# to syntax shared by Java regex (Spark) and RE2 (DuckDB) — no
# lookaround, no backrefs — with identical leftmost-first alternation,
# so match counts are exact cross-engine.
_BPE_RE = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9']+| +"


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways per document — whitespace split and a
    BPE-ish pretokenizer regex (the standard LLM-pipeline size signal) —
    plus chars-per-BPE-token. Narrow, scan-local, regexp_count stays in
    whole-stage codegen (no UDF)."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    n_ws = F.size(F.split(F.col("text"), " "))
    n_bpe = F.regexp_count(F.col("text"), F.lit(_BPE_RE))
    return (
        docs.select(
            "doc_id",
            n_ws.alias("n_ws_tokens"),
            n_bpe.alias("n_bpe_tokens"),
            F.when(
                n_bpe > 0,
                F.round(F.length("text").cast("double") / n_bpe, 6),
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


_BPE_RE_SQL = _BPE_RE.replace("'", "''")

SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
  len(str_split(text, ' ')) AS n_ws_tokens,
  len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS n_bpe_tokens,
  CASE WHEN len(regexp_extract_all(text, '{_BPE_RE_SQL}')) > 0
       THEN ROUND(CAST(length(text) AS DOUBLE)
                  / len(regexp_extract_all(text, '{_BPE_RE_SQL}')), 6)
  END AS chars_per_token
FROM documents
ORDER BY doc_id
"""


def q_pricing_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment aggregation per return flag: variance, skewness
    and excess kurtosis derived from DECIMAL-exact power sums (Σx..Σx⁴
    of l_quantity). Built-in skewness/kurtosis differ between engines
    (sample vs population corrections), so the moments are computed
    from the same order-independent sums with one shared formula —
    map-side partial aggregation still applies (sums are algebraic)."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    x = F.col("l_quantity")

    def psum(expr):
        return F.sum(expr.cast("decimal(28,6)")).cast("double")

    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        psum(x).alias("s1"),
        psum(x * x).alias("s2"),
        psum(x * x * x).alias("s3"),
        psum(x * x * x * x).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ["n", "s1", "s2", "s3", "s4"])
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - F.lit(3.0) * m * (s2 / n) + F.lit(2.0) * m * m * m
    m4 = (
        s4 / n
        - F.lit(4.0) * m * (s3 / n)
        + F.lit(6.0) * m * m * (s2 / n)
        - F.lit(3.0) * m * m * m * m
    )
    return agg.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(m, 6).alias("mean"),
        F.round(m2, 6).alias("variance"),
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


_PSUM = "CAST(SUM(CAST({x} AS DECIMAL(28,6))) AS DOUBLE)"

SQL_PRICING_MOMENTS = f"""
WITH a AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS DOUBLE) AS n,
    {_PSUM.format(x="l_quantity")} AS s1,
    {_PSUM.format(x="l_quantity * l_quantity")} AS s2,
    {_PSUM.format(x="l_quantity * l_quantity * l_quantity")} AS s3,
    {_PSUM.format(x="l_quantity * l_quantity * l_quantity * l_quantity")} AS s4
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
  CAST(n AS BIGINT) AS n,
  ROUND(s1 / n, 6) AS mean,
  ROUND(s2 / n - (s1 / n) * (s1 / n), 6) AS variance,
  ROUND((s3 / n - 3.0 * (s1 / n) * (s2 / n)
         + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
        / POWER(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
  ROUND((s4 / n - 4.0 * (s1 / n) * (s3 / n)
         + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
         - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)))
        - 3.0, 6) AS kurtosis_excess
FROM a
ORDER BY l_returnflag
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON ``props`` payload per
    event and aggregate the extracted field per event type. JSON-path
    extraction is expression-tier in both engines (Spark
    ``get_json_object`` / DuckDB ``json_extract_string``); the parse
    happens at the scan, so only (type, k) pairs reach the shuffle."""
    from magmapandas_spark.streaming.streams import read_events_batch

    events = read_events_batch(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count_distinct(F.col("k")).alias("k_distinct"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_JSON = """
SELECT event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    AS k_sum,
  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
    AS k_distinct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_skew_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-order counts over 8 deliberately hot keys via
    value-hash salting (``operators.skew.salted_count_distinct``):
    COUNT(DISTINCT) is non-algebraic, so without salting every row of a
    hot key converges on one reduce task. Values are exactly the plain
    COUNT(DISTINCT) — the oracle is the unsalted SQL."""
    from magmapandas_spark.operators.skew import salted_count_distinct

    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    hot = li.select(
        (F.col("l_partkey") % 8).alias("hot_key"), "l_orderkey"
    )
    out = salted_count_distinct(hot, ["hot_key"], "l_orderkey", n_salt=16)
    return out.orderBy("hot_key")


SQL_SKEW_DISTINCT = """
SELECT l_partkey % 8 AS hot_key,
       COUNT(DISTINCT l_orderkey) AS n_distinct
FROM lineitem
GROUP BY 1
ORDER BY hot_key
"""


def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted revenue through a salted equi-join on 10 hot keys
    (``operators.skew.salted_join``): the dimension side is replicated
    per salt shard so each hot key spreads over n_salt reduce tasks.
    Join output — and therefore the aggregate — is byte-identical to
    the plain join the oracle runs."""
    from magmapandas_spark.operators.skew import salted_join

    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        (F.col("l_partkey") % 10).alias("hot_key"),
        "l_extendedprice",
        "l_discount",
    )
    dim = (
        spark.read.parquet(_t(sf_dir, "part"))
        .select((F.col("p_partkey") % 10).alias("hot_key"))
        .distinct()
        .withColumn(
            "factor", F.col("hot_key").cast("double") * F.lit(0.01) + F.lit(1.0)
        )
    )
    joined = salted_join(li, dim, on=["hot_key"], n_salt=8)
    return (
        joined.groupBy("hot_key")
        .agg(
            dsum(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * F.col("factor")
            ).alias("weighted_revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("hot_key")
    )


SQL_SALTED_JOIN_REVENUE = f"""
WITH dim AS (
  SELECT DISTINCT p_partkey % 10 AS hot_key FROM part
),
dimf AS (
  SELECT hot_key, CAST(hot_key AS DOUBLE) * 0.01 + 1.0 AS factor FROM dim
)
SELECT l.hot_key,
  {SQL_DSUM.format(x="l.l_extendedprice * (1.0 - l.l_discount) * dimf.factor")}
    AS weighted_revenue,
  COUNT(*) AS n
FROM (SELECT l_partkey % 10 AS hot_key, l_extendedprice, l_discount
      FROM lineitem) l
JOIN dimf ON l.hot_key = dimf.hot_key
GROUP BY l.hot_key
ORDER BY l.hot_key
"""


# TPC-H Q17-shaped: one SQL text for BOTH engines. The correlated
# scalar subquery is what's under test on the Spark side — Catalyst
# decorrelates it into an aggregate-then-join (one shuffle on partkey +
# broadcast of the small part side) instead of a per-row re-scan.
# Threshold arithmetic is exact cross-engine: integer-valued doubles
# sum exactly below 2^53, so AVG and 0.2*AVG are bit-identical.
SQL_BELOW_AVG_REVENUE = """
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
         AS below_thresh_revenue,
       COUNT(*) AS n
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_quantity < (
  SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = p_partkey
)
GROUP BY p_brand
ORDER BY p_brand
"""


def q_below_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 pattern (small-quantity revenue below 20% of the
    per-part average) via a correlated scalar subquery — the identical
    SQL string is the DuckDB oracle, so this gate row checks Catalyst's
    subquery decorrelation end to end."""
    spark.read.parquet(_t(sf_dir, "lineitem")).createOrReplaceTempView(
        "lineitem"
    )
    spark.read.parquet(_t(sf_dir, "part")).createOrReplaceTempView("part")
    return spark.sql(SQL_BELOW_AVG_REVENUE)


def q_order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, priority): all four grouping sets from one Expand +
    hash-aggregate pass — completes the grouping-set trio beside
    ROLLUP (order_rollup) and plain GROUP BY."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("status", "priority")
    )


SQL_ORDER_CUBE = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       {SQL_DSUM.format(x="o_totalprice")} AS total_price
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


_PIVOT_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def q_order_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order revenue by status × priority, priorities as columns
    (explicit value list so the plan needs no distinct-values pre-scan;
    Spark compiles pivot to CASE-filtered aggregates — the oracle spells
    out the same CASE sums)."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    out = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PIVOT_PRIORITIES)
        .agg(dsum(F.col("o_totalprice")))
        .orderBy("o_orderstatus")
    )
    renames = {p: f"rev_{p[0]}" for p in _PIVOT_PRIORITIES}
    return out.select(
        "o_orderstatus",
        *[F.col(f"`{p}`").alias(renames[p]) for p in _PIVOT_PRIORITIES],
    )


SQL_ORDER_PIVOT = f"""
SELECT o_orderstatus,
  {", ".join(
    "CAST(SUM(CASE WHEN o_orderpriority = '%s' THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE) AS rev_%s"
    % (p, p[0])
    for p in _PIVOT_PRIORITIES
  )}
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_customer_ntiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — NTILE quartiles and PERCENT_RANK
    over per-customer order totals, then quartile-level aggregates.
    Covers the remaining window-function class (the suite already
    exercises rank, offset, sliding and cumulative frames)."""
    from pyspark.sql import Window

    orders = spark.read.parquet(_t(sf_dir, "orders"))
    per_cust = orders.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice")).alias("cust_total")
    )
    w = Window.orderBy("cust_total", "o_custkey")
    tiled = per_cust.select(
        "o_custkey",
        "cust_total",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )
    return (
        tiled.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("cust_total")).alias("quartile_total"),
            F.round(F.min("pr"), 6).alias("pr_min"),
            F.round(F.max("pr"), 6).alias("pr_max"),
        )
        .orderBy("quartile")
    )


SQL_CUSTOMER_NTILES = f"""
WITH per_cust AS (
  SELECT o_custkey, {SQL_DSUM.format(x="o_totalprice")} AS cust_total
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT o_custkey, cust_total,
         NTILE(4) OVER w AS quartile,
         ROUND(PERCENT_RANK() OVER w, 6) AS pr
  FROM per_cust
  WINDOW w AS (ORDER BY cust_total, o_custkey)
)
SELECT quartile, COUNT(*) AS n,
       {SQL_DSUM.format(x="cust_total")} AS quartile_total,
       ROUND(MIN(pr), 6) AS pr_min,
       ROUND(MAX(pr), 6) AS pr_max
FROM tiled
GROUP BY quartile
ORDER BY quartile
"""


def q_pricing_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per return flag: Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` share the linear-interpolation
    definition, so values match exactly. Single shuffle on a
    3-value key; at scale the exact percentile's per-group sort is the
    cost — the approx_percentile/t-digest path is the 100 TB variant
    (engine-specific sketch, hence not oracle-checked)."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(l_discount, 0.25)"), 6).alias("disc_p25"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


SQL_PRICING_QUANTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       ROUND(quantile_cont(l_discount, 0.25), 6) AS disc_p25,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP(status, priority): detail,
    subtotal and grand-total rows from ONE Expand + hash-aggregate pass
    (a single shuffle on the expanded grouping keys). Rolled-up keys are
    COALESCEd to a sentinel on both engines so the value hash is
    null-free and sort-stable."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("status", "priority")
    )


SQL_ORDER_ROLLUP = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       {SQL_DSUM.format(x="o_totalprice")} AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


# URL/email patterns in the Java-regex/RE2 common subset (no
# lookaround); Spark regexp_replace is global by default, DuckDB needs
# the explicit 'g' option.
_URL_RE = "https?://[^ ]+"
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping for a training corpus: count + remove URLs
    and e-mail addresses, collapse whitespace runs, report cleaned
    length. Pure regexp expressions — narrow, codegen, no UDF."""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), _URL_RE, " "),
                _EMAIL_RE,
                " ",
            ),
            " +",
            " ",
        )
    )
    return (
        docs.select(
            "doc_id",
            F.regexp_count(F.col("text"), F.lit(_URL_RE)).alias("n_urls"),
            F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).alias("n_emails"),
            F.length(cleaned).alias("clean_len"),
            F.length("text").alias("raw_len"),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_CLEAN = f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{_URL_RE}')) AS n_urls,
  len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
  length(trim(regexp_replace(regexp_replace(regexp_replace(
    text, '{_URL_RE}', ' ', 'g'), '{_EMAIL_RE}', ' ', 'g'),
    ' +', ' ', 'g'))) AS clean_len,
  length(text) AS raw_len
FROM documents
ORDER BY doc_id
"""


def q_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic vs the labeled lang column:
    confusion counts. (The synthetic corpus shares one vocabulary, so
    the signal is marker tokens; the query exercises the classification
    plumbing.)"""
    docs = spark.read.parquet(_t(sf_dir, "documents"))
    tokens = F.split(F.col("text"), " ")
    score = lambda *words: F.size(F.filter(tokens, lambda x: x.isin(*words)))
    en = score("the", "a", "and", "of")
    pred = (
        F.when(en >= 1, F.lit("en")).otherwise(F.lit("other"))
    )
    return (
        docs.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


SQL_LANGID = """
SELECT lang,
  CASE WHEN len(list_filter(str_split(text, ' '), x -> x IN ('the','a','and','of'))) >= 1
       THEN 'en' ELSE 'other' END AS pred_lang,
  COUNT(*) AS n
FROM documents
GROUP BY 1, 2
ORDER BY lang, pred_lang
"""


def q_ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard similarity for adjacent doc pairs —
    exercises shingling + set intersection with an O(n) join on the
    composite (doc_id, shingle) key (no hot-shingle skew)."""
    from magmapandas_spark.operators.dedup import fan_out

    # fan_out: the HOF-heavy shingle build runs in the scan stage —
    # spread it when the scan is a single small file
    docs = fan_out(
        spark.read.parquet(_t(sf_dir, "documents")).filter(
            F.length("text") >= 5
        )
    )
    # per-doc distinct shingle SET as one expression pass (transform
    # over an index sequence + array_distinct): no explode, no shuffle,
    # and the set is built once instead of once per downstream use
    arr = F.array_distinct(
        F.expr("transform(sequence(1, length(text) - 4),"
               " i -> substring(text, i, 5))")
    )
    # route BOTH join sides through one hash exchange: the (interpreted,
    # HOF-heavy) shingle build is materialized into a single shuffle and
    # read twice, instead of being re-evaluated per side and again by
    # the orderBy's range-sampling pass
    sets = docs.select("doc_id", arr.alias("shs"),
                       F.size(arr).alias("n")).repartition("doc_id")
    c1 = sets.alias("c1")
    c2 = sets.alias("c2")
    # materialize the intersection size ONCE (three inline references
    # would re-run array_intersect per reference)
    pairs = (
        c1.join(c2, F.col("c1.doc_id") + 1 == F.col("c2.doc_id"))
        .select(
            F.col("c1.doc_id").alias("id1"),
            (F.col("c1.doc_id") + 1).alias("id2"),
            F.size(
                F.array_intersect(F.col("c1.shs"), F.col("c2.shs"))
            ).alias("common"),
            (F.col("c1.n") + F.col("c2.n")).alias("n_sum"),
        )
    )
    return pairs.select(
        "id1",
        "id2",
        "common",
        (
            F.col("common").cast("double")
            / (F.col("n_sum") - F.col("common"))
        ).alias("jaccard"),
    ).orderBy("id1")


SQL_NGRAM_JACCARD = """
WITH sh AS (
  SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 5) AS sh
  FROM documents, UNNEST(range(1, len(text) - 3)) AS t(i)
  WHERE len(text) >= 5
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id1, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id AND a.sh = b.sh
  GROUP BY a.doc_id
)
SELECT c1.doc_id AS id1, c1.doc_id + 1 AS id2,
  COALESCE(common.common, 0) AS common,
  CAST(COALESCE(common.common, 0) AS DOUBLE)
    / (c1.n + c2.n - COALESCE(common.common, 0)) AS jaccard
FROM cnt c1
JOIN cnt c2 ON c1.doc_id + 1 = c2.doc_id
LEFT JOIN common ON c1.doc_id = common.id1
ORDER BY id1
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 20 vectors.

    The query side is broadcast; the dot product is an explicitly
    ordered left fold so Spark and DuckDB produce bit-identical doubles
    (both engines: 0.0 + Σ left-to-right over float32→double promoted
    products)."""
    from magmapandas_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20)
    out = cosine_topk_bruteforce(
        queries, emb, id_col="vec_id", vec_col="embedding", k=5
    )
    return out.select(
        "qid", "cid", F.round("cos", 6).alias("cos"), "rn"
    ).orderBy("qid", "rn")


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
dots AS (
  SELECT q.vec_id AS qid, e.vec_id AS cid,
    list_reduce(
      list_transform(q.embedding, (x, i) ->
        CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) AS dot,
    sqrt(list_reduce(
      list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      (a, b) -> a + b)) AS nq,
    sqrt(list_reduce(
      list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      (a, b) -> a + b)) AS nc
  FROM q, embeddings e
  WHERE e.vec_id != q.vec_id
),
ranked AS (
  SELECT qid, cid, dot / (nq * nc) AS cos,
    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot / (nq * nc) DESC, cid) AS rn
  FROM dots
)
SELECT qid, cid, ROUND(cos, 6) AS cos, rn
FROM ranked WHERE rn <= 5
ORDER BY qid, rn
"""


def q_shishkina_co2_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shishkina (2014) pure-CO2 saturation pressure — closed-form
    inversion as a pure Column expression (no UDF, whole-stage
    codegen)."""
    from magmapandas_spark.models import volatiles as vol

    gf = synthetic_melt(spark, sf_dir)
    out = gf.df.withColumn(
        "P_sat", vol.shishkina_co2_saturation_expr(gf)
    )
    return out.select("name", F.round("P_sat", 4).alias("P_sat")).orderBy(
        "name"
    )


def _sql_shishkina_co2() -> str:
    # anhydrous cation fractions from the synthetic melt species
    anhyd = [s for s in MELT_SPECIES if s not in ("H2O", "CO2")]
    from magmapandas_spark.chem.elements import (
        cation_amount,
        cation_name,
        calculate_weight,
    )

    cat_terms = {
        s: f"(({s} / {calculate_weight(s)!r}) * {cation_amount(s)!r})"
        for s in anhyd
    }
    total = " + ".join(cat_terms.values())
    cat = {cation_name(s): f"({cat_terms[s]} / ({total}))" for s in anhyd}
    z = "0.0"
    g = lambda n: cat.get(n, z)
    pi_star = (
        f"(({g('Ca')} + 0.8 * {g('K')} + 0.7 * {g('Na')}"
        f" + 0.4 * {g('Mg')} + 0.4 * {g('Fe')}) / ({g('Si')} + {g('Al')}))"
    )
    A, B, C = 1.150, 6.71, -1.345
    p_sat = (
        f"(CASE WHEN CO2 > 0 THEN"
        f" EXP((LN(CO2 * 10000.0) - {B!r} * {pi_star} - ({C!r})) / {A!r}) * 10.0"
        f" ELSE 0.0 END)"
    )
    return f"""
WITH {SQL_MELT_CTE}
SELECT name, ROUND({p_sat}, 4) AS P_sat
FROM melt
ORDER BY name
"""


def q_customer_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins (SURVEY §2.3): per nation, customers
    with ≥1 order vs customers with none. Both joins broadcast the
    distinct-key side at this scale; at 100 TB they become shuffled
    hash semi-joins — either way no data from the probe side is
    duplicated (semi/anti never multiply rows)."""
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    cond = F.col("c_custkey") == F.col("o_custkey")
    with_o = cust.join(orders, cond, "left_semi")
    without_o = cust.join(orders, cond, "left_anti")
    a = with_o.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_with_orders")
    )
    b = without_o.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_without_orders")
    )
    return (
        a.join(b, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias(
                "n_without_orders"
            ),
        )
        .orderBy("c_nationkey")
    )


SQL_CUSTOMER_SEMI_ANTI = """
SELECT c_nationkey,
  COUNT(*) FILTER (WHERE EXISTS
    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    AS n_with_orders,
  COUNT(*) FILTER (WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    AS n_without_orders
FROM customer c
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q_volatile_saturation_im(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iacono-Marziano mixed CO2-H2O saturation over the synthetic melt:
    the reference's per-row multiprocessing showcase (EP3, SURVEY §3)
    as one vectorized UDF stage. Exact DuckDB oracle: the saturation
    residual is closed-form in P, so the 60-step bisection is a
    recursive CTE (``solver_oracles.sql_volatile_saturation_im``)."""
    from magmapandas_spark.models import volatiles as vol

    gf = synthetic_melt(spark, sf_dir)
    out = vol.volatile_saturation_pressure(gf, T_K=1473.15, species="mixed")
    return heavy_sorted(
        out.select(
            "name",
            F.round("P_bar_sat", 4).alias("P_bar_sat"),
            F.round("Xfl", 6).alias("Xfl"),
        ),
        "name",
    )


# ----------------------------------------------------------------------
# registry
# ----------------------------------------------------------------------

def queries():
    from magmapandas_spark.operators.asof import (
        q_asof_purchase_view,
        q_range_join_clicks,
    )
    from magmapandas_spark.operators.dedup import (
        q_dedup_clusters,
        q_dedup_clusters_distributed,
        q_dedup_verified,
        q_minhash_lsh_candidates,
        q_minhash_lsh_xxhash,
        q_simhash_buckets,
    )
    from magmapandas_spark.operators.geochem_aux import (
        q_chondrite_normalize,
        q_reservoir_normalize,
        q_rhodes_grid,
        q_tas_classification,
    )

    return {
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_distributed": q_dedup_clusters_distributed,
        "dedup_verified": q_dedup_verified,
        "chondrite_normalize": q_chondrite_normalize,
        "reservoir_normalize": q_reservoir_normalize,
        "tas_classification": q_tas_classification,
        "rhodes_grid": q_rhodes_grid,
        "asof_purchase_view": q_asof_purchase_view,
        "range_join_clicks": q_range_join_clicks,
        "revenue_by_nation": q_revenue_by_nation,
        "top_parts_by_revenue": q_top_parts_by_revenue,
        "customer_order_window": q_customer_order_window,
        "part_setops": q_part_setops,
        "events_hourly": q_events_hourly,
        "redox_chain": q_redox_chain,
        "density_viscosity": q_density_viscosity,
        "mineral_forsterite": q_mineral_forsterite,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "text_clean": q_text_clean,
        "order_rollup": q_order_rollup,
        "pricing_quantiles": q_pricing_quantiles,
        "below_avg_revenue": q_below_avg_revenue,
        "skew_distinct": q_skew_distinct,
        "events_json": q_events_json,
        "pricing_moments": q_pricing_moments,
        "order_cube": q_order_cube,
        "customer_ntiles": q_customer_ntiles,
        "order_pivot": q_order_pivot,
        "salted_join_revenue": q_salted_join_revenue,
        "langid_heuristic": q_langid_heuristic,
        "ngram_jaccard_adjacent": q_ngram_jaccard_adjacent,
        "embedding_topk": q_embedding_topk,
        "shishkina_co2_saturation": q_shishkina_co2_saturation,
        "customer_semi_anti": q_customer_semi_anti,
        "volatile_saturation_im": q_volatile_saturation_im,
        # md5 hash strategy → exact cross-engine oracles
        "minhash_lsh_candidates": q_minhash_lsh_candidates,
        # xxhash64 production path: perf probe (engine-specific hash →
        # rows-only at the gate; the md5 twin is the correctness vehicle)
        "minhash_lsh_xxhash": q_minhash_lsh_xxhash,
        "simhash_buckets": q_simhash_buckets,
    }


def oracle_sql():
    from magmapandas_spark.operators.asof import (
        SQL_ASOF_PURCHASE_VIEW,
        sql_range_join_clicks,
    )
    from magmapandas_spark.operators.dedup import (
        sql_dedup_clusters,
        sql_dedup_verified,
        sql_minhash_lsh_candidates,
        sql_simhash_buckets,
    )
    from magmapandas_spark.operators.geochem_aux import (
        sql_chondrite_normalize,
        sql_reservoir_normalize,
        sql_rhodes_grid,
        sql_tas_classification,
    )

    return {
        "dedup_clusters": sql_dedup_clusters(),
        "dedup_clusters_distributed": sql_dedup_clusters(),
        "dedup_verified": sql_dedup_verified(),
        "chondrite_normalize": sql_chondrite_normalize(),
        "reservoir_normalize": sql_reservoir_normalize(),
        "tas_classification": sql_tas_classification(),
        "rhodes_grid": sql_rhodes_grid(),
        "asof_purchase_view": SQL_ASOF_PURCHASE_VIEW,
        "range_join_clicks": sql_range_join_clicks(),
        "minhash_lsh_candidates": sql_minhash_lsh_candidates(),
        "simhash_buckets": sql_simhash_buckets(),
        "revenue_by_nation": SQL_REVENUE_BY_NATION,
        "top_parts_by_revenue": SQL_TOP_PARTS,
        "customer_order_window": SQL_CUSTOMER_ORDER_WINDOW,
        "part_setops": SQL_PART_SETOPS,
        "events_hourly": SQL_EVENTS_HOURLY,
        "redox_chain": _sql_redox_chain(),
        "density_viscosity": _sql_density_viscosity(),
        "mineral_forsterite": _sql_mineral_forsterite(),
        "text_quality": SQL_TEXT_QUALITY,
        "token_counts": SQL_TOKEN_COUNTS,
        "text_clean": SQL_TEXT_CLEAN,
        "order_rollup": SQL_ORDER_ROLLUP,
        "pricing_quantiles": SQL_PRICING_QUANTILES,
        "below_avg_revenue": SQL_BELOW_AVG_REVENUE,
        "skew_distinct": SQL_SKEW_DISTINCT,
        "events_json": SQL_EVENTS_JSON,
        "pricing_moments": SQL_PRICING_MOMENTS,
        "order_cube": SQL_ORDER_CUBE,
        "customer_ntiles": SQL_CUSTOMER_NTILES,
        "order_pivot": SQL_ORDER_PIVOT,
        "salted_join_revenue": SQL_SALTED_JOIN_REVENUE,
        "langid_heuristic": SQL_LANGID,
        "ngram_jaccard_adjacent": SQL_NGRAM_JACCARD,
        "embedding_topk": SQL_EMBEDDING_TOPK,
        "shishkina_co2_saturation": _sql_shishkina_co2(),
        "customer_semi_anti": SQL_CUSTOMER_SEMI_ANTI,
        "volatile_saturation_im": _sql_volatile_saturation_im(),
    }


def _sql_volatile_saturation_im():
    from magmapandas_spark.relational import solver_oracles as so
    from magmapandas_spark.relational.suite import SQL_MELT_CTE

    return so.sql_volatile_saturation_im(SQL_MELT_CTE)
