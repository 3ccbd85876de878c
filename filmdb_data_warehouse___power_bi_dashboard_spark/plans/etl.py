"""Warehouse ETL: source star build — the Spark re-architecture of the
reference's federated refresh (sql/datawarehouse/insertion_dataware.sql:
20-192 — date spine, 4 dims with surrogate keys, fact with business→
surrogate key translation and denormalized categorie_key, all idempotent
upserts inside one transaction).

Entity mapping onto the synthetic corpus (see queries/corpus.py):
customer→dim_client, supplier→dim_magasin, p_brand→dim_categorie,
part→dim_film, lineitem revenue→fact_paiement, l_shipdate→payment_date.

Spark-first design decisions (vs the reference):

- **dblink disappears** — both "source" and "warehouse" are parquet
  roots read directly (SURVEY §2.1 S4).
- **Surrogate keys are deterministic**, not sequence-assigned:
  ``global_row_number`` over the unique business key (range-partitioned
  sort, no single-partition window — functions/ranking.py). Re-runs
  reproduce identical keys, which is what makes the merge idempotent
  without coordinating a sequence across executors.
- **The transaction** becomes write-to-staging + swap
  (sources/sinks.py), and the fact is written
  ``partitionBy("pay_month")`` — the analog of the reference's monthly
  range partitions (filmdb.sql:211-219), giving partition pruning on
  month predicates.
- **Summary tables** (the reference's v_agg_mensuel_* views imported
  as BI tables — dw requetes_clees.sql:270-299) are materialized by
  the same job.

At 100 TB: dims build from dim-sized inputs (broadcastable); the fact
build is one pass over lineitem with broadcast dim lookups — no
fact-side shuffle at all until the partitioned write, and that write
shuffles only to cluster files by month (repartition on the partition
column avoids many-small-files).
"""

from __future__ import annotations

import functools
import os
import weakref

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.ranking import global_row_number
from ..functions.scalar import date_key, net_revenue, sql_round_half_up
from ..runtime import overlap
from ..schemas import MONEY
from ..sources.catalog import read_table
from ..sources.sinks import merge_upsert, read_warehouse_table, stage_and_swap_write

# ---------------------------------------------------------------------------
# Dimension builds
# ---------------------------------------------------------------------------


def build_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day spine between min/max fact dates with derived calendar cols.

    Reference: GENERATE_SERIES spine + EXTRACT/DATE_TRUNC derivations +
    yyyymmdd smart key (insertion_dataware.sql:20-37).
    """
    lineitem = read_table(spark, sf_dir, "lineitem")
    bounds = lineitem.agg(
        F.min(F.col("l_shipdate").cast("date")).alias("lo"),
        F.max(F.col("l_shipdate").cast("date")).alias("hi"),
    )
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("date"))
    return spine.select(
        date_key("date").alias("date_key"),
        F.col("date"),
        F.year("date").alias("annee"),
        F.quarter("date").alias("trimestre"),
        F.month("date").alias("mois"),
        F.dayofmonth("date").alias("jour"),
        (F.weekday("date") + 1).alias("jour_semaine"),  # ISO 1=Mon..7=Sun
        F.date_trunc("month", "date").cast("date").alias("debut_mois"),
        F.date_trunc("quarter", "date").cast("date").alias("debut_trimestre"),
        F.date_trunc("year", "date").cast("date").alias("debut_annee"),
    )


def build_dim_client(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region with a deterministic surrogate key.

    Reference: remote 4-way customer→address→city→country join +
    DISTINCT + upsert on source_client_id (insertion_dataware.sql:55-80).
    """
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    base = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select(
            F.col("c_custkey").alias("source_client_id"),
            F.col("c_name").alias("nom_client"),
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("pays"),
            F.col("r_name").alias("region"),
        )
    )
    keyed = global_row_number(base, ["source_client_id"], alias="client_key")
    return keyed.select(
        "client_key", "source_client_id", "nom_client", "segment", "pays", "region"
    )


def build_dim_magasin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier ⋈ nation ⋈ region — the "store" dimension.

    Reference: remote 5-way store join + upsert (insertion_dataware.sql:88-104).
    """
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    base = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select(
            F.col("s_suppkey").alias("source_magasin_id"),
            F.col("s_name").alias("nom_magasin"),
            F.col("n_name").alias("pays"),
            F.col("r_name").alias("region"),
        )
    )
    keyed = global_row_number(base, ["source_magasin_id"], alias="magasin_key")
    return keyed.select("magasin_key", "source_magasin_id", "nom_magasin", "pays", "region")


def build_dim_categorie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct brand names keyed by name order.

    Reference: category pull + upsert on nom_categorie
    (insertion_dataware.sql:42-48).
    """
    part = read_table(spark, sf_dir, "part")
    base = part.select(F.col("p_brand").alias("nom_categorie")).distinct()
    keyed = global_row_number(base, ["nom_categorie"], alias="categorie_key")
    return keyed.select("categorie_key", "nom_categorie")


def build_dim_film(spark: SparkSession, sf_dir: str, dim_categorie: DataFrame | None = None) -> DataFrame:
    """part with its category surrogate looked up by NAME.

    Reference: film pull + principal-category CTE + LEFT JOIN to
    dim_categorie by name + upsert (insertion_dataware.sql:107-143).
    """
    part = read_table(spark, sf_dir, "part")
    cats = dim_categorie if dim_categorie is not None else build_dim_categorie(spark, sf_dir)
    base = part.select(
        F.col("p_partkey").alias("source_film_id"),
        F.col("p_name").alias("titre_film"),
        F.col("p_type").alias("type_film"),
        F.col("p_size").alias("taille"),
        F.col("p_retailprice").cast(MONEY).alias("prix_catalogue"),
        F.col("p_brand").alias("nom_categorie"),
    )
    keyed = global_row_number(base, ["source_film_id"], alias="film_key")
    return keyed.join(F.broadcast(cats), "nom_categorie", "left").select(
        "film_key",
        "source_film_id",
        "titre_film",
        "type_film",
        "taille",
        "prix_catalogue",
        "categorie_key",
    )


# ---------------------------------------------------------------------------
# Fact build
# ---------------------------------------------------------------------------

# Total order over lineitem for the deterministic payment surrogate —
# the full tuple is unique in the corpus ((orderkey, linenumber) alone
# is NOT), so the rank is reproducible across refreshes.
_FACT_ORDER = [
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_suppkey",
    "l_shipdate",
    "l_quantity",
    "l_extendedprice",
]


def build_fact_paiement(
    spark: SparkSession,
    sf_dir: str,
    dims: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """One row per lineitem: business keys translated to surrogate keys
    via broadcast dim lookups, categorie_key denormalized from dim_film.

    Reference: remote 6-way payment chain + dim_date inner join (FK
    guard) + 3 LEFT dim lookups + denormalized df.categorie_key +
    upsert on source_paiement_id (insertion_dataware.sql:151-192).

    The payment id is a DETERMINISTIC surrogate — a global row number
    over the full line total order (the synthetic corpus has no
    unique natural key: (l_orderkey, l_linenumber) collides). This
    mirrors the reference's bigserial paiement_key + unique
    source_paiement_id (creationdatwareh.sql:98-99) while keeping
    re-runs reproducible for the idempotent merge (§3.1). Cost: one
    range-partitioned shuffle of the fact per refresh — the price of
    surrogate assignment at any scale.
    """
    dims = dims or {}
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    # Round-16 optimization (guide §2.6 — overlap independent jobs):
    # the three dim builds and the lineitem surrogate ranking are
    # independent, and each pays 2-3 small sequential driver jobs
    # (boundary sample + bucket counts inside global_row_number).
    # Built serially they serialized ~12 tiny jobs (~4.3 s of the
    # entry's 4.34 s committed time was DataFrame CONSTRUCTION, exec
    # was 0.08 s); overlapped, Spark backfills them.
    builders = {
        "dim_client": lambda: build_dim_client(spark, sf_dir),
        "dim_magasin": lambda: build_dim_magasin(spark, sf_dir),
        "dim_film": lambda: build_dim_film(spark, sf_dir),
    }
    missing = [name for name in builders if dims.get(name) is None]
    *built, keyed = overlap(
        *(builders[name] for name in missing),
        lambda: global_row_number(lineitem, _FACT_ORDER, alias="source_paiement_id"),
    )
    dims = {**dims, **dict(zip(missing, built))}
    dim_client = dims["dim_client"]
    dim_magasin = dims["dim_magasin"]
    dim_film = dims["dim_film"]
    base = keyed.join(
        orders.select("o_orderkey", "o_custkey"),
        keyed.l_orderkey == orders.o_orderkey,
    ).select(
        "source_paiement_id",
        date_key("l_shipdate").alias("date_key"),
        F.col("o_custkey"),
        F.col("l_suppkey"),
        F.col("l_partkey"),
        net_revenue().alias("montant"),
        F.col("l_quantity").alias("quantite"),
        F.date_format("l_shipdate", "yyyy-MM").alias("pay_month"),
    )
    return (
        base.join(
            F.broadcast(dim_client.select("client_key", "source_client_id")),
            base.o_custkey == F.col("source_client_id"),
            "left",
        )
        .join(
            F.broadcast(dim_magasin.select("magasin_key", "source_magasin_id")),
            base.l_suppkey == F.col("source_magasin_id"),
            "left",
        )
        .join(
            F.broadcast(dim_film.select("film_key", "source_film_id", "categorie_key")),
            base.l_partkey == F.col("source_film_id"),
            "left",
        )
        .select(
            F.col("source_paiement_id").alias("paiement_key"),
            "source_paiement_id",
            "date_key",
            "client_key",
            "magasin_key",
            "film_key",
            "categorie_key",
            "montant",
            "quantite",
            "pay_month",
        )
    )


# WeakKeyDictionary keyed by the SESSION (the views.py _REGISTERED
# pattern): strong id(spark) keys would pin dead sessions and their
# persisted blocks forever in a sessions-per-task process, and an
# evicted entry could collide with a recycled id(). Value: one
# {sf_dir: frames} dict per live session.
_STAR_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def build_star_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All six star tables as lazy DataFrames (no writes).

    Memoized per (session, sf_dir): the dim builds persist their
    range-partitioned inputs (functions/ranking.py), so rebuilding the
    star for every metrics/view query both re-paid that materialization
    and leaked cached RDDs.
    """
    # Keyed on the SESSION OBJECT, not applicationId: a sibling
    # spark.newSession() shares the app id, but DataFrames are bound
    # to the session that created them — handing session A's frames
    # to session B would register temp views into A's catalog.
    # NOTE (round-17, verdict item): the per-session dict is unbounded
    # across sf_dirs — each distinct corpus pins one star's worth of
    # dim+fact blocks for the session's lifetime. Irrelevant at the
    # repo's 2-3 SFs; a long-lived multi-corpus service should evict
    # (unpersist) entries it stops serving.
    per_session = _STAR_CACHE.setdefault(spark, {})
    cached = per_session.get(sf_dir)
    if cached is not None:
        return cached
    # Round-16 optimization (guide §2.6): the dim builds are mutually
    # independent (film depends only on categorie); overlap them so
    # their tiny driver jobs (boundary sample + bucket counts) fill
    # each other's gaps instead of serializing.
    def _cat_and_film():
        cat = build_dim_categorie(spark, sf_dir)
        return cat, build_dim_film(spark, sf_dir, cat)

    dim_date, dim_client, dim_magasin, (dim_categorie, dim_film) = overlap(
        lambda: build_dim_date(spark, sf_dir),
        lambda: build_dim_client(spark, sf_dir),
        lambda: build_dim_magasin(spark, sf_dir),
        _cat_and_film,
    )
    dims = {
        "dim_date": dim_date,
        "dim_client": dim_client,
        "dim_magasin": dim_magasin,
        "dim_categorie": dim_categorie,
        "dim_film": dim_film,
    }
    # Persist the DIMS as well as the fact (round-16 optimization,
    # guide §5 caching rule: reused AND expensive to recompute): each
    # dim's plan carries a range-bucketed global_row_number window, and
    # with only the fact persisted every view/metrics query re-executed
    # all five dim subplans — view_kpi_magasin_mois' physical plan held
    # 100 Exchange nodes before this change, 4 after (plans/r16/).
    # Dims are dim-sized (broadcastable by design) at any SF, so the
    # pinned footprint is negligible next to the fact's.
    for name in dims:
        dims[name] = dims[name].persist(StorageLevel.MEMORY_AND_DISK)
    # Persist the assembled fact (SURVEY §4 X10 — the VertiPaq
    # in-memory-model analog): every metrics/view evaluation starts
    # from this frame, and without the persist each one re-executes
    # the orders join + three dim lookups. Columnar-int star rows are
    # small; MEMORY_AND_DISK spills rather than OOMs on big SFs.
    dims["fact_paiement"] = build_fact_paiement(spark, sf_dir, dims).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    per_session[sf_dir] = dims
    return dims


# ---------------------------------------------------------------------------
# Summary tables (X6) — the reference's v_agg_mensuel_* / v_dim_mois
# (dw requetes_clees.sql:270-313) materialized as parquet by the ETL.
# ---------------------------------------------------------------------------


def build_agg_mensuel_magasin(
    star: dict[str, DataFrame], months: list[str] | None = None
) -> DataFrame:
    """Monthly store summary; ``months`` (pay_month 'yyyy-MM' values)
    restricts the build to those fact partitions — the incremental-
    maintenance entry point: a month's summary rows depend ONLY on
    that month's fact partition (mois is a group key), so refreshing
    late-arriving months never touches the rest of history."""
    fact, dim_date, dim_magasin = (
        star["fact_paiement"],
        star["dim_date"],
        star["dim_magasin"],
    )
    if months is not None:
        # pay_month is the fact table's physical partition column —
        # this filter is partition pruning, not a scan+discard.
        fact = fact.filter(F.col("pay_month").isin(list(months)))
    return (
        fact.join(F.broadcast(dim_date.select("date_key", "debut_mois")), "date_key")
        .join(F.broadcast(dim_magasin.select("magasin_key", "source_magasin_id", "nom_magasin")), "magasin_key", "left")
        .groupBy(
            F.col("debut_mois").alias("mois"),
            F.coalesce("source_magasin_id", F.lit(-1)).alias("source_magasin_id"),
            F.coalesce("nom_magasin", F.lit("Inconnu")).alias("nom_magasin"),
        )
        .agg(
            F.sum("montant").cast(MONEY).alias("ca"),
            F.count("*").alias("nb_paiements"),
            F.countDistinct("client_key").alias("nb_clients"),
        )
    )


def build_agg_mensuel_categorie(star: dict[str, DataFrame]) -> DataFrame:
    fact, dim_date, dim_categorie = (
        star["fact_paiement"],
        star["dim_date"],
        star["dim_categorie"],
    )
    return (
        fact.join(F.broadcast(dim_date.select("date_key", "debut_mois")), "date_key")
        .join(F.broadcast(dim_categorie), "categorie_key", "left")
        .groupBy(
            F.col("debut_mois").alias("mois"),
            F.coalesce("nom_categorie", F.lit("Inconnu")).alias("nom_categorie"),
        )
        .agg(
            F.sum("montant").cast(MONEY).alias("ca"),
            F.count("*").alias("nb_paiements"),
        )
    )


# English month abbreviations as LITERALS: date_format(…,'MMM yyyy')
# renders through the JVM default locale, so the same code produces
# 'janv. 1995' on a French JVM and silently breaks the oracle hash
# (SURVEY §2.8 F3 flagged this). An element_at over a literal array is
# locale-independent, codegen'd, and matches the reference's fixed
# TO_CHAR(mois,'Mon YYYY') output exactly.
_MONTH_ABBREV = (
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
)


def month_label(col) -> Column:
    """Locale-pinned 'Mon YYYY' label (reference TO_CHAR semantics,
    dw requetes_clees.sql:311). Built lazily — Columns need an active
    session, and this module imports before one exists in subprocesses."""
    c = F.col(col) if isinstance(col, str) else col
    abbrev = F.array(*[F.lit(m) for m in _MONTH_ABBREV])
    return F.concat_ws(
        " ", F.element_at(abbrev, F.month(c)), F.year(c).cast("string")
    )


def build_dim_mois(star: dict[str, DataFrame]) -> DataFrame:
    """Month dimension with an English 'MMM yyyy' label — the
    reference's v_dim_mois TO_CHAR(mois,'Mon YYYY') (dw
    requetes_clees.sql:304-313; SURVEY §2.8 F3). Label built from a
    literal month map, never the JVM locale."""
    return (
        star["dim_date"]
        .select("debut_mois")
        .distinct()
        .select(
            F.col("debut_mois").alias("mois"),
            month_label("debut_mois").alias("libelle_mois"),
            F.year("debut_mois").alias("annee"),
            F.month("debut_mois").alias("mois_num"),
        )
    )


# ---------------------------------------------------------------------------
# Write path: idempotent refresh (merge + stage-and-swap + partitioning)
# ---------------------------------------------------------------------------

_MERGE_KEYS = {
    "dim_date": "date_key",
    "dim_client": "source_client_id",
    "dim_magasin": "source_magasin_id",
    "dim_categorie": "nom_categorie",
    "dim_film": "source_film_id",
    "fact_paiement": "source_paiement_id",
}


_SUMMARIES = {
    "v_agg_mensuel_magasin": build_agg_mensuel_magasin,
    "v_agg_mensuel_categorie": build_agg_mensuel_categorie,
    "v_dim_mois": build_dim_mois,
}


def _refresh_table(spark: SparkSession, star: dict[str, DataFrame], dw_root: str, name: str) -> int:
    """One table's whole share of the refresh; returns the rows written.

    A star table is merged into the table already at ``dw_root`` (read
    here, so the read and the merge plan overlap with the other
    tables'); a summary is rebuilt from the star. The row count is
    observed on the write itself instead of read back after it.
    """
    path = os.path.join(dw_root, name)
    partition_by = None
    if name in _SUMMARIES:
        df = _SUMMARIES[name](star)
    else:
        existing = read_warehouse_table(spark, dw_root, name) if os.path.exists(path) else None
        df = merge_upsert(existing, star[name], _MERGE_KEYS[name], do_update=name != "dim_date")
        if name == "fact_paiement":
            # Cluster files by month so each partition dir gets one
            # tight file set; pruning on pay_month is then free.
            df = df.repartition("pay_month")
            partition_by = ["pay_month"]
    obs = Observation()
    stage_and_swap_write(
        df.observe(obs, F.count(F.lit(1)).alias("rows")), path, partition_by=partition_by
    )
    return obs.get["rows"]


def build_warehouse(spark: SparkSession, sf_dir: str, dw_root: str) -> dict[str, int]:
    """Full refresh: build the star + summary tables and merge them
    into ``dw_root``. Running twice yields identical tables (the
    reference's ON CONFLICT idempotency, SURVEY §5.3).

    The six star tables and three summaries are nine independent
    units of work, run side by side (``runtime.overlap``). Each unit
    reads its existing table, plans the merge, writes and swaps, so
    one table's driver jobs fill the gaps of the others'. Each table
    is still swapped atomically (``stage_and_swap_write``); the
    refresh as a whole is not atomic, as before: if a unit fails, the
    tables whose units finished keep their new rows, the failed table
    keeps its previous rows, and the first error is raised once every
    unit has ended.

    Returns row counts per written table, observed on each write
    (``Observation``) rather than read back from the written files.
    """
    os.makedirs(dw_root, exist_ok=True)
    star = build_star_frames(spark, sf_dir)
    names = [*star, *_SUMMARIES]
    counts = overlap(*(functools.partial(_refresh_table, spark, star, dw_root, n) for n in names))
    return dict(zip(names, counts))


# ---------------------------------------------------------------------------
# Registered queries + oracles: the ETL expressed end-to-end so the
# driver's DuckDB gate verifies the build semantics (surrogate keys,
# name lookups, denormalization, smart date keys).
# ---------------------------------------------------------------------------

_SQL_REV = (
    "CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DECIMAL(18,2))"
)

_SQL_CAT = (
    "SELECT nom_categorie,"
    " ROW_NUMBER() OVER (ORDER BY nom_categorie) AS categorie_key"
    " FROM (SELECT DISTINCT p_brand AS nom_categorie FROM part)"
)


def q_etl_dim_client(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_dim_client(spark, sf_dir)


ORACLE_DIM_CLIENT = """
SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS client_key,
       c_custkey AS source_client_id,
       c_name AS nom_client,
       c_mktsegment AS segment,
       n_name AS pays,
       r_name AS region
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""


def q_etl_dim_film(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_dim_film(spark, sf_dir)


ORACLE_DIM_FILM = f"""
WITH cat AS ({_SQL_CAT})
SELECT ROW_NUMBER() OVER (ORDER BY p_partkey) AS film_key,
       p_partkey AS source_film_id,
       p_name AS titre_film,
       p_type AS type_film,
       p_size AS taille,
       CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS prix_catalogue,
       c.categorie_key
FROM part LEFT JOIN cat c ON p_brand = c.nom_categorie
"""


def q_etl_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_dim_date(spark, sf_dir)


ORACLE_DIM_DATE = """
WITH bounds AS (
  SELECT CAST(MIN(l_shipdate) AS DATE) AS lo, CAST(MAX(l_shipdate) AS DATE) AS hi
  FROM lineitem
),
spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS "date"
  FROM bounds
)
SELECT CAST(EXTRACT(YEAR FROM "date") * 10000
          + EXTRACT(MONTH FROM "date") * 100
          + EXTRACT(DAY FROM "date") AS INT) AS date_key,
       "date",
       CAST(EXTRACT(YEAR FROM "date") AS INT) AS annee,
       CAST(EXTRACT(QUARTER FROM "date") AS INT) AS trimestre,
       CAST(EXTRACT(MONTH FROM "date") AS INT) AS mois,
       CAST(EXTRACT(DAY FROM "date") AS INT) AS jour,
       CAST(isodow("date") AS INT) AS jour_semaine,
       CAST(date_trunc('month', "date") AS DATE) AS debut_mois,
       CAST(date_trunc('quarter', "date") AS DATE) AS debut_trimestre,
       CAST(date_trunc('year', "date") AS DATE) AS debut_annee
FROM spine
"""


def q_etl_fact_paiement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_fact_paiement(spark, sf_dir)


ORACLE_FACT = f"""
WITH cli AS (
  SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS client_key,
         c_custkey AS source_client_id
  FROM customer
),
mag AS (
  SELECT ROW_NUMBER() OVER (ORDER BY s_suppkey) AS magasin_key,
         s_suppkey AS source_magasin_id
  FROM supplier
),
cat AS ({_SQL_CAT}),
flm AS (
  SELECT ROW_NUMBER() OVER (ORDER BY p_partkey) AS film_key,
         p_partkey AS source_film_id,
         c.categorie_key
  FROM part LEFT JOIN cat c ON p_brand = c.nom_categorie
),
keyed AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey,
                                     l_suppkey, l_shipdate, l_quantity,
                                     l_extendedprice) AS source_paiement_id
  FROM lineitem
)
SELECT source_paiement_id AS paiement_key,
       source_paiement_id,
       CAST(EXTRACT(YEAR FROM l_shipdate) * 10000
          + EXTRACT(MONTH FROM l_shipdate) * 100
          + EXTRACT(DAY FROM l_shipdate) AS INT) AS date_key,
       cli.client_key,
       mag.magasin_key,
       flm.film_key,
       flm.categorie_key,
       CAST({_SQL_REV} AS DOUBLE) AS montant,
       l_quantity AS quantite,
       strftime(l_shipdate, '%Y-%m') AS pay_month
FROM keyed
JOIN orders ON l_orderkey = o_orderkey
LEFT JOIN cli ON o_custkey = cli.source_client_id
LEFT JOIN mag ON l_suppkey = mag.source_magasin_id
LEFT JOIN flm ON l_partkey = flm.source_film_id
"""


def q_etl_agg_mensuel_magasin(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = build_star_frames(spark, sf_dir)
    return build_agg_mensuel_magasin(star)


ORACLE_AGG_MAGASIN = f"""
WITH fact AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mois,
         l_suppkey,
         o_custkey,
         {_SQL_REV} AS montant
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT f.mois,
       COALESCE(s.s_suppkey, -1) AS source_magasin_id,
       COALESCE(s.s_name, 'Inconnu') AS nom_magasin,
       CAST(CAST(SUM(f.montant) AS DECIMAL(18,2)) AS DOUBLE) AS ca,
       COUNT(*) AS nb_paiements,
       COUNT(DISTINCT f.o_custkey) AS nb_clients
FROM fact f LEFT JOIN supplier s ON f.l_suppkey = s.s_suppkey
GROUP BY 1, 2, 3
"""


def write_summary_partitioned(
    spark: SparkSession, sf_dir: str, dw_root: str, months: list[str] | None = None
) -> str:
    """Materialize the monthly store summary partitioned by mois
    (static overwrite — the initial build)."""
    star = build_star_frames(spark, sf_dir)
    df = build_agg_mensuel_magasin(star, months)
    path = os.path.join(dw_root, "v_agg_mensuel_magasin_m")
    (
        df.repartition("mois")
        .write.mode("overwrite")
        .partitionBy("mois")
        .parquet(path)
    )
    return path


def refresh_summary_incremental(
    spark: SparkSession, sf_dir: str, dw_root: str, changed_months: list[str]
) -> str:
    """Incremental summary maintenance: recompute ONLY the summary
    partitions whose months appear in a late/new fact batch, and
    replace exactly those partitions via dynamic partition overwrite.

    The 100 TB shape: the recompute scans just the changed months'
    fact partitions (pruned — see build_agg_mensuel_magasin), the
    write touches just the matching summary partition dirs, and
    unchanged history is never read or rewritten. This is the
    Spark-native analog of the reference's transactional re-upsert
    refresh (insertion_dataware.sql:186-192): idempotent — re-running
    with the same batch rewrites the same partitions to the same
    bytes (tests/test_incremental.py asserts equivalence with a full
    rebuild and idempotency).
    """
    star = build_star_frames(spark, sf_dir)
    delta = build_agg_mensuel_magasin(star, months=changed_months)
    path = os.path.join(dw_root, "v_agg_mensuel_magasin_m")
    (
        delta.repartition("mois")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("mois")
        .parquet(path)
    )
    return path


def q_etl_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-checkable spelling of incremental maintenance: history
    summary (all months but the latest) UNION the recomputed latest
    month must equal the full rebuild — the oracle is the SAME SQL as
    etl_agg_mensuel_magasin, so the equality IS the check. The
    file-level dynamic-partition-overwrite path is exercised in
    tests/test_incremental.py (gate queries return frames, not
    writes)."""
    star = build_star_frames(spark, sf_dir)
    months = [
        r["pay_month"]
        for r in star["fact_paiement"].select("pay_month").distinct().collect()
    ]
    months.sort()
    cutoff = months[-1]
    base = build_agg_mensuel_magasin(star, months=months[:-1])
    delta = build_agg_mensuel_magasin(star, months=[cutoff])
    return base.unionByName(delta)


def q_etl_dim_mois(spark: SparkSession, sf_dir: str) -> DataFrame:
    star = {"dim_date": build_dim_date(spark, sf_dir)}
    return build_dim_mois(star)


ORACLE_DIM_MOIS = """
WITH bounds AS (
  SELECT CAST(date_trunc('month', MIN(l_shipdate)) AS DATE) AS lo,
         CAST(date_trunc('month', MAX(l_shipdate)) AS DATE) AS hi
  FROM lineitem
),
months AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS mois
  FROM bounds
)
SELECT mois,
       strftime(mois, '%b %Y') AS libelle_mois,
       CAST(EXTRACT(YEAR FROM mois) AS INT) AS annee,
       CAST(EXTRACT(MONTH FROM mois) AS INT) AS mois_num
FROM months
"""


QUERIES = {
    "etl_dim_client": q_etl_dim_client,
    "etl_dim_film": q_etl_dim_film,
    "etl_dim_date": q_etl_dim_date,
    "etl_fact_paiement": q_etl_fact_paiement,
    "etl_agg_mensuel_magasin": q_etl_agg_mensuel_magasin,
    "etl_dim_mois": q_etl_dim_mois,
    "etl_incremental_agg_refresh": q_etl_incremental_agg_refresh,
}

ORACLES = {
    "etl_dim_client": ORACLE_DIM_CLIENT,
    "etl_dim_film": ORACLE_DIM_FILM,
    "etl_dim_date": ORACLE_DIM_DATE,
    "etl_fact_paiement": ORACLE_FACT,
    "etl_agg_mensuel_magasin": ORACLE_AGG_MAGASIN,
    "etl_dim_mois": ORACLE_DIM_MOIS,
    "etl_incremental_agg_refresh": ORACLE_AGG_MAGASIN,
}
