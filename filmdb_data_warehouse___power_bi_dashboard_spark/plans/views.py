"""View layer: the reference's 25 source views + 3 warehouse summary
views (sql/vues.sql:2-315; sql/datawarehouse/requetes_clees.sql:
270-313) re-expressed as Spark SQL temporary views over the source
tables and the built star.

This is the engine's *SQL-text* surface (SURVEY §3.2 requires both
API forms): after :func:`register_all_views`, ``spark.sql("SELECT …
FROM v_…")`` works verbatim. The SQL below is Spark dialect — the
PG→Spark shims the reference needs (``::`` casts → CAST, STRING_AGG →
array_join(sort_array(collect_set)), GENERATE_SERIES → explode/
sequence, INITCAP kept, NULLS LAST kept) are applied in place.

Views are virtual (no materialization) except the three ``v_agg_*`` /
``v_dim_mois`` summaries, which the ETL also persists (plans/etl.py) —
the registered temp views here read the same definitions so SQL-text
users and the BI import model see identical rows.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

from ..functions.scalar import sql_round_half_up
from ..sources.catalog import _pin_session_semantics, register_views
from .etl import (
    build_agg_mensuel_categorie,
    build_agg_mensuel_magasin,
    build_dim_mois,
    build_star_frames,
)

# Per-line net revenue, rounded to DECIMAL(18,2) BEFORE any SUM — the
# warehouse's montant convention (plans/etl.py net_revenue). Valid in
# both Spark SQL (view definitions) and DuckDB (oracles), so the view
# layer and every oracle tie out to the cent with fact-based numbers.
_SQL_REV = (
    "CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DECIMAL(18,2))"
)


# Spark-SQL view definitions, in dependency order. Reference view per
# entry in the comment (vues.sql / dw requetes_clees.sql line).
_VIEW_SQL: dict[str, str] = {
    # v_calendrier (filmdb.sql:403-418): generated day spine.
    "v_calendrier": """
        SELECT date, annee, trimestre, mois, jour, jour_semaine,
               debut_mois, debut_trimestre, debut_annee
        FROM dim_date
    """,
    # v_clients (vues.sql:95-112): labeled client directory —
    # INITCAP + || concat (F1/F2/P2).
    "v_clients": """
        SELECT client_key,
               source_client_id,
               INITCAP(LOWER(nom_client)) || ' [' || COALESCE(segment, 'Inconnu') || ']'
                 AS libelle_client,
               segment, pays, region
        FROM dim_client
    """,
    # v_produits (vues.sql:22-39): film/part catalog with category.
    "v_produits": """
        SELECT f.film_key, f.source_film_id, f.titre_film, f.type_film,
               f.taille, f.prix_catalogue, c.nom_categorie
        FROM dim_film f LEFT JOIN dim_categorie c ON f.categorie_key = c.categorie_key
    """,
    # v_magasins (vues.sql:77-93).
    "v_magasins": """
        SELECT magasin_key, source_magasin_id, nom_magasin, pays, region
        FROM dim_magasin
    """,
    # v_fait_paiement (vues.sql:131-155): the 8-way denormalized fact.
    "v_fait_paiement": """
        SELECT p.paiement_key, p.source_paiement_id, d.date,
               d.debut_mois AS mois,
               cl.source_client_id AS client_id, cl.nom_client, cl.segment,
               m.nom_magasin, m.pays AS pays_magasin,
               f.source_film_id AS film_id, f.titre_film, cat.nom_categorie,
               p.montant, p.quantite
        FROM fact_paiement p
        LEFT JOIN dim_date d      ON p.date_key = d.date_key
        LEFT JOIN dim_client cl   ON p.client_key = cl.client_key
        LEFT JOIN dim_magasin m   ON p.magasin_key = m.magasin_key
        LEFT JOIN dim_film f      ON p.film_key = f.film_key
        LEFT JOIN dim_categorie cat ON p.categorie_key = cat.categorie_key
    """,
    # v_ca_mensuel (dw requetes_clees.sql:107-117).
    "v_ca_mensuel": """
        SELECT mois, CAST(SUM(montant) AS DECIMAL(18,2)) AS ca, COUNT(*) AS nb
        FROM v_fait_paiement GROUP BY mois
    """,
    # v_ca_par_categorie (vues.sql:157-167).
    "v_ca_par_categorie": """
        SELECT COALESCE(nom_categorie, 'Inconnu') AS nom_categorie,
               CAST(SUM(montant) AS DECIMAL(18,2)) AS ca,
               COUNT(*) AS nb_paiements
        FROM v_fait_paiement GROUP BY 1
    """,
    # v_kpi_magasin_mois (dw requetes_clees.sql:1-14).
    "v_kpi_magasin_mois": """
        SELECT nom_magasin, mois,
               CAST(SUM(montant) AS DECIMAL(18,2)) AS ca,
               COUNT(*) AS nb_paiements,
               COUNT(DISTINCT nom_client) AS nb_clients
        FROM v_fait_paiement GROUP BY nom_magasin, mois
    """,
    # v_retard_location (vues.sql:217-230): the ROW-LEVEL late-days
    # base view the per-store/per-client aggregates are defined over —
    # rental → order line, store → supplier, rental_duration → the
    # corpus's fixed 60-day term, return_date → shipdate. Elapsed-day
    # semantics + GREATEST clamp, matching the aggregates exactly so
    # the late-days surface is compositional like the reference's.
    "v_retard_location": """
        SELECT l.l_orderkey AS location_id,
               l.l_linenumber AS ligne,
               o.o_custkey AS client_id,
               l.l_suppkey AS magasin_id,
               CAST(o.o_orderdate AS DATE) AS date_location,
               CAST(l.l_shipdate AS DATE) AS date_retour,
               60 AS duree_location_jours,
               GREATEST(CAST(floor((CAST(l.l_shipdate AS LONG) - CAST(o.o_orderdate AS LONG)) / 86400) AS INT) - 60, 0) AS retard_jours
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate IS NOT NULL
    """,
    # v_retard_par_magasin (vues.sql:232-247): late-days stats per
    # store, derived from the row-level base view like the reference.
    "v_retard_par_magasin": """
        SELECT s.s_name AS nom_magasin,
               COUNT(*) AS nb_lignes,
               MAX(r.retard_jours) AS retard_max,
               percentile(r.retard_jours, 0.5) AS retard_median
        FROM v_retard_location r
        JOIN supplier s ON r.magasin_id = s.s_suppkey
        GROUP BY s.s_name
    """,
    # v_films_jamais_loues (vues.sql:308-315): anti-join spelled as
    # outer join + HAVING COUNT = 0, the reference's exact shape.
    "v_films_jamais_loues": """
        SELECT p.p_partkey, p.p_name, p.p_brand
        FROM part p LEFT JOIN lineitem l ON p.p_partkey = l.l_partkey
        GROUP BY p.p_partkey, p.p_name, p.p_brand
        HAVING COUNT(l.l_orderkey) = 0
    """,
    # v_rotation_stock (vues.sql:284-306): ranking with NULLS LAST
    # (O2) over a nullable aggregate.
    "v_rotation_stock": """
        SELECT p.p_partkey, p.p_name,
               COUNT(l.l_orderkey) AS nb_ventes,
               MAX(CAST(l.l_shipdate AS DATE)) AS derniere_vente
        FROM part p LEFT JOIN lineitem l ON p.p_partkey = l.l_partkey
        GROUP BY p.p_partkey, p.p_name
    """,
    # v_top_clients (vues.sql:169-179).
    "v_top_clients": """
        SELECT nom_client,
               CAST(SUM(montant) AS DECIMAL(18,2)) AS ca,
               COUNT(*) AS nb_paiements
        FROM v_fait_paiement GROUP BY nom_client
    """,
    # v_actifs_12m (dw requetes_clees.sql:87-93 window shape).
    "v_actifs_12m": """
        SELECT COUNT(DISTINCT nom_client) AS clients_actifs
        FROM v_fait_paiement
        WHERE date >= add_months((SELECT MAX(date) FROM v_fait_paiement), -12)
    """,
    # v_panier_moyen_magasin (dw requetes_clees.sql:9 P8 guard).
    "v_panier_moyen_magasin": """
        SELECT nom_magasin,
               CAST(SUM(montant) AS DECIMAL(18,2)) AS ca,
               COUNT(*) AS nb,
               CAST(SUM(montant) AS DOUBLE) / NULLIF(COUNT(*), 0) AS panier_moyen
        FROM v_fait_paiement GROUP BY nom_magasin
    """,
    # v_repartition_segment (vues.sql:191-200).
    "v_repartition_segment": """
        SELECT COALESCE(segment, 'Inconnu') AS segment,
               COUNT(DISTINCT nom_client) AS nb_clients,
               CAST(SUM(montant) AS DECIMAL(18,2)) AS ca
        FROM v_fait_paiement GROUP BY 1
    """,
    # v_types_par_categorie (vues.sql:7-13): deterministic STRING_AGG.
    "v_types_par_categorie": """
        SELECT p_brand AS nom_categorie,
               array_join(sort_array(collect_set(p_type)), ', ') AS types,
               COUNT(DISTINCT p_type) AS nb_types
        FROM part GROUP BY p_brand
    """,
    # v_heatmap_magasin_categorie (dw requetes_clees.sql:121-134).
    "v_heatmap_magasin_categorie": """
        SELECT nom_magasin, COALESCE(nom_categorie, 'Inconnu') AS nom_categorie,
               CAST(SUM(montant) AS DECIMAL(18,2)) AS ca
        FROM v_fait_paiement GROUP BY 1, 2
    """,
    # v_paiements_recents (source requetes_clees.sql:17-43 bounds join).
    "v_paiements_recents": """
        SELECT f.*
        FROM v_fait_paiement f
        WHERE f.date >= (SELECT date_sub(MAX(date), 30) FROM v_fait_paiement)
    """,
    # v_pareto_categories (pbix Pareto combo visual, W4).
    "v_pareto_categories": """
        SELECT nom_categorie, ca,
               CAST(SUM(ca) OVER (ORDER BY ca DESC, nom_categorie
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS ca_cumul
        FROM v_ca_par_categorie
    """,
    # v_profil_jour_semaine (pbix box-plot, dim_date weekday column).
    "v_profil_jour_semaine": """
        SELECT d.jour_semaine,
               CAST(SUM(p.montant) AS DECIMAL(18,2)) AS ca,
               COUNT(*) AS nb
        FROM fact_paiement p JOIN dim_date d ON p.date_key = d.date_key
        GROUP BY d.jour_semaine
    """,
    # v_revenu_film_mois (vues.sql:181-189): per-film monthly revenue
    # over the denormalized fact, keyed by source film id + title.
    "v_revenu_film_mois": """
        SELECT film_id, titre_film, mois,
               CAST(SUM(montant) AS DECIMAL(18,2)) AS ca,
               COUNT(*) AS nb_paiements
        FROM v_fait_paiement
        GROUP BY film_id, titre_film, mois
    """,
    # v_revenu_film_total (vues.sql:191-199): all-time per-film revenue.
    "v_revenu_film_total": """
        SELECT film_id, titre_film,
               CAST(SUM(montant) AS DECIMAL(18,2)) AS ca_total,
               COUNT(*) AS nb_paiements
        FROM v_fait_paiement
        GROUP BY film_id, titre_film
    """,
    # v_valeur_client (vues.sql:202-215): frequency & value — distinct
    # parent-entity count (rental/location -> order), money total
    # (per-line DECIMAL rounding so it ties out with the fact-based
    # views), first/last purchase dates. Over source tables because
    # the fact intentionally carries no order key (line grain).
    "v_valeur_client": f"""
        SELECT c_custkey AS client_id, c_name AS nom_client,
               COUNT(DISTINCT l_orderkey) AS nb_locations,
               CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS ca_total,
               MIN(CAST(l_shipdate AS DATE)) AS premiere_achat,
               MAX(CAST(l_shipdate AS DATE)) AS dernier_achat
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    """,
    # v_retard_par_client (vues.sql:241-251): avg late days per client
    # with the reference's HAVING >= 5 floor, derived from
    # v_retard_location. nb_locations counts DISTINCT orders (rental
    # grain, matching v_valeur_client's mapping rental→order) and the
    # HAVING floor applies at that same grain.
    "v_retard_par_client": f"""
        SELECT client_id,
               {sql_round_half_up("AVG(CAST(retard_jours AS DOUBLE))", 2)} AS retard_moyen_jours,
               COUNT(DISTINCT location_id) AS nb_locations
        FROM v_retard_location
        GROUP BY 1
        HAVING COUNT(DISTINCT location_id) >= 5
    """,
    # v_inventaire_magasin (vues.sql:253-258): per-store per-film copy
    # counts — inventory item → order line stocked at supplier(store)
    # for part(film).
    "v_inventaire_magasin": """
        SELECT l.l_suppkey AS magasin_id,
               p.p_partkey AS film_id,
               p.p_name AS titre_film,
               COUNT(*) AS exemplaires
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2, 3
    """,
    # v_disponibilite_stock (vues.sql:260-282): open (unreturned)
    # rentals vs total stock per store — the reference's exact
    # two-CTE + LEFT JOIN + COALESCE shape. "return_date IS NULL" →
    # the corpus's open line status l_linestatus = 'O'.
    "v_disponibilite_stock": """
        WITH en_cours AS (
          SELECT l_suppkey AS magasin_id, COUNT(*) AS nb_en_cours
          FROM lineitem
          WHERE l_linestatus = 'O'
          GROUP BY l_suppkey
        ),
        tot AS (
          SELECT l_suppkey AS magasin_id, COUNT(*) AS nb_total
          FROM lineitem
          GROUP BY l_suppkey
        )
        SELECT t.magasin_id,
               t.nb_total,
               COALESCE(e.nb_en_cours, 0) AS nb_en_cours,
               (t.nb_total - COALESCE(e.nb_en_cours, 0)) AS nb_disponibles
        FROM tot t
        LEFT JOIN en_cours e ON e.magasin_id = t.magasin_id
    """,
    # v_infos_acteurs (vues.sql:2-19): NESTED aggregation — per actor,
    # a list over categories whose elements are themselves aggregated
    # film lists. The reference spells the inner level as a correlated
    # STRING_AGG subquery; the Spark-first shape is two stacked
    # groupBys with deterministic sort_array(collect_set(...)) at each
    # level — no correlated subquery, both levels partial-aggregate
    # map-side. actor → supplier, film → part, category → brand
    # (the same bridge mapping as v_liste_films_noms_formates).
    # Round-16 rewrite (guide §2.3): both aggregation levels run on
    # narrow integer keys from the lineitem×part side only; the
    # supplier attributes attach LAST via a left join from supplier,
    # which also restores the original outer semantics — a supplier
    # with no rentals (or whose groups all carry a NULL brand) reads
    # NULL films_par_categorie, exactly what the old
    # supplier-LEFT-lineitem spelling produced (NULL-brand groups
    # vanish inside collect_set at level 2 in both spellings).
    "v_infos_acteurs": """
        WITH par_categorie AS (
          SELECT l.l_suppkey AS s_suppkey, p.p_brand,
                 array_join(sort_array(collect_set(p.p_name)), ', ') AS films
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY 1, 2
        ),
        agg AS (
          SELECT s_suppkey,
                 NULLIF(array_join(sort_array(collect_set(p_brand || ': ' || films)), ' | '), '')
                   AS films_par_categorie
          FROM par_categorie
          GROUP BY s_suppkey
        )
        SELECT s.s_suppkey AS acteur_id,
               s.s_name AS nom,
               a.films_par_categorie
        FROM supplier s
        LEFT JOIN agg a ON s.s_suppkey = a.s_suppkey
    """,
    # v_liste_films_noms_formates (vues.sql:23-59, reference name kept
    # verbatim): film catalog with a formatted, INITCAP'd,
    # deterministic actor list — child-join (part -> lineitem ->
    # supplier, the corpus's film_actor bridge) + ordered DISTINCT
    # STRING_AGG, the one A8 composition not otherwise exercised as a
    # view.
    # Round-16 rewrite (guide §2.3 — shuffle fewer bytes): the actor
    # set aggregates on the narrow l_partkey key alone (p_partkey is
    # part's PK, so the five part attributes are functionally
    # dependent — attaching them AFTER the aggregate to ~20k group
    # rows is equivalent to carrying them as group keys through the
    # 600k-row aggregation), and the INITCAP formatting runs once per
    # SUPPLIER (1k rows) instead of once per lineitem (600k). Same
    # inner-join semantics, same sets, same rows (oracle-checked).
    "v_liste_films_noms_formates": """
        WITH acteurs AS (
          SELECT l.l_partkey,
                 array_join(sort_array(collect_set(s.fmt)), ', ') AS acteurs
          FROM lineitem l
          JOIN (SELECT s_suppkey,
                       upper(substr(lower(s_name), 1, 1)) || substr(lower(s_name), 2) AS fmt
                FROM supplier) s
            ON l.l_suppkey = s.s_suppkey
          GROUP BY l.l_partkey
        )
        SELECT p.p_partkey AS film_id,
               p.p_name AS titre,
               p.p_brand AS categorie,
               p.p_type AS classification,
               CAST(p.p_retailprice AS DECIMAL(18,2)) AS prix_location,
               p.p_size AS duree_minutes,
               a.acteurs
        FROM part p
        JOIN acteurs a ON p.p_partkey = a.l_partkey
    """,
}


# Views that read ONLY raw source tables (no star build needed).
# Registered queries over these use register_source_views so a cold
# foreign session (the driver's gate) never pays — nor depends on —
# the full warehouse build just to answer a source-level view.
_SOURCE_ONLY_VIEWS = (
    "v_retard_location",
    "v_retard_par_magasin",
    "v_films_jamais_loues",
    "v_rotation_stock",
    "v_types_par_categorie",
    "v_valeur_client",
    "v_retard_par_client",
    "v_liste_films_noms_formates",
    "v_inventaire_magasin",
    "v_disponibilite_stock",
    "v_infos_acteurs",
)


def register_source_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register the source tables plus the view definitions that don't
    reference the star — the cheap subset of :func:`register_all_views`.
    Idempotent per (session, sf_dir), and a hit after a full
    registration of the same sf_dir."""
    if sf_dir in (_SOURCES_REGISTERED.get(spark), _REGISTERED.get(spark)):
        # A miss asserts the timezone pin in every read_table; a hit
        # reads nothing, so it asserts the pin here.
        _pin_session_semantics(spark)
        return list(_SOURCE_ONLY_VIEWS)
    _forget_registration(spark)
    register_views(spark, sf_dir)
    for name in _SOURCE_ONLY_VIEWS:
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {_VIEW_SQL[name]}")
    _SOURCES_REGISTERED[spark] = sf_dir
    return list(_SOURCE_ONLY_VIEWS)


# Registration memos per (session, sf_dir): view DEFINITIONS are
# static, so re-reading the ten source tables and re-running the
# CREATE OR REPLACE statements (plus re-planning the 3 summary frames)
# for every view query only costs analysis time — measured ~1-2 s per
# full registration and 0.37-0.50 s per source-only one. Registering a
# DIFFERENT sf_dir on the same session invalidates both memos. Keyed
# WEAKLY on the SparkSession itself, not applicationId: temp views are
# session-scoped, and a sibling ``spark.newSession()`` shares the
# applicationId — an app-id memo would skip registration and leave the
# sibling's catalog empty.
_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_SOURCES_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _forget_registration(spark: SparkSession) -> None:
    """Drop both memos before the shared source temp tables are
    re-pointed, so a registration that fails part-way is never a hit."""
    _REGISTERED.pop(spark, None)
    _SOURCES_REGISTERED.pop(spark, None)


def register_all_views(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> list[str]:
    """Register source tables, the star, the 3 summary views, and
    every SQL view in ``_VIEW_SQL``. Returns the registered names.
    Idempotent per (session, sf_dir); pass ``force=True`` after
    manually replacing any of the temp views."""
    names = [
        "v_agg_mensuel_magasin", "v_agg_mensuel_categorie", "v_dim_mois",
        *_VIEW_SQL,
    ]
    if not force and _REGISTERED.get(spark) == sf_dir:
        _pin_session_semantics(spark)
        return names
    _forget_registration(spark)
    register_views(spark, sf_dir)
    star = build_star_frames(spark, sf_dir)
    for name, df in star.items():
        df.createOrReplaceTempView(name)
    build_agg_mensuel_magasin(star).createOrReplaceTempView("v_agg_mensuel_magasin")
    build_agg_mensuel_categorie(star).createOrReplaceTempView("v_agg_mensuel_categorie")
    build_dim_mois(star).createOrReplaceTempView("v_dim_mois")
    for name, sql in _VIEW_SQL.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {sql}")
    _REGISTERED[spark] = _SOURCES_REGISTERED[spark] = sf_dir
    return names


# ---------------------------------------------------------------------------
# Oracle-checked spot queries over the view layer (SQL-text form).
# ---------------------------------------------------------------------------

def q_view_kpi_magasin_mois(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT nom_magasin, mois, ca, nb_paiements, nb_clients"
        " FROM v_kpi_magasin_mois ORDER BY nom_magasin, mois"
    )


ORACLE_VIEW_KPI = f"""
SELECT s_name AS nom_magasin,
       CAST(date_trunc('month', l_shipdate) AS DATE) AS mois,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca,
       COUNT(*) AS nb_paiements,
       COUNT(DISTINCT c_name) AS nb_clients
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_view_clients_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INITCAP + || concat + COUNT(col) non-null + NULLS LAST ordering
    (F1/F2/A14/O2) in one SQL-text query over the view layer."""
    register_all_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT pays,
               COUNT(*) AS nb_clients,
               COUNT(segment) AS nb_avec_segment,
               MIN(libelle_client) AS premier_libelle,
               MAX(CASE WHEN segment = 'BUILDING' THEN libelle_client END) AS exemple_building
        FROM v_clients
        GROUP BY pays
        ORDER BY exemple_building DESC NULLS LAST, pays
        """
    )


ORACLE_VIEW_CLIENTS = """
WITH labeled AS (
  SELECT n_name AS pays, c_mktsegment AS segment,
         upper(substr(lower(c_name), 1, 1)) || substr(lower(c_name), 2)
           || ' [' || COALESCE(c_mktsegment, 'Inconnu') || ']' AS libelle_client
  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
)
SELECT pays,
       COUNT(*) AS nb_clients,
       COUNT(segment) AS nb_avec_segment,
       MIN(libelle_client) AS premier_libelle,
       MAX(CASE WHEN segment = 'BUILDING' THEN libelle_client END) AS exemple_building
FROM labeled
GROUP BY pays
ORDER BY exemple_building DESC NULLS LAST, pays
"""


def q_view_films_jamais_loues(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_source_views(spark, sf_dir)
    return spark.sql(
        "SELECT p_partkey, p_name, p_brand FROM v_films_jamais_loues ORDER BY p_partkey"
    )


ORACLE_VIEW_JAMAIS = """
SELECT p.p_partkey, p.p_name, p.p_brand
FROM part p LEFT JOIN lineitem l ON p.p_partkey = l.l_partkey
GROUP BY 1, 2, 3
HAVING COUNT(l.l_orderkey) = 0
ORDER BY 1
"""


def q_view_rotation_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_source_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_name, nb_ventes, derniere_vente
        FROM v_rotation_stock
        ORDER BY derniere_vente DESC NULLS LAST, p_partkey
        LIMIT 50
        """
    )


ORACLE_VIEW_ROTATION = """
SELECT p.p_partkey, p.p_name,
       COUNT(l.l_orderkey) AS nb_ventes,
       MAX(CAST(l.l_shipdate AS DATE)) AS derniere_vente
FROM part p LEFT JOIN lineitem l ON p.p_partkey = l.l_partkey
GROUP BY 1, 2
ORDER BY derniere_vente DESC NULLS LAST, p_partkey
LIMIT 50
"""


def q_view_retard_par_magasin(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_source_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT nom_magasin, nb_lignes, retard_max,
               CAST(retard_median AS DOUBLE) AS retard_median
        FROM v_retard_par_magasin ORDER BY nom_magasin
        """
    )


ORACLE_VIEW_RETARD = """
WITH base AS (
  SELECT s_name AS nom_magasin,
         GREATEST(CAST(floor((epoch(l_shipdate) - epoch(o_orderdate)) / 86400) AS INT) - 60, 0)
           AS retard
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
)
SELECT nom_magasin, COUNT(*) AS nb_lignes, MAX(retard) AS retard_max,
       CAST(quantile_cont(retard, 0.5) AS DOUBLE) AS retard_median
FROM base GROUP BY 1 ORDER BY 1
"""


def q_view_ca_mensuel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v_ca_mensuel through the star path (fact ⋈ dim_date), SQL-text
    form — same numbers as the direct corpus monthly_revenue, proving
    the warehouse route reproduces the source route."""
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT mois, CAST(ca AS DOUBLE) AS ca, nb FROM v_ca_mensuel ORDER BY mois"
    )


ORACLE_VIEW_CA_MENSUEL = f"""
SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mois,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca,
       COUNT(*) AS nb
FROM lineitem
GROUP BY 1 ORDER BY 1
"""


def q_view_heatmap_magasin_categorie(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT nom_magasin, nom_categorie, CAST(ca AS DOUBLE) AS ca"
        " FROM v_heatmap_magasin_categorie ORDER BY nom_magasin, nom_categorie"
    )


ORACLE_VIEW_HEATMAP = f"""
SELECT s_name AS nom_magasin,
       COALESCE(p_brand, 'Inconnu') AS nom_categorie,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN part     ON l_partkey = p_partkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_view_actifs_12m(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql("SELECT clients_actifs FROM v_actifs_12m")


ORACLE_VIEW_ACTIFS = """
SELECT COUNT(DISTINCT c_name) AS clients_actifs
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE CAST(l_shipdate AS DATE) >=
      (SELECT CAST(MAX(l_shipdate) AS DATE) - INTERVAL 12 MONTH FROM lineitem)
"""


def q_view_repartition_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT segment, nb_clients, CAST(ca AS DOUBLE) AS ca"
        " FROM v_repartition_segment ORDER BY segment"
    )


ORACLE_VIEW_SEGMENT = f"""
SELECT COALESCE(c_mktsegment, 'Inconnu') AS segment,
       COUNT(DISTINCT c_name) AS nb_clients,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1 ORDER BY 1
"""


def q_view_pareto_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT nom_categorie, CAST(ca AS DOUBLE) AS ca,"
        " CAST(ca_cumul AS DOUBLE) AS ca_cumul"
        " FROM v_pareto_categories ORDER BY ca_cumul, nom_categorie"
    )


ORACLE_VIEW_PARETO = f"""
WITH by_cat AS (
  SELECT COALESCE(p_brand, 'Inconnu') AS nom_categorie,
         CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS ca
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
),
cum AS (
  SELECT nom_categorie, ca,
         CAST(SUM(ca) OVER (ORDER BY ca DESC, nom_categorie
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS ca_cumul
  FROM by_cat
)
SELECT nom_categorie, CAST(ca AS DOUBLE) AS ca,
       CAST(ca_cumul AS DOUBLE) AS ca_cumul
FROM cum ORDER BY ca_cumul, nom_categorie
"""


def q_view_agg_mensuel_categorie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized month × category summary table (dw
    requetes_clees.sql:286-302) — the second X6 summary, previously
    built but never oracle-read."""
    star = build_star_frames(spark, sf_dir)
    df = build_agg_mensuel_categorie(star)
    from pyspark.sql import functions as F

    return df.select(
        "mois",
        "nom_categorie",
        F.col("ca").cast("double").alias("ca"),
        "nb_paiements",
    ).orderBy("mois", "nom_categorie")


ORACLE_VIEW_AGG_CAT = f"""
SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mois,
       COALESCE(p_brand, 'Inconnu') AS nom_categorie,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca,
       COUNT(*) AS nb_paiements
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_view_revenu_film_mois(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-film monthly revenue (vues.sql:181-189) through the star
    path. Deterministic modulo sample of films keeps the comparator
    payload bounded while still value-checking every month of the
    sampled films."""
    register_all_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT film_id, titre_film, mois, CAST(ca AS DOUBLE) AS ca, nb_paiements
        FROM v_revenu_film_mois
        WHERE film_id % 50 = 0
        ORDER BY film_id, mois
        """
    )


ORACLE_VIEW_REVENU_MOIS = f"""
SELECT p_partkey AS film_id, p_name AS titre_film,
       CAST(date_trunc('month', l_shipdate) AS DATE) AS mois,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca,
       COUNT(*) AS nb_paiements
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_partkey % 50 = 0
GROUP BY 1, 2, 3 ORDER BY 1, 3
"""


def q_view_revenu_film_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-time per-film revenue (vues.sql:191-199), full result."""
    register_all_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT film_id, titre_film, CAST(ca_total AS DOUBLE) AS ca_total,
               nb_paiements
        FROM v_revenu_film_total ORDER BY film_id
        """
    )


ORACLE_VIEW_REVENU_TOTAL = f"""
SELECT p_partkey AS film_id, p_name AS titre_film,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca_total,
       COUNT(*) AS nb_paiements
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2 ORDER BY 1
"""


def q_view_valeur_client(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Client frequency & value (vues.sql:202-215): distinct orders,
    per-line-rounded money total, first/last purchase dates."""
    register_source_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT client_id, nom_client, nb_locations,
               CAST(ca_total AS DOUBLE) AS ca_total,
               premiere_achat, dernier_achat
        FROM v_valeur_client ORDER BY client_id
        """
    )


ORACLE_VIEW_VALEUR_CLIENT = f"""
SELECT c_custkey AS client_id, c_name AS nom_client,
       COUNT(DISTINCT l_orderkey) AS nb_locations,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca_total,
       MIN(CAST(l_shipdate AS DATE)) AS premiere_achat,
       MAX(CAST(l_shipdate AS DATE)) AS dernier_achat
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2 ORDER BY 1
"""


def q_view_retard_par_client(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average late days per client (vues.sql:241-251) with the
    reference's >= 5 floor at rental (distinct-order) grain."""
    register_source_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT client_id, CAST(retard_moyen_jours AS DOUBLE) AS retard_moyen_jours,
               nb_locations
        FROM v_retard_par_client ORDER BY client_id
        """
    )


ORACLE_VIEW_RETARD_CLIENT = f"""
SELECT o_custkey AS client_id,
       {sql_round_half_up("AVG(CAST(GREATEST(CAST(floor((epoch(l_shipdate) - epoch(o_orderdate)) / 86400) AS INT) - 60, 0) AS DOUBLE))", 2)} AS retard_moyen_jours,
       COUNT(DISTINCT l_orderkey) AS nb_locations
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
HAVING COUNT(DISTINCT l_orderkey) >= 5
ORDER BY 1
"""


def q_view_liste_films_noms_formates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Film catalog with formatted deterministic actor list
    (vues.sql:23-59) — ordered DISTINCT STRING_AGG as a view."""
    register_source_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT film_id, titre, categorie, classification,
               CAST(prix_location AS DOUBLE) AS prix_location,
               duree_minutes, acteurs
        FROM v_liste_films_noms_formates ORDER BY film_id
        """
    )


ORACLE_VIEW_LISTE_FILMS = """
SELECT p.p_partkey AS film_id,
       p.p_name AS titre,
       p.p_brand AS categorie,
       p.p_type AS classification,
       CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS prix_location,
       p.p_size AS duree_minutes,
       string_agg(DISTINCT upper(substr(lower(s.s_name), 1, 1)) || substr(lower(s.s_name), 2),
                  ', ' ORDER BY upper(substr(lower(s.s_name), 1, 1)) || substr(lower(s.s_name), 2)) AS acteurs
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1, 2, 3, 4, 5, 6
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Round-5 completion: direct value evidence for the early views that
# previously rode on analogy queries only (vues.sql:22-39, 77-93,
# 95-112, 157-179, 191-200, 7-13; dw requetes_clees.sql:9, 17-43;
# pbix weekday profile). Every registered view now has its own
# oracle-checked spot query.
# ---------------------------------------------------------------------------


def q_view_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT client_key, source_client_id, libelle_client, segment, pays, region"
        " FROM v_clients ORDER BY source_client_id"
    )


ORACLE_VIEW_V_CLIENTS = """
WITH cli AS (
  SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS client_key,
         c_custkey AS source_client_id,
         c_name, c_mktsegment AS segment, n_name AS pays, r_name AS region
  FROM customer
  LEFT JOIN nation ON c_nationkey = n_nationkey
  LEFT JOIN region ON n_regionkey = r_regionkey
)
SELECT CAST(client_key AS BIGINT) AS client_key, source_client_id,
       upper(substr(lower(c_name), 1, 1)) || substr(lower(c_name), 2)
         || ' [' || COALESCE(segment, 'Inconnu') || ']' AS libelle_client,
       segment, pays, region
FROM cli ORDER BY source_client_id
"""


def q_view_produits(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT film_key, source_film_id, titre_film, type_film, taille,"
        " CAST(prix_catalogue AS DOUBLE) AS prix_catalogue, nom_categorie"
        " FROM v_produits ORDER BY source_film_id"
    )


ORACLE_VIEW_PRODUITS = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) AS BIGINT) AS film_key,
       p_partkey AS source_film_id,
       p_name AS titre_film,
       p_type AS type_film,
       p_size AS taille,
       CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS prix_catalogue,
       p_brand AS nom_categorie
FROM part ORDER BY p_partkey
"""


def q_view_magasins(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT magasin_key, source_magasin_id, nom_magasin, pays, region"
        " FROM v_magasins ORDER BY source_magasin_id"
    )


ORACLE_VIEW_MAGASINS = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY s_suppkey) AS BIGINT) AS magasin_key,
       s_suppkey AS source_magasin_id,
       s_name AS nom_magasin,
       n_name AS pays,
       r_name AS region
FROM supplier
LEFT JOIN nation ON s_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
ORDER BY s_suppkey
"""


def q_view_ca_par_categorie(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT nom_categorie, CAST(ca AS DOUBLE) AS ca, nb_paiements"
        " FROM v_ca_par_categorie ORDER BY nom_categorie"
    )


ORACLE_VIEW_CA_CAT = f"""
SELECT COALESCE(p_brand, 'Inconnu') AS nom_categorie,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca,
       COUNT(*) AS nb_paiements
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1 ORDER BY 1
"""


def q_view_top_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT nom_client, CAST(ca AS DOUBLE) AS ca, nb_paiements"
        " FROM v_top_clients ORDER BY nom_client"
    )


ORACLE_VIEW_TOP_CLIENTS = f"""
SELECT c_name AS nom_client,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca,
       COUNT(*) AS nb_paiements
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1 ORDER BY 1
"""


def q_view_panier_moyen_magasin(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT nom_magasin, CAST(ca AS DOUBLE) AS ca, nb, panier_moyen"
        " FROM v_panier_moyen_magasin ORDER BY nom_magasin"
    )


ORACLE_VIEW_PANIER = f"""
SELECT s_name AS nom_magasin,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca,
       COUNT(*) AS nb,
       CAST(SUM({_SQL_REV}) AS DOUBLE) / NULLIF(COUNT(*), 0) AS panier_moyen
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1 ORDER BY 1
"""


def q_view_types_par_categorie(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT nom_categorie, types, nb_types"
        " FROM v_types_par_categorie ORDER BY nom_categorie"
    )


ORACLE_VIEW_TYPES = """
SELECT p_brand AS nom_categorie,
       string_agg(DISTINCT p_type, ', ' ORDER BY p_type) AS types,
       CAST(COUNT(DISTINCT p_type) AS BIGINT) AS nb_types
FROM part GROUP BY 1 ORDER BY 1
"""


def q_view_paiements_recents(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT source_paiement_id, date, CAST(montant AS DOUBLE) AS montant"
        " FROM v_paiements_recents ORDER BY source_paiement_id"
    )


ORACLE_VIEW_RECENTS = f"""
WITH keyed AS (
  SELECT CAST(l_shipdate AS DATE) AS "date",
         {_SQL_REV} AS montant,
         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey,
                                     l_suppkey, l_shipdate, l_quantity,
                                     l_extendedprice) AS source_paiement_id
  FROM lineitem
)
SELECT CAST(source_paiement_id AS BIGINT) AS source_paiement_id, "date",
       CAST(montant AS DOUBLE) AS montant
FROM keyed
WHERE "date" >= (SELECT CAST(MAX(l_shipdate) AS DATE) - INTERVAL 30 DAY FROM lineitem)
ORDER BY 1
"""


def q_view_profil_jour_semaine(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_all_views(spark, sf_dir)
    return spark.sql(
        "SELECT jour_semaine, CAST(ca AS DOUBLE) AS ca, nb"
        " FROM v_profil_jour_semaine ORDER BY jour_semaine"
    )


ORACLE_VIEW_PROFIL_JOUR = f"""
SELECT CAST(isodow(l_shipdate) AS INT) AS jour_semaine,
       CAST(CAST(SUM({_SQL_REV}) AS DECIMAL(18,2)) AS DOUBLE) AS ca,
       COUNT(*) AS nb
FROM lineitem
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Round-6 completion: the reference's last 4 unrepresented views —
# the row-level late-days base view, the inventory/stock-availability
# pair, and the nested (two-level) actor aggregate.
# ---------------------------------------------------------------------------


def q_view_retard_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level late-days base view (vues.sql:217-230). Deterministic
    modulo sample keeps the comparator payload bounded while checking
    every column at row grain."""
    register_source_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT location_id, ligne, client_id, magasin_id,
               date_location, date_retour, duree_location_jours, retard_jours
        FROM v_retard_location
        WHERE location_id % 10 = 0
        ORDER BY location_id, ligne
        """
    )


ORACLE_VIEW_RETARD_LOCATION = """
SELECT l_orderkey AS location_id,
       l_linenumber AS ligne,
       o_custkey AS client_id,
       l_suppkey AS magasin_id,
       CAST(o_orderdate AS DATE) AS date_location,
       CAST(l_shipdate AS DATE) AS date_retour,
       60 AS duree_location_jours,
       GREATEST(CAST(floor((epoch(l_shipdate) - epoch(o_orderdate)) / 86400) AS INT) - 60, 0)
         AS retard_jours
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate IS NOT NULL AND l_orderkey % 10 = 0
ORDER BY 1, 2
"""


def q_view_inventaire_magasin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-store per-film copy counts (vues.sql:253-258), sampled by
    film for a bounded comparator payload."""
    register_source_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT magasin_id, film_id, titre_film, exemplaires
        FROM v_inventaire_magasin
        WHERE film_id % 20 = 0
        ORDER BY magasin_id, film_id
        """
    )


ORACLE_VIEW_INVENTAIRE = """
SELECT l_suppkey AS magasin_id,
       p_partkey AS film_id,
       p_name AS titre_film,
       COUNT(*) AS exemplaires
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_partkey % 20 = 0
GROUP BY 1, 2, 3
ORDER BY 1, 2
"""


def q_view_disponibilite_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open vs total stock per store (vues.sql:260-282) — full result
    (one row per store)."""
    register_source_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT magasin_id, nb_total, nb_en_cours, nb_disponibles
        FROM v_disponibilite_stock
        ORDER BY magasin_id
        """
    )


ORACLE_VIEW_DISPO = """
WITH en_cours AS (
  SELECT l_suppkey AS magasin_id, COUNT(*) AS nb_en_cours
  FROM lineitem
  WHERE l_linestatus = 'O'
  GROUP BY 1
),
tot AS (
  SELECT l_suppkey AS magasin_id, COUNT(*) AS nb_total
  FROM lineitem
  GROUP BY 1
)
SELECT t.magasin_id,
       t.nb_total,
       COALESCE(e.nb_en_cours, 0) AS nb_en_cours,
       (t.nb_total - COALESCE(e.nb_en_cours, 0)) AS nb_disponibles
FROM tot t
LEFT JOIN en_cours e ON e.magasin_id = t.magasin_id
ORDER BY 1
"""


def q_view_infos_acteurs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested two-level aggregate (vues.sql:2-19): per actor, the
    category-grouped film lists — full result (one row per actor)."""
    register_source_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT acteur_id, nom, films_par_categorie
        FROM v_infos_acteurs
        ORDER BY acteur_id
        """
    )


ORACLE_VIEW_INFOS_ACTEURS = """
WITH par_categorie AS (
  SELECT s_suppkey, s_name, p_brand,
         string_agg(DISTINCT p_name, ', ' ORDER BY p_name) AS films
  FROM supplier
  LEFT JOIN lineitem ON s_suppkey = l_suppkey
  LEFT JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2, 3
)
SELECT s_suppkey AS acteur_id,
       s_name AS nom,
       string_agg(DISTINCT p_brand || ': ' || films, ' | '
                  ORDER BY p_brand || ': ' || films) AS films_par_categorie
FROM par_categorie
GROUP BY 1, 2
ORDER BY 1
"""


QUERIES = {
    "view_kpi_magasin_mois": q_view_kpi_magasin_mois,
    "view_clients_directory": q_view_clients_directory,
    "view_films_jamais_loues": q_view_films_jamais_loues,
    "view_rotation_stock": q_view_rotation_stock,
    "view_retard_par_magasin": q_view_retard_par_magasin,
    "view_ca_mensuel": q_view_ca_mensuel,
    "view_heatmap_magasin_categorie": q_view_heatmap_magasin_categorie,
    "view_actifs_12m": q_view_actifs_12m,
    "view_repartition_segment": q_view_repartition_segment,
    "view_pareto_categories": q_view_pareto_categories,
    "view_agg_mensuel_categorie": q_view_agg_mensuel_categorie,
    "view_revenu_film_mois": q_view_revenu_film_mois,
    "view_revenu_film_total": q_view_revenu_film_total,
    "view_valeur_client": q_view_valeur_client,
    "view_retard_par_client": q_view_retard_par_client,
    "view_liste_films_noms_formates": q_view_liste_films_noms_formates,
    "view_clients": q_view_clients,
    "view_produits": q_view_produits,
    "view_magasins": q_view_magasins,
    "view_ca_par_categorie": q_view_ca_par_categorie,
    "view_top_clients": q_view_top_clients,
    "view_panier_moyen_magasin": q_view_panier_moyen_magasin,
    "view_types_par_categorie": q_view_types_par_categorie,
    "view_paiements_recents": q_view_paiements_recents,
    "view_profil_jour_semaine": q_view_profil_jour_semaine,
    "view_retard_location": q_view_retard_location,
    "view_inventaire_magasin": q_view_inventaire_magasin,
    "view_disponibilite_stock": q_view_disponibilite_stock,
    "view_infos_acteurs": q_view_infos_acteurs,
}

ORACLES = {
    "view_kpi_magasin_mois": ORACLE_VIEW_KPI,
    "view_clients_directory": ORACLE_VIEW_CLIENTS,
    "view_films_jamais_loues": ORACLE_VIEW_JAMAIS,
    "view_rotation_stock": ORACLE_VIEW_ROTATION,
    "view_retard_par_magasin": ORACLE_VIEW_RETARD,
    "view_ca_mensuel": ORACLE_VIEW_CA_MENSUEL,
    "view_heatmap_magasin_categorie": ORACLE_VIEW_HEATMAP,
    "view_actifs_12m": ORACLE_VIEW_ACTIFS,
    "view_repartition_segment": ORACLE_VIEW_SEGMENT,
    "view_pareto_categories": ORACLE_VIEW_PARETO,
    "view_agg_mensuel_categorie": ORACLE_VIEW_AGG_CAT,
    "view_revenu_film_mois": ORACLE_VIEW_REVENU_MOIS,
    "view_revenu_film_total": ORACLE_VIEW_REVENU_TOTAL,
    "view_valeur_client": ORACLE_VIEW_VALEUR_CLIENT,
    "view_retard_par_client": ORACLE_VIEW_RETARD_CLIENT,
    "view_liste_films_noms_formates": ORACLE_VIEW_LISTE_FILMS,
    "view_clients": ORACLE_VIEW_V_CLIENTS,
    "view_produits": ORACLE_VIEW_PRODUITS,
    "view_magasins": ORACLE_VIEW_MAGASINS,
    "view_ca_par_categorie": ORACLE_VIEW_CA_CAT,
    "view_top_clients": ORACLE_VIEW_TOP_CLIENTS,
    "view_panier_moyen_magasin": ORACLE_VIEW_PANIER,
    "view_types_par_categorie": ORACLE_VIEW_TYPES,
    "view_paiements_recents": ORACLE_VIEW_RECENTS,
    "view_profil_jour_semaine": ORACLE_VIEW_PROFIL_JOUR,
    "view_retard_location": ORACLE_VIEW_RETARD_LOCATION,
    "view_inventaire_magasin": ORACLE_VIEW_INVENTAIRE,
    "view_disponibilite_stock": ORACLE_VIEW_DISPO,
    "view_infos_acteurs": ORACLE_VIEW_INFOS_ACTEURS,
}
