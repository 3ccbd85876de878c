"""Report session: replaying a report page reuses the session's compiled
code instead of generating it again."""

from __future__ import annotations

import datetime

from filmdb_data_warehouse___power_bi_dashboard_spark.plans.etl import (
    build_agg_mensuel_categorie,
    build_agg_mensuel_magasin,
    build_star_frames,
)
from filmdb_data_warehouse___power_bi_dashboard_spark.plans.metrics import evaluate
from filmdb_data_warehouse___power_bi_dashboard_spark.queries import registry
from filmdb_data_warehouse___power_bi_dashboard_spark.session import CODEGEN_CACHE_ENTRIES

# The registered visuals of one report page.
DASHBOARD_PAGE = (
    "metrics_kpi_global",
    "metrics_drill_localisation",
    "view_kpi_magasin_mois",
    "view_valeur_client",
    "view_top_clients",
    "view_ca_mensuel",
)

# Slicer contexts as (measures, group_by, filters); the first two are
# answerable from the monthly summaries.
SLICERS = (
    (["ca_total", "nb_paiements"], ["mois"], [("nom_categorie", "=", "Brand#13")]),
    (["ca_total"], ["nom_magasin"],
     [("mois", "between", (datetime.date(1996, 1, 1), datetime.date(1996, 12, 1)))]),
    (["ca_total", "panier_moyen"], ["annee"], [("region_client", "=", "EUROPE")]),
    (["nb_clients", "ca_total"], ["segment"], [("annee", "=", 1997)]),
    (["ca_total", "nb_paiements"], ["nom_categorie"],
     [("segment", "=", "BUILDING"), ("annee", "=", 1995)]),
)

# ROADMAP direction F's bound on compiles per repeated dashboard pass.
MAX_REPLAY_COMPILES = 15


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_replayed_report_page_compiles_nothing_new(spark, sf_small):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    reg = registry()
    star = build_star_frames(spark, sf_small)
    summaries = {
        "v_agg_mensuel_magasin": build_agg_mensuel_magasin(star),
        "v_agg_mensuel_categorie": build_agg_mensuel_categorie(star),
    }

    def page() -> None:
        for name in DASHBOARD_PAGE:
            reg[name](spark, sf_small).collect()
        for slicer in SLICERS:
            evaluate(star, *slicer, summaries).collect()

    page()
    before = _compiles(spark)
    page()
    compiled = _compiles(spark) - before
    assert compiled <= MAX_REPLAY_COMPILES, (
        f"replaying the page compiled {compiled} classes; the generated-class "
        "cache no longer holds one report page"
    )
