"""View layer: all 28 views register and answer SQL-text queries."""

from __future__ import annotations

from filmdb_data_warehouse___power_bi_dashboard_spark.plans.views import (
    _VIEW_SQL,
    register_all_views,
)


def test_all_views_register_and_run(spark, sf_small):
    names = register_all_views(spark, sf_small)
    assert len(names) == len(_VIEW_SQL) + 3  # SQL views + 3 summary views
    for name in names:
        # Every view must be queryable through the SQL-text surface.
        assert spark.sql(f"SELECT * FROM {name} LIMIT 1").columns


def test_view_count_matches_reference_surface():
    # 29 vues.sql-derived views (round 6 completed the surface with
    # v_retard_location, v_inventaire_magasin, v_disponibilite_stock,
    # v_infos_acteurs); the 3 dw summaries are registered separately.
    assert len(_VIEW_SQL) == 29


def test_source_view_registration_is_memoized(spark, sf_small, sf_med, monkeypatch):
    """register_source_views registers once per (session, sf_dir), is a
    hit after a full registration of the same sf_dir, re-registers (and
    drops the full-registration memo) for another sf_dir, registers a
    sibling session's own views, and re-asserts the UTC pin on a hit."""
    from filmdb_data_warehouse___power_bi_dashboard_spark.plans import views

    calls: list[str] = []
    real = views.register_views

    def counting(session, sf_dir, *args, **kwargs):
        calls.append(sf_dir)
        return real(session, sf_dir, *args, **kwargs)

    monkeypatch.setattr(views, "register_views", counting)
    try:
        register_all_views(spark, sf_small)
        calls.clear()
        views.register_source_views(spark, sf_small)
        assert calls == []

        views.register_source_views(spark, sf_med)
        assert calls == [sf_med]
        assert views._REGISTERED.get(spark) is None
        assert all(sf_med in f for f in spark.table("lineitem").inputFiles())
        views.register_source_views(spark, sf_med)
        assert calls == [sf_med]

        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        views.register_source_views(spark, sf_med)
        assert calls == [sf_med]
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

        sibling = spark.newSession()
        views.register_source_views(sibling, sf_med)
        assert calls == [sf_med, sf_med]
        assert sibling.table("v_valeur_client").columns
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        views.register_source_views(spark, sf_small)
