"""The two workloads: what each pass sends and how each output is checked.

A workload sets up its state once, then yields passes of ops. Every pass
of a workload holds the same op types, so passes are comparable; the seed
shuffles the order of timed passes and draws every pass's parameters (slicer
values, refreshed months); warm-up passes keep one order. An op is
one client request: a build call into the engine that returns a DataFrame,
then the collect of that DataFrame. Each distinct op is checked once per
run, after timing stops, from the rows its first execution returned.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from collections.abc import Callable
from dataclasses import dataclass, field

from tracing import PKG

# Registered visuals of the report page replayed on every dashboard pass.
DASHBOARD_PAGE = (
    "metrics_kpi_global",
    "metrics_drill_localisation",
    "view_kpi_magasin_mois",
    "view_valeur_client",
    "view_top_clients",
    "view_ca_mensuel",
)

# Curation ops by family; the family names the per-layer metric.
CURATION_OPS = {
    "dedup_minhash_portable": "dedup",
    "ann_topk_ivf": "similarity",
    "ann_topk_bruteforce": "similarity",
    "text_bpe_tokenize": "text",
    "text_repetition_profile": "text",
    "corpus_token_budget": "corpus",
}

# Approximate-search ops checked by recall against brute force (floor as
# in the engine's own recall tests), not by an oracle.
RECALL_FLOORS = {"ann_topk_ivf": 0.7}

# Bounded-stream maintainer replayed beside the batch operators: the
# stateful micro-batch trigger path.
CURATION_STREAMS = ("stream_tumbling_hour",)

# Months the seeded incremental summary refresh of each curation pass changes.
CHANGED_MONTHS = 2

# Warehouse tables whose refresh row count has a DuckDB oracle.
TABLE_ORACLES = {
    "dim_client": "etl_dim_client",
    "dim_film": "etl_dim_film",
    "dim_date": "etl_dim_date",
    "fact_paiement": "etl_fact_paiement",
    "v_agg_mensuel_magasin": "etl_agg_mensuel_magasin",
    "v_dim_mois": "etl_dim_mois",
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
YEARS = list(range(1995, 2002))


@dataclass
class Op:
    name: str  # distinct op: what one check covers
    family: str
    # Returns the DataFrame to collect, or a Result for an op whose
    # output is already on the driver.
    build: Callable[[], object]


@dataclass
class Result:
    columns: list[str]
    dtypes: list[tuple[str, str]]
    rows: list[tuple]

    # The oracle comparator reads a frame through these two members.
    def collect(self) -> list[tuple]:
        return self.rows


@dataclass
class Context:
    spark: object
    sf_dir: str
    dw_root: str
    registry: dict
    oracles: dict
    duck: object
    state: dict = field(default_factory=dict)


def _recall(approx: Result, exact: Result) -> float:
    exact_sets: dict[int, set[int]] = {}
    qi, vi = exact.columns.index("query_id"), exact.columns.index("vec_id")
    for r in exact.rows:
        exact_sets.setdefault(r[qi], set()).add(r[vi])
    got: dict[int, set[int]] = {}
    qa, va = approx.columns.index("query_id"), approx.columns.index("vec_id")
    for r in approx.rows:
        got.setdefault(r[qa], set()).add(r[va])
    return sum(len(s & got.get(q, set())) / len(s) for q, s in exact_sets.items()) / len(exact_sets)


class Workload:
    name = ""
    warmup_passes = 1  # untimed passes after set-up, in make_pass order

    def setup(self, ctx: Context) -> None:
        pass

    def make_pass(self, ctx: Context, rng: random.Random) -> list[Op]:
        raise NotImplementedError

    def check(self, ctx: Context, results: dict[str, Result]) -> dict[str, str]:
        """Error message per failed distinct op (empty when all pass)."""
        from tests.oracle_harness import compare

        errors: dict[str, str] = {}
        for name, res in results.items():
            if name in ctx.oracles:
                ok, msg = compare(res, ctx.duck, ctx.oracles[name])
                if not ok:
                    errors[name] = msg
        return errors


def _registered(ctx: Context, name: str, family: str) -> Op:
    fn = ctx.registry[name]
    return Op(name, family, lambda: fn(ctx.spark, ctx.sf_dir))


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

def _slicers(rng: random.Random) -> list[tuple[str, list[str], list[str], list[tuple]]]:
    """One pass's slicer visuals as (shape, measures, group_by, filters),
    with seeded filter values. The first two shapes are answerable from
    the monthly summaries, so evaluate() routes them."""
    year = rng.choice(YEARS)
    brand = f"Brand#{rng.randint(1, 25)}"
    return [
        ("cat_month", ["ca_total", "nb_paiements"], ["mois"], [("nom_categorie", "=", brand)]),
        ("store_year", ["ca_total"], ["nom_magasin"],
         [("mois", "between", (dt.date(year, 1, 1), dt.date(year, 12, 1)))]),
        ("region_years", ["ca_total", "panier_moyen"], ["annee"],
         [("region_client", "=", rng.choice(REGIONS))]),
        ("segment_year", ["nb_clients", "ca_total"], ["segment"], [("annee", "=", rng.choice(YEARS))]),
        ("brand_segment", ["ca_total", "nb_paiements"], ["nom_categorie"],
         [("segment", "=", rng.choice(SEGMENTS)), ("annee", "=", rng.choice(YEARS))]),
        ("region_brands", ["ca_total", "nb_clients"], ["region_client"],
         [("nom_categorie", "in", tuple(f"Brand#{b}" for b in rng.sample(range(1, 26), 3)))]),
    ]


_ATTR_SQL = {
    "annee": "f.annee",
    "mois": "f.mois",
    "nom_categorie": "p.p_brand",
    "segment": "c.c_mktsegment",
    "region_client": "rc.r_name",
    "nom_magasin": "s.s_name",
}


def _sql_literal(v) -> str:
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def slicer_oracle_sql(measures: list[str], group_by: list[str], filters: list[tuple]) -> str:
    """DuckDB twin of one slicer visual, over the source tables."""
    from importlib import import_module

    metrics = import_module(f"{PKG}.plans.metrics")
    scalar = import_module(f"{PKG}.functions.scalar")
    measure_sql = {
        "ca_total": "CAST(CAST(SUM(f.montant) AS DECIMAL(18,2)) AS DOUBLE)",
        "nb_paiements": "COUNT(*)",
        "nb_clients": "COUNT(DISTINCT f.o_custkey)",
        "panier_moyen": scalar.sql_round_half_up(
            "CAST(SUM(f.montant) AS DOUBLE) / NULLIF(COUNT(*), 0)", 4
        ),
    }
    where = []
    for attr, op, value in filters:
        col = _ATTR_SQL[attr]
        if op == "=":
            where.append(f"{col} = {_sql_literal(value)}")
        elif op == "in":
            where.append(f"{col} IN ({', '.join(_sql_literal(v) for v in value)})")
        elif op == "between":
            where.append(f"{col} BETWEEN {_sql_literal(value[0])} AND {_sql_literal(value[1])}")
        else:
            raise ValueError(op)
    select = [f"{_ATTR_SQL[g]} AS {g}" for g in group_by] + [f"{measure_sql[m]} AS {m}" for m in measures]
    sql = (
        f"WITH f AS ({metrics._SQL_FACT})\n"
        f"SELECT {', '.join(select)}\n"
        "FROM f\n"
        "JOIN part p ON f.l_partkey = p.p_partkey\n"
        "JOIN supplier s ON f.l_suppkey = s.s_suppkey\n"
        "JOIN customer c ON f.o_custkey = c.c_custkey\n"
        "JOIN nation nc ON c.c_nationkey = nc.n_nationkey\n"
        "JOIN region rc ON nc.n_regionkey = rc.r_regionkey\n"
    )
    if where:
        sql += "WHERE " + " AND ".join(where) + "\n"
    if group_by:
        sql += "GROUP BY " + ", ".join(str(i + 1) for i in range(len(group_by))) + "\n"
    return sql


class Dashboard(Workload):
    """Report session over the memoized, persisted star (read path)."""

    name = "dashboard"

    def setup(self, ctx: Context) -> None:
        from importlib import import_module

        etl = import_module(f"{PKG}.plans.etl")
        sinks = import_module(f"{PKG}.sources.sinks")
        star = etl.build_star_frames(ctx.spark, ctx.sf_dir)
        for frame in star.values():
            frame.count()
        summaries = {
            "v_agg_mensuel_magasin": etl.build_agg_mensuel_magasin(star),
            "v_agg_mensuel_categorie": etl.build_agg_mensuel_categorie(star),
        }
        for name, df in summaries.items():
            sinks.stage_and_swap_write(df, os.path.join(ctx.dw_root, name))
        ctx.state["star"] = star
        ctx.state["summaries"] = {
            name: sinks.read_warehouse_table(ctx.spark, ctx.dw_root, name) for name in summaries
        }
        ctx.state["slicers"] = {}

    def _slicer_op(self, ctx: Context, shape: str, measures, group_by, filters) -> Op:
        from importlib import import_module

        metrics = import_module(f"{PKG}.plans.metrics")
        scalar = import_module(f"{PKG}.functions.scalar")
        name = f"slicer.{shape}({'; '.join(f'{a} {o} {v}' for a, o, v in filters)})"
        ctx.state["slicers"][name] = (measures, group_by, filters)
        star, summaries = ctx.state["star"], ctx.state["summaries"]
        # Looked up at call time so a traced run sees its wrapper.
        return Op(name, "slicer", lambda: scalar.decimals_to_double(
            metrics.evaluate(star, measures, group_by, filters, summaries)
        ))

    def make_pass(self, ctx: Context, rng: random.Random) -> list[Op]:
        ops = [_registered(ctx, n, "queries") for n in DASHBOARD_PAGE]
        ops += [self._slicer_op(ctx, *s) for s in _slicers(rng)]
        return ops

    def check(self, ctx: Context, results: dict[str, Result]) -> dict[str, str]:
        from importlib import import_module

        from tests.oracle_harness import _rowset, compare

        metrics = import_module(f"{PKG}.plans.metrics")
        scalar = import_module(f"{PKG}.functions.scalar")
        errors = super().check(ctx, results)
        star, summaries = ctx.state["star"], ctx.state["summaries"]
        ctx.state["routed"] = {}
        for name, res in results.items():
            if name not in ctx.state["slicers"]:
                continue
            measures, group_by, filters = ctx.state["slicers"][name]
            ok, msg = compare(res, ctx.duck, slicer_oracle_sql(measures, group_by, filters))
            if not ok:
                errors[name] = msg
                continue
            # A routed context's plan scans the summary table's files.
            plan = metrics.evaluate(star, measures, group_by, filters, summaries)
            routed = any("v_agg_mensuel" in f for f in plan.inputFiles())
            ctx.state["routed"][name] = routed
            if routed:
                plain = scalar.decimals_to_double(
                    metrics.evaluate(star, measures, group_by, filters, None)
                )
                if _rowset(plain.columns, plain.collect()) != _rowset(res.columns, res.rows):
                    errors[name] = "summary-routed result differs from the fact-table evaluation"
        return errors


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


class Curation(Workload):
    """LLM-data operators over documents and embeddings, beside the
    maintenance that keeps the warehouse current: a bounded-stream
    maintainer, a full warehouse refresh on a cold star, and seeded
    incremental summary refreshes."""

    name = "curation"

    def setup(self, ctx: Context) -> None:
        # The warehouse and the partitioned summary start empty. The
        # warm-up pass runs in make_pass order, so its refresh builds the
        # first star and writes the warehouse before any incremental call.
        months = ctx.duck.execute(
            "SELECT DISTINCT strftime(l_shipdate, '%Y-%m') FROM lineitem ORDER BY 1"
        ).fetchall()
        ctx.state.update(etl_session=None, star={}, refresh_counts=[],
                         months=[m for (m,) in months], refreshed_months=set(), incremental={})

    def _refresh(self, ctx: Context) -> Result:
        """Full refresh into the kept warehouse, on a fresh session whose
        star is not built yet; the previous session's star is released."""
        from importlib import import_module

        etl = import_module(f"{PKG}.plans.etl")
        for frame in ctx.state["star"].values():
            frame.unpersist()
        session = ctx.spark.newSession()
        ctx.state["etl_session"] = session
        counts = etl.build_warehouse(session, ctx.sf_dir, ctx.dw_root)
        ctx.state["star"] = etl.build_star_frames(session, ctx.sf_dir)  # memoized: no rebuild
        ctx.state["refresh_counts"].append(counts)
        return Result(["table", "rows"], [("table", "string"), ("rows", "bigint")],
                      sorted(counts.items()))

    def _incremental(self, ctx: Context, months: list[str]):
        """Rewrite the summary partitions of ``months``; returns them read back."""
        from importlib import import_module

        from pyspark.sql import functions as F

        etl = import_module(f"{PKG}.plans.etl")
        session = ctx.state["etl_session"]
        path = etl.refresh_summary_incremental(session, ctx.sf_dir, ctx.dw_root, months)
        ctx.state["star"] = etl.build_star_frames(session, ctx.sf_dir)
        ctx.state["refreshed_months"].update(months)
        return session.read.parquet(path).where(F.date_format("mois", "yyyy-MM").isin(months))

    def make_pass(self, ctx: Context, rng: random.Random) -> list[Op]:
        ops = [_registered(ctx, n, fam) for n, fam in CURATION_OPS.items()]
        ops += [_registered(ctx, n, "stream") for n in CURATION_STREAMS]
        ops.append(Op("etl.build_warehouse", "etl", lambda: self._refresh(ctx)))
        months = sorted(rng.sample(ctx.state["months"], CHANGED_MONTHS))
        name = f"etl.refresh_summary_incremental({', '.join(months)})"
        ctx.state["incremental"][name] = months
        ops.append(Op(name, "etl", lambda: self._incremental(ctx, months)))
        return ops

    def check(self, ctx: Context, results: dict[str, Result]) -> dict[str, str]:
        from importlib import import_module

        from tests.oracle_harness import _rowset

        errors = super().check(ctx, results)
        exact = results.get("ann_topk_bruteforce")
        for name, floor in RECALL_FLOORS.items():
            if name not in results:
                continue
            if exact is None:
                errors[name] = "no brute-force result to measure recall against"
                continue
            recall = _recall(results[name], exact)
            if recall < floor:
                errors[name] = f"recall@10 {recall:.3f} below {floor}"

        # Every refresh (one per pass, so at least two) writes the same
        # tables, with the oracles' row counts.
        counts = ctx.state["refresh_counts"]
        if any(c != counts[0] for c in counts):
            errors["etl.build_warehouse"] = f"row counts differ between refreshes: {counts}"
        for table, oracle in TABLE_ORACLES.items():
            want = ctx.duck.execute(f"SELECT COUNT(*) FROM ({ctx.oracles[oracle]})").fetchone()[0]
            if counts[0].get(table) != want:
                errors["etl.build_warehouse"] = f"{table}: {counts[0].get(table)} rows, oracle {want}"

        # Each refreshed month of the summary equals a full rebuild's, and
        # the summary holds exactly the months refreshed so far.
        etl = import_module(f"{PKG}.plans.etl")
        session = ctx.state["etl_session"]
        full = etl.build_agg_mensuel_magasin(etl.build_star_frames(session, ctx.sf_dir))
        full_rows, mois = full.collect(), full.columns.index("mois")

        def rebuilt(months) -> list[tuple]:
            return _rowset(full.columns, [r for r in full_rows if r[mois].strftime("%Y-%m") in months])

        table = session.read.parquet(os.path.join(ctx.dw_root, "v_agg_mensuel_magasin_m"))
        table_ok = _rowset(table.columns, table.collect()) == rebuilt(ctx.state["refreshed_months"])
        for name, months in ctx.state["incremental"].items():
            if name not in results:
                continue
            if _rowset(results[name].columns, results[name].rows) != rebuilt(months):
                errors[name] = "refreshed summary partitions differ from a full rebuild"
            elif not table_ok:
                errors[name] = "the summary's months differ from a full rebuild of the refreshed months"
        return errors


WORKLOADS = {w.name: w for w in (Dashboard, Curation)}
