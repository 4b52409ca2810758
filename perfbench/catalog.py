"""The catalog leaves over the committed ``data/sf0.01`` tables, run once
and checked against their oracles in the traced runs.

The leaves are the ones that run the operators no other workload runs
(``operators.dedup``, ``similarity``, ``text``, ``asof``, ``_spread``) and
the Gorilla decoder, plus ``cumshare_select``.  The tables are a copy of the
seed-42 sf0.01 test tables, so these leaves ignore ``--seed``.
"""

from __future__ import annotations

import importlib.util
import os

import harness as H

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

TABLES = ("events", "documents", "embeddings")
# the time-series leaves run in the traced tier_batch run, the document and
# embedding leaves in the traced stream_ingest run: each traced run then
# stays well inside the per-run time limit
EVENT_LEAVES = ("cumshare_select", "gorilla_roundtrip", "asof_enrich")
DOCUMENT_LEAVES = ("dedup_components", "dedup_components_star", "cosine_topk", "token_count")


def check_oracles_module():
    """``scripts/check_oracles.py``, whose ``normalize``/``value_hash`` are
    the gate's comparison."""
    path = os.path.join(H.ROOT, "scripts", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def trace_leaves(ctx, leaves: tuple[str, ...]) -> None:
    """One pass: each leaf collected under its span (its first run in the
    session), then, untimed, its ``value_hash`` against its DuckDB
    oracle's."""
    import duckdb

    from streaming_downsampling_spark.queries import ORACLES, QUERIES

    co = check_oracles_module()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    for leaf in leaves:
        with ctx.span(f"queries.{leaf}"):
            got = QUERIES[leaf](ctx.spark, DATA).toPandas()
        exp = con.sql(ORACLES[leaf]).fetchdf()
        same = (
            len(got) == len(exp)
            and sorted(got.columns) == sorted(exp.columns)
            and co.value_hash(co.normalize(got)) == co.value_hash(co.normalize(exp))
        )
        ctx.check(same, f"{leaf} against its oracle")
    con.close()
