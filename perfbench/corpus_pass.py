"""The corpus-prep pass ``daily_ingest`` runs after the day's routine.

One pass over ``QUERIES`` from the ``plans`` registry, in an order the seed
permutes, on a seeded corpus (``gen.write_corpus``) written at set-up. Each
query is the registry's ``(spark, sf_dir) -> DataFrame`` function followed
by a collect. ``e2e_daily_pipeline``, the one corpus query that reads
through ``sources.pydatasource``, is left out (see README.md).

Correctness: every result must equal its registered ``QuerySpec.oracle``
run by DuckDB over the same parquet files, both normalized as
``tools/oracle_check.py`` normalizes them (sorted columns and rows, exact
values).
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

from common import ROOT, Bench
from gen import CorpusSize

QUERIES = (
    "minhash_jaccard_neardup",
    "semantic_dedup_cells",
    "dup_span_profile",
    "tfidf_top_terms",
)
SIZE = CorpusSize()


def query_order(seed: int) -> list[str]:
    return [QUERIES[i] for i in np.random.default_rng([seed, 6]).permutation(len(QUERIES))]


def run_pass(bench: Bench, corpus_dir: str) -> dict:
    """Run every query once, each under its own job group and span; a
    failing query counts as a failed op. Returns the results (pandas
    frames) and timings."""
    from sport_data_pipeline_spark.plans import all_queries

    specs = all_queries()
    spark, tr = bench.spark, bench.tracer
    order = query_order(bench.seed)
    out = {"order": order, "results": {}, "query_s": {}, "fn_s": {}, "collect_s": {}}
    t_pass = time.perf_counter()
    with tr.span("pass", "pass"):
        for name in order:
            op = f"query-{name}"
            bench.count_op()
            try:
                with bench.job_group(op), tr.span(f"query.{name}", op):
                    t0 = time.perf_counter()
                    df = specs[name].fn(spark, corpus_dir)
                    t1 = time.perf_counter()
                    with tr.span("collect", op):
                        out["results"][name] = df.toPandas()
                    t2 = time.perf_counter()
            except Exception as exc:
                bench.fail(f"{op}: {exc!r}")
                continue
            out["query_s"][name], out["fn_s"][name], out["collect_s"][name] = t2 - t0, t1 - t0, t2 - t1
    out["pass_s"] = time.perf_counter() - t_pass
    return out


def oracle_mismatch(con, spec, got) -> str | None:
    """Why ``got`` (a pandas frame) differs from the spec's DuckDB oracle,
    or None when it matches exactly."""
    import pandas as pd

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import _normalize

    got = _normalize(got)
    want = _normalize(con.execute(spec.oracle).df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as exc:
        return str(exc)[:200]
    return None


def check_oracles(bench: Bench, paths: dict[str, str], results: dict) -> None:
    """Fail every result that differs from its registered DuckDB oracle."""
    import duckdb

    from sport_data_pipeline_spark.plans import all_queries

    specs = all_queries()
    con = duckdb.connect()
    try:
        for table, path in paths.items():
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for name, got in results.items():
            try:
                why = oracle_mismatch(con, specs[name], got)
            except Exception as exc:
                why = f"oracle check raised {exc!r}"
            if why:
                bench.fail(f"query-{name}: differs from its oracle: {why}")
    finally:
        con.close()


def detail(p: dict) -> dict:
    return {
        "corpus.docs": SIZE.docs,
        "corpus.vectors": SIZE.vectors,
        "corpus.order": p["order"],
        "corpus.pass_s": p["pass_s"],
        "corpus.docs_per_s": SIZE.docs / p["pass_s"],
        **{f"corpus.query_s.{n}": p["query_s"].get(n) for n in QUERIES},
        # inside the registered function: plan build, plus the eager index
        # writes and checkpoints some queries run there
        **{f"corpus.fn_s.{n}": p["fn_s"].get(n) for n in QUERIES},
        "corpus.result_rows": {n: len(r) for n, r in p["results"].items()},
    }
