"""``daily_ingest``: the nightly batch — the bronze → silver → report
routine, then the corpus-prep pass.

Set-up writes day 0, the initial load, straight to silver parquet from the
latest-wins model (the state earlier runs of the daily job left). The
routine runs once a day in a fresh process, so a run measures one day,
day 1, cold: it pays plan compilation as the scheduled job does (about
half its time on a 4-core box). The day lands its scraped JSON records
(``sources.bronze.land_records``), routes and merges them into parquet
silver (``pipeline.ingest_bronze_batch`` with a ``team_scraper → teams``
route added) and renders the daily report
(``pipeline.run_daily_analytics``).
``merge_write`` rewrites every touched silver table in full, so a day's
cost follows silver size rather than the day's input. What the day wrote
is measured from the files: the parquet files under silver that are new
or changed after the day, their bytes and footer row counts.

After the day, in the same process, the corpus-prep pass runs the
registered dedup queries over a seeded corpus (``corpus_pass``).

Correctness: silver must equal the Python latest-wins model of every
record generated, re-ingesting the last day must change nothing, and every
corpus query must equal its registered DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
from decimal import Decimal

import corpus_pass
from common import Bench, parquet_bytes, parquet_files, parquet_rows, written_files
from gen import DailyFeed, write_corpus

FIRST_DAY = 8_000
PER_DAY = 6_000
ROUTES = DailyFeed.ROUTES


def _json_value(v):
    """A collected silver value in the form the generator wrote it."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def write_initial_silver(root: str, feed: DailyFeed) -> None:
    """Write the model's tables as the pipeline lays them out: the silver
    schema's columns the records carry, plus ``ingested_at`` of day 0."""
    import pyarrow as pa

    from gen import write_parquet
    from sport_data_pipeline_spark.schemas import SILVER_TABLES

    def arrow_type(t):
        name = t.typeName()
        if name == "decimal":
            return pa.decimal128(t.precision, t.scale)
        return {"long": pa.int64(), "integer": pa.int32(), "string": pa.string(),
                "double": pa.float64(), "date": pa.date32(),
                "timestamp": pa.timestamp("us", tz="UTC")}[name]

    def arrow_value(v, typ):
        if v is None:
            return None
        if pa.types.is_date32(typ):
            return dt.date.fromisoformat(v)
        if pa.types.is_timestamp(typ):
            return dt.datetime.strptime(v, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
        if pa.types.is_decimal(typ):
            return Decimal(v)
        return v

    at = DailyFeed.ingested_at(0)
    for table, rows in feed.model.items():
        present = set(next(iter(rows.values())))
        fields = [f for f in SILVER_TABLES[table].fields if f.name in present]
        cols = {}
        for f in fields:
            typ = arrow_type(f.dataType)
            cols[f.name] = pa.array([arrow_value(r[f.name], typ) for r in rows.values()], typ)
        cols["ingested_at"] = pa.array([at] * len(rows), pa.timestamp("us", tz="UTC"))
        write_parquet(pa.table(cols), os.path.join(root, table, "part-00000.parquet"))


def _silver_rows(store, table: str, cols: list[str] | None = None) -> list[tuple]:
    """A silver table's rows read with DuckDB (no Spark jobs), sorted."""
    import duckdb

    sel = ", ".join(cols) if cols else "*"
    con = duckdb.connect()
    try:
        cur = con.execute(f"SELECT {sel} FROM read_parquet('{store.path(table)}/*.parquet')")
        return sorted(cur.fetchall(), key=repr)
    finally:
        con.close()


def check_model(store, feed: DailyFeed) -> list[str]:
    """Differences between silver and the latest-wins model."""
    from sport_data_pipeline_spark.schemas import MERGE_KEYS

    problems: list[str] = []
    for table, want in feed.model.items():
        if not os.path.isdir(store.path(table)):
            problems.append(f"{table}: missing")
            continue
        keys = MERGE_KEYS[table]
        cols = sorted(next(iter(want.values())))
        got = {}
        for r in _silver_rows(store, table, cols):
            row = {c: _json_value(v) for c, v in zip(cols, r)}
            got[tuple(row[k] for k in keys)] = row
        if len(got) != len(want):
            problems.append(f"{table}: {len(got)} rows, model {len(want)}")
        bad = [k for k, row in want.items() if got.get(k) != row]
        if bad:
            k = bad[0]
            problems.append(f"{table}: {len(bad)} rows differ, e.g. {k}: {got.get(k)} != {want[k]}")
    return problems


def run(bench: Bench) -> dict:
    from sport_data_pipeline_spark.pipeline import (
        SilverStore,
        ingest_bronze_batch,
        run_daily_analytics,
    )
    from sport_data_pipeline_spark.sources.bronze import land_records

    feed = DailyFeed(bench.seed)
    root = os.path.join(bench.work, "silver")
    days: list[list[tuple[str, str]]] = []

    corpus_dir = os.path.join(bench.work, "corpus")
    corpus: dict[str, str] = {}

    def generate() -> None:
        days.append(feed.day(0, FIRST_DAY))
        write_initial_silver(root, feed)
        days.append(feed.day(1, PER_DAY))  # the model now ends at day 1
        corpus.update(write_corpus(bench.seed, corpus_dir, corpus_pass.SIZE))

    gen_thread = threading.Thread(target=generate)
    gen_thread.start()  # overlaps the JVM launch
    spark = bench.start_session()
    gen_thread.join()
    store = SilverStore(spark, root)
    tr = bench.tracer

    # set-up ends with one warm-up op: the silver tables' schema scan
    with bench.job_group("warmup"):
        for t in ROUTES.values():
            store.read(t).schema
    setup_s = time.perf_counter() - bench.t_start
    bench.spark_counts.clear()

    # -- the measured day ------------------------------------------------
    records, at, op = days[1], DailyFeed.ingested_at(1), "day-1"
    before = parquet_files(root)
    bench.count_op()
    try:
        with bench.job_group(op), tr.span("day", op):
            t0 = time.perf_counter()
            with tr.span("bronze.land_records", op):
                bronze = land_records(spark, records, at)
            t1 = time.perf_counter()
            with tr.span("pipeline.ingest_bronze_batch", op):
                ingest_bronze_batch(store, bronze, routing=ROUTES)
            t2 = time.perf_counter()
            with tr.span("pipeline.run_daily_analytics", op):
                report = run_daily_analytics(store, as_of_date=dt.date(2026, 1, 2))
            t3 = time.perf_counter()
    except Exception as exc:
        raise RuntimeError(f"{op} failed: {exc!r}") from exc
    if "<h2>top_performers</h2>" not in report["html"]:
        bench.fail(f"{op}: the daily report lacks the top performers section")
    day_s = t3 - t0
    written = written_files(before, parquet_files(root))
    bytes_written = sum(os.path.getsize(p) for p in written)
    rows_written = sum(parquet_rows(p) for p in written)
    bronze_bytes = sum(len(j) for _, j in records)
    bytes_live = parquet_bytes(root)

    # -- the corpus-prep pass ----------------------------------------------
    cp = corpus_pass.run_pass(bench, corpus_dir)

    # -- correctness: silver equals the latest-wins model of days 0 and 1 --
    t_check = time.perf_counter()
    bench.count_op()
    try:
        for p in check_model(store, feed):
            bench.fail(f"model: {p}")
    except Exception as exc:
        bench.fail(f"model check: {exc!r}")

    model_check_s = time.perf_counter() - t_check

    # idempotency: re-ingesting the day changes nothing
    bench.count_op()
    try:
        before_rows = {t: _silver_rows(store, t) for t in ROUTES.values()}
        ingest_bronze_batch(store, land_records(spark, records, at), routing=ROUTES)
        changed = [t for t in ROUTES.values() if _silver_rows(store, t) != before_rows[t]]
        if changed:
            bench.fail(f"re-ingest of day 1 changed silver tables {changed}")
    except Exception as exc:
        bench.fail(f"idempotency check: {exc!r}")
    check_s = time.perf_counter() - t_check
    corpus_pass.check_oracles(bench, corpus, cp["results"])
    oracle_s = time.perf_counter() - t_check - check_s

    return {
        "setup_s": setup_s,
        "latency_p50_s": day_s,
        "latency_tail_s": day_s,
        "latency_tail_pct": 50.0,
        "latency_samples": 1,
        # the corpus-prep pass: corpus documents per second of its wall time
        "throughput_per_s": corpus_pass.SIZE.docs / cp["pass_s"],
        "layer": {"prepare_s": t1 - t0, "execute_s": t3 - t1},
        "detail": {
            "daily.day_s": day_s,
            "daily.records": len(records),
            "daily.rows_per_s": len(records) / day_s,
            "daily.write_amp": bytes_written / bronze_bytes,
            "daily.check_s": check_s,
            "daily.model_check_s": model_check_s,
            "corpus.oracle_check_s": oracle_s,
            "bronze.json_bytes": bronze_bytes,
            "bronze.land_s": t1 - t0,
            "pipeline.ingest_s": t2 - t1,
            "pipeline.analytics_s": t3 - t2,
            "silver.files_written": len(written),
            "silver.bytes_written": bytes_written,
            "silver.rows_written": rows_written,
            "silver.bytes_live": bytes_live,
            # every record of a day inserts or changes one silver row: keys
            # are unique within a day and a re-scrape carries a new
            # ingested_at
            "silver.rows_written_per_row_changed": rows_written / len(records),
            **corpus_pass.detail(cp),
        },
    }
