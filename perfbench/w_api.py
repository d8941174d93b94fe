"""``api_serve``: analytics requests served to API clients.

Open loop first, for the run's measured seconds: Poisson arrivals at
``OFFERED_RPS`` (about half the closed-loop saturation rate measured on a
4-core box), served by at most ``WORKERS`` threads, each request timed from
its due time. A closed loop of ``WORKERS`` clients then serves a fixed
block of ``CLOSED_REQUESTS`` requests; requests per client-busy second is
the saturated rate. Every request is an engine method over a silver catalog
written once at set-up, wrapped by ``reports.api_envelope``: the serving
path of the reference's FastAPI layer.

Set-up ends with a warm-up pass serving every request kind once, first
concurrently (plan compilation), then single-client. Correctness: those
``get_top_performers`` and ``standings`` pages must equal a DuckDB SQL
reference over the same parquet, and every measured request must equal the
warm-up result for the same (method, params).
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import numpy as np

from common import Bench, median, tail_percentile
from gen import AS_OF, CatalogSize, write_catalog

OFFERED_RPS = 2.0
WORKERS = 4
CLOSED_REQUESTS = 16
LATENCY_LIMIT_S = 5.0
ZIPF_S = 1.1

#: (method, params) request kinds, served in a Zipf-skewed mix, so repeated
#: pairs exist for a future plan/result cache to hit.
#: ``get_top_performers`` always carries a season: with season=None one
#: player can tie with itself across seasons and the page is not unique.
KINDS: tuple[tuple[str, tuple], ...] = (
    ("standings", (("season", "2025"),)),
    ("get_top_performers", (("season", "2025"), ("limit", 20))),
    ("team_form", (("last_n", 5),)),
    ("latest_market_values", ()),
    ("head_to_head", ()),
    ("get_top_performers", (("season", "2024"), ("limit", 50))),
    ("odds_movement", ()),
    ("generate_league_analytics", (("season", "2024"),)),
)
PAGE_LIMITS = (25, 100)

#: Sort keys that make each section's page deterministic.
PAGE_ORDER = {
    "team_form": ("team_id",),
    "head_to_head": ("team_a", "team_b"),
    "standings": ("position",),
    "odds_movement": ("match_id", "bookmaker", "market", "outcome"),
    "latest_market_values": ("player_id",),
    "summary": (),
}


def request_block(seed: int, phase: int, n: int) -> list[tuple[int, int]]:
    """``n`` (kind index, page limit) requests with a Zipf-skewed mix.

    Kinds are apportioned to ``n`` by largest remainder of their Zipf
    weights and put in one fixed order per phase; the seed draws each
    request's page limit (and, through the catalog, the data). Like the
    fixed arrival pattern, this keeps which requests overlap the same from
    seed to seed, so the seed varies what is served, not the contention."""
    w = 1.0 / np.arange(1, len(KINDS) + 1) ** ZIPF_S
    quota = w / w.sum() * n
    counts = np.floor(quota).astype(int)
    for i in np.argsort(counts - quota)[: n - counts.sum()]:
        counts[i] += 1
    kinds = np.random.default_rng([10, phase]).permutation(np.repeat(np.arange(len(KINDS)), counts))
    limits = np.random.default_rng([seed, 10, phase]).integers(0, len(PAGE_LIMITS), n)
    return [(int(k), PAGE_LIMITS[int(i)]) for k, i in zip(kinds, limits)]


def arrivals(rate: float, horizon: float) -> list[float]:
    """Poisson due times (seconds from phase start) within ``horizon``,
    conditioned on their count being ``rate * horizon``: given the count,
    Poisson arrival times are sorted uniform draws. One fixed realization
    for every seed, so seeds differ in data and page sizes, not in how
    requests bunch up."""
    rng = np.random.default_rng(11)
    return sorted(float(t) for t in rng.uniform(0.0, horizon, round(rate * horizon)))


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")  # partial-aggregate merge order moves the last bits
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def page(rows: list[dict]) -> list:
    """A page as comparable data: normalized rows, columns sorted by name."""
    return [_norm(dict(r)) for r in rows]


class ApiServer:
    """The serving path: engine method → deterministic page order →
    ``reports.api_envelope`` per section."""

    def __init__(self, bench: Bench, catalog: dict[str, str]):
        from sport_data_pipeline_spark.engine import SportsAnalyticsEngine

        spark = bench.spark
        self.bench = bench
        tables = {name: spark.read.parquet(path) for name, path in catalog.items()}
        self.engine = SportsAnalyticsEngine(tables, AS_OF)
        self.plan_s: list[float] = []
        self.envelope_s: list[float] = []
        self.rows: list[int] = []
        self.by_kind: dict[int, list[float]] = {}

    def serve(self, kind: int, limit: int, op: str) -> dict[str, list]:
        """Serve one request; returns {section: page}."""
        from sport_data_pipeline_spark.reports import api_envelope

        method, params = KINDS[kind]
        tr = self.bench.tracer
        t0 = time.perf_counter()
        with tr.span(f"engine.{method}", op):
            out = getattr(self.engine, method)(**dict(params))
        t1 = time.perf_counter()
        sections = out if isinstance(out, dict) else {method: out}
        pages, n_rows = {}, 0
        with tr.span("reports.api_envelope", op):
            for name, df in sections.items():
                order = PAGE_ORDER.get(name, ())
                body = api_envelope(df.orderBy(*order) if order else df, limit)
                pages[name] = page(body["data"])
                n_rows += body["row_count"]
        t2 = time.perf_counter()
        self.plan_s.append(t1 - t0)
        self.envelope_s.append(t2 - t1)
        self.rows.append(n_rows)
        self.by_kind.setdefault(kind, []).append(t2 - t0)
        return pages


def duckdb_reference(catalog: dict[str, str], kind: int, limit: int) -> dict[str, list] | None:
    """DuckDB SQL pages for get_top_performers and standings."""
    import duckdb

    method, params = KINDS[kind]
    p = dict(params)
    con = duckdb.connect()
    try:
        for name, path in catalog.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        if method == "get_top_performers":
            a, b = f"DATE '{AS_OF.isoformat()}'", "p.birth_date"
            months = (
                f"((year({a}) - year({b})) * 12 + (month({a}) - month({b})) + "
                f"CASE WHEN day({a}) = day({b}) OR ({a} = last_day({a}) AND {b} = last_day({b})) "
                f"THEN 0 ELSE (day({a}) - day({b})) / 31.0 END)"
            )
            season = f"AND s.season = '{p['season']}'" if p.get("season") else ""
            sql = f"""
                SELECT p.player_id, concat_ws(' ', p.first_name, p.last_name) AS player_name,
                       t.name AS team_name, p.position,
                       CAST(floor(round({months}, 8) / 12) AS INTEGER) AS age,
                       s.matches_played, s.goals, s.assists,
                       s.goals + s.assists AS goal_contributions,
                       CASE WHEN s.matches_played <> 0
                            THEN CAST(s.goals + s.assists AS DOUBLE) / s.matches_played
                            ELSE 0.0 END AS contributions_per_match
                FROM players p JOIN season_player_stats s USING (player_id)
                JOIN teams t ON s.team_id = t.team_id
                WHERE s.matches_played >= 1 {season}
                ORDER BY goal_contributions DESC, p.player_id ASC
                LIMIT {min(limit, p['limit'])}"""
        elif method == "standings":
            season = f"AND season = '{p['season']}'" if p.get("season") else ""
            sql = f"""
                WITH m AS (SELECT * FROM matches WHERE status = 'finished' {season}),
                persp AS (SELECT home_team_id AS team_id, home_score AS gf, away_score AS ga FROM m
                          UNION ALL
                          SELECT away_team_id, away_score, home_score FROM m),
                t AS (SELECT team_id, count(*) AS played,
                             sum(CASE WHEN gf > ga THEN 1 ELSE 0 END) AS won,
                             sum(CASE WHEN gf = ga THEN 1 ELSE 0 END) AS drawn,
                             sum(CASE WHEN gf < ga THEN 1 ELSE 0 END) AS lost,
                             sum(gf) AS goals_for, sum(ga) AS goals_against
                      FROM persp GROUP BY team_id)
                SELECT team_id, played, won, drawn, lost, goals_for, goals_against,
                       won * 3 + drawn AS points, goals_for - goals_against AS goal_diff,
                       row_number() OVER (ORDER BY won * 3 + drawn DESC,
                           goals_for - goals_against DESC, goals_for DESC, team_id ASC) AS position
                FROM t ORDER BY position LIMIT {limit}"""
        else:
            return None
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = [dict(zip(cols, r)) for r in cur.fetchall()]
        return {method: page(rows)}
    finally:
        con.close()


def run(bench: Bench) -> dict:
    gen_done: dict[str, dict] = {}
    catalog_dir = os.path.join(bench.work, "catalog")
    gen_thread = threading.Thread(
        target=lambda: gen_done.update(catalog=write_catalog(bench.seed, catalog_dir, CatalogSize()))
    )
    gen_thread.start()  # overlaps the JVM launch
    bench.start_session()
    gen_thread.join()
    catalog = gen_done["catalog"]
    server = ApiServer(bench, catalog)

    # Set-up ends with two passes over the request kinds at the largest page
    # size. The first serves them WORKERS at a time and compiles every plan;
    # the second is single-client, and its pages are the reference every
    # measured request must match (a smaller page is a prefix), checked
    # against DuckDB where a SQL reference exists. With the first pass
    # alone, the JVM was still warming up during the open loop, and the
    # median latency spread 22% over five runs.
    top = max(PAGE_LIMITS)
    with ThreadPoolExecutor(max_workers=WORKERS) as pool:
        futures = {k: pool.submit(server.serve, k, top, "compile") for k in range(len(KINDS))}
    for kind, f in futures.items():
        bench.count_op()
        if f.exception() is not None:
            bench.fail(f"compile pass {KINDS[kind]}: {f.exception()!r}")
    expected: dict[int, dict[str, list]] = {}
    for kind in range(len(KINDS)):
        bench.count_op()
        try:
            expected[kind] = server.serve(kind, top, "warmup")
        except Exception as exc:
            bench.fail(f"warm-up {KINDS[kind]}: {exc!r}")
    setup_s = time.perf_counter() - bench.t_start
    refs_checked = 0
    for kind in list(expected):
        ref = duckdb_reference(catalog, kind, top)
        if ref is not None:
            refs_checked += 1
            if ref != expected[kind]:
                bench.fail(f"{KINDS[kind]}: differs from the DuckDB reference")
                expected[kind] = ref
    server.plan_s.clear()
    server.envelope_s.clear()
    server.rows.clear()
    server.by_kind.clear()

    results: list[tuple[str, int, int, dict]] = []
    lock = threading.Lock()

    def handle(kind: int, limit: int, op: str) -> bool:
        bench.count_op()
        try:
            with bench.job_group(op), bench.tracer.span("request", op):
                got = server.serve(kind, limit, op)
        except Exception as exc:
            bench.fail(f"{op} {KINDS[kind]}: {exc!r}")
            return False
        results.append((op, kind, limit, got))
        return True

    # -- open loop ------------------------------------------------------
    dues = arrivals(OFFERED_RPS, bench.seconds)
    open_requests = request_block(bench.seed, 0, len(dues))
    latency: list[float] = []
    queue_wait: list[float] = []
    late: list[float] = []
    missed = 0

    def timed(due_abs: float, kind: int, limit: int, op: str) -> None:
        nonlocal missed
        start = time.perf_counter()
        ok = handle(kind, limit, op)
        end = time.perf_counter()
        with lock:
            queue_wait.append(start - due_abs)
            if ok:
                latency.append(end - due_abs)
            if not ok or end - due_abs > LATENCY_LIMIT_S:
                missed += 1

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=WORKERS) as pool:
        futures = []
        for i, due in enumerate(dues):
            due_abs = t0 + due
            delay = due_abs - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            late.append(max(0.0, time.perf_counter() - due_abs))
            kind, limit = open_requests[i]
            futures.append(pool.submit(timed, due_abs, kind, limit, f"open-{i}"))
        for f in futures:
            f.result()
    open_wall = time.perf_counter() - t0

    # -- closed loop ----------------------------------------------------
    # Saturated rate: requests over client-busy time per client, so the
    # tail where some clients have run out of requests does not count.
    closed = request_block(bench.seed, 1, CLOSED_REQUESTS)
    done = [0]
    busy = [0.0]

    def client(c: int) -> None:
        while True:
            with lock:
                if not closed:
                    return
                kind, limit = closed.pop()
            t = time.perf_counter()
            ok = handle(kind, limit, f"closed-{c}-{len(closed)}")
            with lock:
                busy[0] += time.perf_counter() - t
                done[0] += ok

    t1 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=WORKERS) as pool:
        for f in [pool.submit(client, c) for c in range(WORKERS)]:
            f.result()
    closed_wall = time.perf_counter() - t1
    saturated_rps = done[0] / (busy[0] / WORKERS)

    warm_service = {f"{KINDS[k][0]}{dict(KINDS[k][1])}": median(v)
                    for k, v in sorted(server.by_kind.items())}
    layer = {"prepare_s": median(server.plan_s), "execute_s": median(server.envelope_s)}
    rows_returned = sum(server.rows)

    for op, kind, limit, got in results:
        want = expected.get(kind)
        if want is not None and got != {name: rows[:limit] for name, rows in want.items()}:
            bench.fail(f"{op} {KINDS[kind]} limit={limit}: differs from the warm-up result")
            missed += op.startswith("open-")

    pct, tail, n = tail_percentile(latency) if latency else (50.0, LATENCY_LIMIT_S, 0)
    return {
        "setup_s": setup_s,
        "latency_p50_s": median(latency) if latency else LATENCY_LIMIT_S,
        "latency_tail_s": tail,
        "latency_tail_pct": pct,
        "latency_samples": n,
        "throughput_per_s": saturated_rps,
        "layer": layer,
        "detail": {
            "api.latency_p50_s": median(latency) if latency else None,
            "api.latency_tail_s": tail,
            "api.latency_tail_percentile": pct,
            "api.latency_samples": n,
            "api.latency_limit_s": LATENCY_LIMIT_S,
            "api.missed_limit": missed,
            "api.offered_rps": OFFERED_RPS,
            "api.open_requests": len(dues),
            "api.open_wall_s": open_wall,
            "api.saturated_rps": saturated_rps,
            "api.closed_wall_s": closed_wall,
            "api.open_latencies_s": sorted(latency),
            "api.closed_requests": done[0],
            "engine.plan_s": layer["prepare_s"],
            "reports.envelope_s": layer["execute_s"],
            "api.queue_wait_s": median(queue_wait) if queue_wait else None,
            "api.generator_late_s": max(late) if late else 0.0,
            "api.rows_returned": rows_returned,
            "api.duckdb_references": refs_checked,
            "api.service_s_by_kind": warm_service,
        },
    }
