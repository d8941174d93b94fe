"""Seeded input generators for the benchmark workloads.

Everything here is pure Python + numpy + pyarrow: no Spark. The same seed
always yields byte-identical files and identical record lists (pinned by
``test_perfbench.py``), so two runs with one seed measure the same inputs.

- ``write_catalog``: the silver tables the API workload serves.
- ``DailyFeed``: scraped bronze JSON records per day, part of them
  re-scrapes of keys seen on earlier days, plus the latest-wins model of
  what silver must hold afterwards.
- ``TickFeed``: live-score tick files with tz-aware ``scraped_at`` and the
  latest-wins model of the live target.
- ``write_corpus``: the ``documents`` and ``embeddings`` tables the corpus
  dedup queries read.
"""

from __future__ import annotations

import datetime as dt
import io
import json
import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
AS_OF = dt.date(2026, 1, 1)
SEASONS = ("2022", "2023", "2024", "2025")
POSITION_TERMS = ("goalkeeper", "keeper", "defender", "centre back", "left back",
                  "midfielder", "central midfield", "forward", "striker", "winger")
FEET = ("left", "right", "both")
COUNTRIES = ("DE", "EN", "ES", "FR", "IT", "NL", "PT", "BR", "AR", "US")
FIRST = ("Alex", "Ben", "Carl", "Dani", "Emil", "Finn", "Gabe", "Hugo", "Ivan", "Jon",
         "Karl", "Luis", "Marc", "Nico", "Omar", "Paul", "Rui", "Sam", "Tim", "Yann")
LAST = ("Adler", "Berg", "Costa", "Diaz", "Evans", "Fuchs", "Garcia", "Hahn", "Ito",
        "Jensen", "Klein", "Lopez", "Meyer", "Novak", "Ortiz", "Petit", "Rossi",
        "Silva", "Torres", "Weber")
BOOKMAKERS = ("b365", "pinnacle", "unibet", "bwin")
MARKETS = (("1x2", ("home", "draw", "away")), ("ou25", ("over", "under")))
STATUSES = ("finished",) * 9 + ("scheduled",)


def write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic single-file parquet write (no wall-clock metadata)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _utc(ts: np.ndarray) -> pa.Array:
    """int64 microseconds since epoch → tz-aware UTC timestamp array."""
    return pa.array(ts.astype("int64"), pa.timestamp("us", tz="UTC"))


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int32"), pa.date32())


def _money(units: np.ndarray) -> pa.Array:
    """Whole-euro amounts as decimal(14,2)."""
    return pa.array([Decimal(int(v)) for v in units], pa.decimal128(14, 2))


def _pick(rng: np.random.Generator, choices: tuple[str, ...], n: int) -> list[str]:
    return [choices[i] for i in rng.integers(0, len(choices), n)]


# -- API catalog ------------------------------------------------------------


@dataclass(frozen=True)
class CatalogSize:
    teams: int = 100
    players: int = 6_000
    matches: int = 3_000
    odds_matches: int = 300
    ticks_per_odds_key: int = 8


def write_catalog(seed: int, root: str, size: CatalogSize = CatalogSize()) -> dict[str, str]:
    """Write the silver tables the engine serves; returns {table: path}."""
    rng = np.random.default_rng([seed, 1])
    paths: dict[str, str] = {}

    def put(name: str, table: pa.Table) -> None:
        paths[name] = os.path.join(root, f"{name}.parquet")
        write_parquet(table, paths[name])

    nt, npl, nm = size.teams, size.players, size.matches
    team_ids = np.arange(1, nt + 1, dtype=np.int64)
    put("teams", pa.table({
        "team_id": team_ids,
        "name": [f"Club {i:04d}" for i in team_ids],
        "short_name": [f"C{i:04d}" for i in team_ids],
        "country": _pick(rng, COUNTRIES, nt),
        "sport": ["football"] * nt,
        "team_type": ["club"] * nt,
        "founded_year": rng.integers(1870, 2010, nt).astype("int32"),
        "venue_id": team_ids + 10_000,
    }))

    pids = np.arange(1, npl + 1, dtype=np.int64)
    first = _pick(rng, FIRST, npl)
    last = _pick(rng, LAST, npl)
    birth = (AS_OF - dt.date(1970, 1, 1)).days - rng.integers(17 * 365, 38 * 365, npl)
    player_team = rng.integers(1, nt + 1, npl).astype("int64")
    put("players", pa.table({
        "player_id": pids,
        "first_name": first,
        "last_name": last,
        "full_name": [f"{a} {b}" for a, b in zip(first, last)],
        "birth_date": _dates(birth),
        "nationality": _pick(rng, COUNTRIES, npl),
        "position": _pick(rng, ("GK", "DF", "MF", "FW"), npl),
        "preferred_foot": _pick(rng, FEET, npl),
        "height_cm": rng.integers(165, 200, npl).astype("int32"),
        "market_value": _money(rng.integers(1, 800, npl) * 100_000),
        "current_team_id": player_team,
    }))

    # each player has stats in 1..4 consecutive seasons, with the last team
    rows_pid, rows_team, rows_season = [], [], []
    n_seasons = rng.integers(1, len(SEASONS) + 1, npl)
    for pid, team, k in zip(pids, player_team, n_seasons):
        for s in SEASONS[len(SEASONS) - k:]:
            rows_pid.append(pid)
            rows_team.append(team)
            rows_season.append(s)
    ns = len(rows_pid)
    played = rng.integers(0, 39, ns)
    put("season_player_stats", pa.table({
        "player_id": np.array(rows_pid, dtype=np.int64),
        "team_id": np.array(rows_team, dtype=np.int64),
        "season": rows_season,
        "matches_played": played.astype("int32"),
        "goals": (rng.binomial(played, 0.12)).astype("int32"),
        "assists": (rng.binomial(played, 0.09)).astype("int32"),
        "minutes_played": (played * rng.integers(20, 91, ns)).astype("int32"),
        "yellow_cards": rng.integers(0, 10, ns).astype("int32"),
        "red_cards": rng.integers(0, 2, ns).astype("int32"),
        "xg": np.round(rng.random(ns) * 20, 3),
        "scraped_at": _utc(np.full(ns, 1_700_000_000_000_000)),
    }))

    home = rng.integers(1, nt + 1, nm)
    away = (home + rng.integers(1, nt, nm) - 1) % nt + 1  # never equal to home
    season_idx = rng.integers(0, len(SEASONS), nm)
    kick = np.array([
        (dt.datetime(int(SEASONS[s]), 8, 1, tzinfo=UTC).timestamp()) for s in season_idx
    ]) * 1_000_000 + rng.integers(0, 280 * 86_400, nm) * 1_000_000
    put("matches", pa.table({
        "match_id": np.arange(1, nm + 1, dtype=np.int64),
        "competition_id": np.ones(nm, dtype=np.int64),
        "season": [SEASONS[s] for s in season_idx],
        "matchday": rng.integers(1, 39, nm).astype("int32"),
        "match_date": _utc(kick),
        "home_team_id": home.astype("int64"),
        "away_team_id": away.astype("int64"),
        "status": _pick(rng, STATUSES, nm),
        "home_score": rng.poisson(1.5, nm).astype("int32"),
        "away_score": rng.poisson(1.1, nm).astype("int32"),
        "scraped_at": _utc(np.full(nm, 1_700_000_000_000_000)),
    }))

    o_match, o_book, o_market, o_outcome, o_price, o_ts = [], [], [], [], [], []
    base = 1_700_000_000 * 1_000_000
    for m in range(1, size.odds_matches + 1):
        for book in BOOKMAKERS:
            for market, outcomes in MARKETS:
                for outcome in outcomes:
                    k = size.ticks_per_odds_key
                    o_match += [m] * k
                    o_book += [book] * k
                    o_market += [market] * k
                    o_outcome += [outcome] * k
                    o_price += list(rng.integers(10_100, 90_000, k))
                    o_ts += list(base + m * 86_400_000_000 + np.arange(k) * 600_000_000)
    no = len(o_match)
    put("odds_ticks", pa.table({
        "match_id": np.array(o_match, dtype=np.int64),
        "bookmaker": o_book,
        "market": o_market,
        "outcome": o_outcome,
        "price_type": ["live"] * no,
        "price": pa.array([Decimal(int(p)).scaleb(-4) for p in o_price], pa.decimal128(10, 4)),
        "ts": _utc(np.array(o_ts)),
    }))

    nv = npl * 3
    mv_pid = np.repeat(pids, 3)
    mv_day = (dt.date(2023, 1, 1) - dt.date(1970, 1, 1)).days + np.tile([0, 180, 360], npl)
    put("market_values", pa.table({
        "player_id": mv_pid,
        "valuation_date": _dates(mv_day),
        "market_value": _money(rng.integers(1, 800, nv) * 100_000),
        "source": ["tm"] * nv,
    }))
    return paths


# -- daily bronze feed -------------------------------------------------------


def _iso(ts_us: int) -> str:
    return dt.datetime.fromtimestamp(ts_us / 1e6, UTC).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


@dataclass
class DailyFeed:
    """Scraped bronze records, one batch per day.

    Records split evenly over teams, players, matches and season stats. A
    ``rescrape`` share of them re-scrape keys landed on earlier days with
    changed values, the rest are new keys; within one day every key appears
    once, so latest-wins is decided by the day's ``ingested_at`` alone.
    ``model`` accumulates what silver must hold: {table: {key: row-dict}},
    with its own copy of the position term map as the reference.
    """

    seed: int
    rescrape: float = 0.6
    model: dict[str, dict[tuple, dict]] = field(default_factory=dict)
    _next: dict[str, int] = field(default_factory=dict)

    ROUTES = {
        "team_scraper": "teams",
        "squad_scraper": "players",
        "match_scraper": "matches",
        "stats_scraper": "season_player_stats",
    }
    TERM = {"goalkeeper": "GK", "keeper": "GK", "defender": "DF", "centre back": "DF",
            "left back": "DF", "midfielder": "MF", "central midfield": "MF",
            "forward": "FW", "striker": "FW", "winger": "FW"}

    @staticmethod
    def ingested_at(day: int) -> dt.datetime:
        return dt.datetime(2026, 1, 1, 6, tzinfo=UTC) + dt.timedelta(days=day)

    def day(self, day: int, n: int) -> list[tuple[str, str]]:
        """Day ``day``'s ``n`` (scraper_name, json) records; updates ``model``.
        Days must be generated in order."""
        rng = np.random.default_rng([self.seed, 2, day])
        out: list[tuple[str, str]] = []
        per = n // len(self.ROUTES)
        for scraper, table in self.ROUTES.items():
            seen = self.model.setdefault(table, {})
            n_old = min(int(per * self.rescrape), len(seen)) if day else 0
            start = self._next.get(table, 1)
            new_ids = list(range(start, start + per - n_old))
            self._next[table] = start + per - n_old
            if n_old:
                old_keys = sorted(seen)
                picks = rng.choice(len(old_keys), n_old, replace=False)
                ids = [old_keys[i][0] for i in sorted(picks)] + new_ids
            else:
                ids = new_ids
            for i in ids:
                row = self._row(table, i, rng)
                out.append((scraper, json.dumps(row, separators=(",", ":"))))
                key = (i,) if table != "season_player_stats" else (i, row["team_id"], row["season"])
                model_row = dict(row)
                if table == "players":
                    model_row["position"] = self.TERM[row["position"]]
                seen[key] = model_row
        return out

    def _row(self, table: str, i: int, rng: np.random.Generator) -> dict:
        r = lambda lo, hi: int(rng.integers(lo, hi))  # noqa: E731
        if table == "teams":
            return {"team_id": i, "name": f"Club {i:05d}", "short_name": f"C{i}",
                    "country": COUNTRIES[r(0, len(COUNTRIES))], "sport": "football",
                    "team_type": "club", "founded_year": r(1870, 2010)}
        if table == "players":
            fn, ln = FIRST[r(0, len(FIRST))], LAST[r(0, len(LAST))]
            bd = dt.date(1988, 1, 1) + dt.timedelta(days=r(0, 6000))
            return {"player_id": i, "first_name": fn, "last_name": ln,
                    "full_name": f"{fn} {ln}", "birth_date": bd.isoformat(),
                    "nationality": COUNTRIES[r(0, len(COUNTRIES))],
                    "position": POSITION_TERMS[r(0, len(POSITION_TERMS))],
                    "preferred_foot": FEET[r(0, 3)], "height_cm": r(165, 200),
                    "market_value": r(1, 800) * 100_000,
                    "current_team_id": r(1, 400)}
        if table == "matches":
            home = r(1, 400)
            kick = 1_735_700_000_000_000 + r(0, 300 * 86_400) * 1_000_000
            return {"match_id": i, "competition_id": 1, "season": "2025",
                    "matchday": r(1, 39), "match_date": _iso(kick),
                    "home_team_id": home, "away_team_id": home % 399 + 1,
                    "status": STATUSES[r(0, len(STATUSES))],
                    "home_score": r(0, 6), "away_score": r(0, 5),
                    "scraped_at": _iso(kick + 7_200_000_000)}
        played = r(0, 39)
        # a player's stats key stays (player, team, season) across re-scrapes
        return {"player_id": i, "team_id": i % 397 + 1, "season": "2025",
                "matches_played": played, "goals": r(0, played + 1) // 3,
                "assists": r(0, played + 1) // 4, "minutes_played": played * r(20, 91),
                "yellow_cards": r(0, 10), "red_cards": r(0, 2),
                "xg": round(float(rng.random()) * 20, 3),
                "scraped_at": _iso(1_767_000_000_000_000 + i)}


# -- live ticks --------------------------------------------------------------

TICK_SCHEMA = pa.schema([
    ("match_id", pa.int64()),
    ("minute", pa.int32()),
    ("home_score", pa.int32()),
    ("away_score", pa.int32()),
    ("status", pa.string()),
    ("scraped_at", pa.timestamp("us", tz="UTC")),
])


@dataclass
class TickFeed:
    """Live-score tick files over ``n_keys`` live matches.

    File ``k`` holds ``ticks_per_file`` ticks whose ``scraped_at`` values
    are strictly increasing across the whole feed, so (match_id,
    scraped_at) is unique and no tick is behind the watermark; ``latest``
    is the latest-wins model of the live target: {match_id: row}."""

    seed: int
    n_keys: int
    ticks_per_file: int
    base_us: int = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
    latest: dict[int, tuple] = field(default_factory=dict)

    def table(self, k: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 3, k])
        n = self.ticks_per_file
        ids = rng.integers(1, self.n_keys + 1, n).astype("int64")
        ts = self.base_us + (k * n + np.arange(n)) * 1_000  # 1 ms apart
        minute = rng.integers(0, 95, n).astype("int32")
        hs = rng.integers(0, 6, n).astype("int32")
        aw = rng.integers(0, 5, n).astype("int32")
        status = ["live" if m < 90 else "finished" for m in minute]
        for row in zip(ids.tolist(), minute.tolist(), hs.tolist(), aw.tolist(), status, ts.tolist()):
            self.latest[row[0]] = row  # ts is increasing: last write wins
        return pa.table([ids, minute, hs, aw, status, _utc(ts)], schema=TICK_SCHEMA)

    def file_bytes(self, k: int) -> bytes:
        buf = io.BytesIO()
        pq.write_table(self.table(k), buf, compression="snappy")
        return buf.getvalue()


# -- dedup corpus ------------------------------------------------------------

WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window")
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh", "de", "es", "fr", "zh")


@dataclass(frozen=True)
class CorpusSize:
    docs: int = 500
    vectors: int = 500
    dim: int = 64
    labels: int = 10
    near_dup_share: float = 0.05


def corpus_docs(seed: int, size: CorpusSize = CorpusSize()) -> list[tuple[str, str, str]]:
    """(text, lang, source) of documents of 10-100 words over a 31-word
    vocabulary. A ``near_dup_share`` of them copy an earlier document with
    one word appended or the last word dropped, half of them in the
    original's (lang, source) block, which the dedup queries compare
    within. Near-duplicate trigram sets have Jaccard >= 0.77 while
    unrelated documents share almost no trigram: every pair is far from
    the queries' 0.5 and 0.7 thresholds, so MinHash-LSH finds exactly the
    pairs the all-pairs SQL oracles find."""
    rng = np.random.default_rng([seed, 4])
    docs: list[tuple[str, str, str]] = []
    for k in range(size.docs):
        lang, source = LANGS[int(rng.integers(0, len(LANGS)))], f"src{k % 20}"
        if k >= 10 and rng.random() < size.near_dup_share:
            text, base_lang, base_source = docs[int(rng.integers(0, k))]
            words = text.split()
            words = words + ["dup"] if rng.random() < 0.5 else words[:-1]
            if len(words) < 10:
                words = words + ["dup"] * (10 - len(words))
            if rng.random() < 0.5:
                lang, source = base_lang, base_source
        else:
            words = [WORDS[i] for i in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]
        docs.append((" ".join(words), lang, source))
    return docs


def write_corpus(seed: int, root: str, size: CorpusSize = CorpusSize()) -> dict[str, str]:
    """Write ``documents`` (doc_id, text, lang, source, n_chars) and
    ``embeddings`` (vec_id, unit-norm float vectors around ``labels``
    centroids, label); returns {table: path}."""
    rng = np.random.default_rng([seed, 5])
    docs = corpus_docs(seed, size)
    paths = {"documents": os.path.join(root, "documents.parquet"),
             "embeddings": os.path.join(root, "embeddings.parquet")}
    write_parquet(pa.table({
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "text": [d[0] for d in docs],
        "lang": [d[1] for d in docs],
        "source": [d[2] for d in docs],
        "n_chars": np.array([len(d[0]) for d in docs], dtype=np.int64),
    }), paths["documents"])
    nv, dim = size.vectors, size.dim
    centroids = rng.normal(0.0, 0.018, (size.labels, dim))
    labels = rng.integers(0, size.labels, nv)
    vecs = centroids[labels] + rng.normal(0.0, 0.125, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    write_parquet(pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    }), paths["embeddings"])
    return paths
