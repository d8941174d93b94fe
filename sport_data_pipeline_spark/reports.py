"""Report/serving edge (SURVEY.md §2.1 S15, §3.1 envelope).

The reference renders HTML player/league/transfer/weekly reports from
query results (src/analytics/reports.py:100-571) and wraps API responses
in an envelope with ``execution_time_ms`` (src/api/models.py:13-21).

Only this edge collects: every renderer takes the engine's lazy DataFrames,
collects the (small, already-aggregated) results, and formats driver-side.
"""

from __future__ import annotations

import time
from collections.abc import Mapping

from pyspark.sql import DataFrame


def _rows(df: DataFrame, limit: int = 100) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.limit(limit).collect()]


def render_report(sections: Mapping[str, DataFrame], title: str, limit: int = 100) -> str:
    """Multi-section report (league dashboard / transfer report shape)."""
    parts = [f"<html><head><title>{title}</title></head><body><h1>{title}</h1>"]
    for name, df in sections.items():
        rows = _rows(df, limit)
        cols = df.columns
        head = "".join(f"<th>{c}</th>" for c in cols)
        body = "".join(
            "<tr>" + "".join(f"<td>{r.get(c, '')}</td>" for c in cols) + "</tr>"
            for r in rows
        )
        parts.append(
            f"<h2>{name}</h2><table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"
        )
    parts.append("</body></html>")
    return "".join(parts)


def api_envelope(df: DataFrame, limit: int = 100) -> dict:
    """APIResponse envelope with measured execution time
    (players.py:24-33: success/data/execution_time_ms)."""
    t0 = time.perf_counter()
    data = _rows(df, limit)
    return {
        "success": True,
        "data": data,
        "row_count": len(data),
        "execution_time_ms": round((time.perf_counter() - t0) * 1000, 2),
    }
