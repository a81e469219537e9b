"""Output checks.  Every check reads the program's files with DuckDB, an
engine independent of the one under test, and returns a list of failure
messages (empty when the output is right)."""

from __future__ import annotations

import math


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _csv(path: str) -> str:
    return f"read_csv('{path}/*.csv', header = true, auto_detect = true)"


def check_pipeline_outputs(paths: dict[str, str], truth: dict) -> list[str]:
    """``run_pipeline``'s five outputs against the generator's truth."""
    import duckdb

    con = duckdb.connect()
    try:
        got = {
            "cleaned rows": con.execute(
                f"SELECT count(*) FROM {_parquet(paths['cleaned_logs'])}").fetchone()[0],
            "UNK rows": con.execute(
                f"SELECT count(*) FROM {_parquet(paths['cleaned_logs'])} "
                "WHERE countryCode = 'UNK'").fetchone()[0],
            "hourly request_count sum": con.execute(
                f"SELECT coalesce(sum(request_count), 0) FROM {_parquet(paths['hourly_agg'])}"
            ).fetchone()[0],
            "error-report rows": con.execute(
                f"SELECT count(*) FROM {_csv(paths['error_report'])}").fetchone()[0],
            "bot-detail rows": con.execute(
                f"SELECT count(*) FROM {_parquet(paths['bot_details'])}").fetchone()[0],
            "bot-summary count sum": con.execute(
                f"SELECT coalesce(sum(bot_request_count), 0) FROM {_csv(paths['bot_summary'])}"
            ).fetchone()[0],
        }
    except Exception as exc:  # unreadable or missing sink
        return [f"sink unreadable: {type(exc).__name__}: {exc}"]
    finally:
        con.close()
    want = {
        "cleaned rows": truth["good"],
        "UNK rows": truth["uncached"],
        "hourly request_count sum": truth["cached"],
        "error-report rows": truth["errors"],
        "bot-detail rows": truth["bots"],
        "bot-summary count sum": truth["cached_bots"],
    }
    return [f"{k}: got {got[k]}, want {want[k]}" for k in want if got[k] != want[k]]


def check_windows(rows: list[tuple[str, str, str, int]], truth_windows: dict[str, int]) -> set[str]:
    """Streaming hourly windows ``(window_start_iso, countryName, city,
    request_count)`` against the truth; returns the mismatched window keys."""
    got = {f"{w}|{c}|{city}": n for w, c, city, n in rows}
    keys = set(got) | set(truth_windows)
    return {k for k in keys if got.get(k) != truth_windows.get(k)}


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Order-insensitive row-set equality with a float tolerance."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple("" if v is None else (f"{v:.6g}" if isinstance(v, float) else str(v))
                     for v in row)

    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(float(x), float(y), rel_tol=rel, abs_tol=1e-9):
                    return False
            elif x != y and str(x) != str(y):
                return False
    return True
