"""Output checks: engine rows against an independent computation, with
the tolerance of the repository's own oracle gate
(`scripts/verify_local.py:compare`).  Every check also proves it can
fail: the same rows with one value perturbed must be rejected."""

from __future__ import annotations

import datetime as dt
import sys

from scripts.verify_local import compare


def _perturbed(rows: list[tuple]) -> list[tuple]:
    """`rows` with one value of one row changed."""
    if not rows:
        return [("perturbed",)]
    row = list(rows[0])
    for i, v in enumerate(row):
        if isinstance(v, bool) or v is None:
            continue
        if isinstance(v, (int, float)):
            row[i] = v * 2 + 1
        elif isinstance(v, str):
            row[i] = v + "~"
        elif isinstance(v, (dt.date, dt.datetime)):
            row[i] = v + dt.timedelta(days=1)
        else:
            continue
        return [tuple(row)] + list(rows[1:])
    row[0] = "perturbed" if row[0] is None else None
    return [tuple(row)] + list(rows[1:])


def check_rows(label: str, got: list[tuple], cols: list[str], want: list[tuple],
               want_cols: list[str] | None = None, self_test: bool = True) -> bool:
    """True when `got` matches `want`; with `self_test`, also False when
    the check would accept `got` with one value perturbed."""
    want_cols = want_cols or cols
    ok, msg = compare(got, cols, want, want_cols)
    if not ok:
        print(f"[perfbench] {label}: {msg}", file=sys.stderr)
    if self_test and compare(_perturbed(got), cols, want, want_cols)[0]:
        print(f"[perfbench] {label}: checker accepted a perturbed row", file=sys.stderr)
        return False
    return ok


class DuckOracle:
    """The registered oracle SQL of each query, run on DuckDB over the
    same parquet files the engine reads."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        from flink_1_20_spark.catalog import TABLE_NAMES

        self._con = duckdb.connect()
        for t in TABLE_NAMES:
            self._con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    def rows(self, sql: str) -> tuple[list[tuple], list[str]]:
        rel = self._con.sql(sql)
        return rel.fetchall(), rel.columns

    def close(self) -> None:
        self._con.close()
