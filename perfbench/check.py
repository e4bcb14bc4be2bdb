"""Result check: each query's rows against its DuckDB oracle.

The comparison follows the repository's oracle contract (tests/
conftest.py): the same column-name set, the same row count and the
same rows, order-insensitive, with NaN equal to NULL. Floats match
within a tolerance (below). It runs inside DuckDB over the Arrow
result, so a million-row scan is checked in a fraction of a second.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from datafusion_tpc_spark import registry
from datafusion_tpc_spark.catalog import TABLES
from fixtures.gen_logs import logs_path

# The q_logs_* oracles name the canonical sf0.01 logs fixture by path
# (queries/logs_queries.py), while the bench reads logs at its own sf.
_CANONICAL_LOGS = logs_path("0.01")


def oracle_sql(name: str, logs_sf: str) -> str:
    """The oracle text of ``name``, reading the same logs file as the
    Spark side. A logs query whose oracle does not name the canonical
    fixture would silently compare different inputs, so it raises."""
    sql = registry.ORACLE.get(name)
    if sql is None:
        raise LookupError(f"{name}: no oracle registered")
    if name.startswith("q_logs_") and _CANONICAL_LOGS not in sql:
        raise LookupError(f"{name}: oracle does not read the canonical logs fixture")
    return sql.replace(_CANONICAL_LOGS, logs_path(logs_sf))


# Float aggregates differ between engines in their last bits: sums in
# another order (a ~2e9 revenue sum at sf0.1 moves in the 5th
# decimal) and ROUND half-way ties (one row of q_logs_agg at sf0.1).
# Floats therefore match within one unit of the 6th decimal or 1e-9
# relative, whichever is larger.
_ABS_TOL = 1.5e-6
_REL_TOL = 1e-9


def _types(con, view: str) -> dict[str, str]:
    return dict(con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {view})").fetchall())


def _text(types: dict[str, str], cols: list[str], floats: set[str]) -> list[str]:
    """One expression per column: floats as DOUBLE (NaN as NULL),
    everything else as text, aliased c0, c1, ..."""
    out = []
    for i, c in enumerate(cols):
        q = '"' + c.replace('"', '""') + '"'
        if c in floats:
            e = f"CASE WHEN isnan({q}) THEN NULL ELSE CAST({q} AS DOUBLE) END"
        elif types[c] == "TIMESTAMP WITH TIME ZONE":
            e = f"CAST(CAST({q} AS TIMESTAMP) AS VARCHAR)"
        else:
            e = f"CAST({q} AS VARCHAR)"
        out.append(f"{e} AS c{i}")
    return out


class OracleCheck:
    """DuckDB views over the raw testdata tables the oracles read."""

    def __init__(self, sf_dir: str, logs_sf: str):
        self.logs_sf = logs_sf
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def mismatch(self, name: str, got: pa.Table) -> str | None:
        """None when ``got`` matches the oracle, else the reason."""
        try:
            want = self.con.execute(oracle_sql(name, self.logs_sf)).fetch_arrow_table()
        except (LookupError, duckdb.Error) as e:
            return f"oracle: {e}"
        cols = sorted(got.column_names)
        if cols != sorted(want.column_names):
            return f"columns {cols} != {sorted(want.column_names)}"
        if got.num_rows != want.num_rows:
            return f"rows {got.num_rows} != {want.num_rows}"
        self.con.register("got_rows", got)
        self.con.register("want_rows", want)
        try:
            got_types = _types(self.con, "got_rows")
            want_types = _types(self.con, "want_rows")
            floats = {
                c for c in cols if {got_types[c], want_types[c]} & {"DOUBLE", "FLOAT"}
            }
            g = f"SELECT {', '.join(_text(got_types, cols, floats))} FROM got_rows"
            w = f"SELECT {', '.join(_text(want_types, cols, floats))} FROM want_rows"
            exact = [f"c{i}" for i, c in enumerate(cols) if c not in floats]
            if not floats:
                # equal multisets <=> equal order-independent row-hash sums
                fp = f"SELECT sum(hash({', '.join(exact)})::HUGEINT) FROM "
                equal = self.con.execute(f"{fp}({g})").fetchone() == self.con.execute(
                    f"{fp}({w})"
                ).fetchone()
                return None if equal else "rows differ"
            # floats need a tolerance, so pair the rows up: sort both
            # sides by a hash of the exact columns, then by the floats
            order = [f"hash({', '.join(exact)})"] if exact else []
            order += [f"c{i} NULLS FIRST" for i, c in enumerate(cols) if c in floats]
            rank = f"row_number() OVER (ORDER BY {', '.join(order)}) AS rn"
            same = []
            for i, c in enumerate(cols):
                a, b = f"g.c{i}", f"w.c{i}"
                if c in floats:
                    same.append(
                        f"(({a} IS NULL AND {b} IS NULL) OR abs({a} - {b}) <= "
                        f"greatest({_ABS_TOL}, {_REL_TOL} * abs({b})))"
                    )
                else:
                    same.append(f"{a} IS NOT DISTINCT FROM {b}")
            (bad,) = self.con.execute(
                f"SELECT count(*) FROM (SELECT *, {rank} FROM ({g})) g "
                f"JOIN (SELECT *, {rank} FROM ({w})) w USING (rn) "
                f"WHERE NOT ({' AND '.join(same)})"
            ).fetchone()
        finally:
            self.con.unregister("got_rows")
            self.con.unregister("want_rows")
        return None if bad == 0 else f"{bad} of {got.num_rows} rows differ"

    def close(self) -> None:
        self.con.close()
