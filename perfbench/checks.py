"""Output checks: every measured operation's result is compared with a
reference, and any mismatch counts as a failed operation.

* gates: the Spark result equals the gate's ``oracle_sql()`` DuckDB
  result, normalized as in ``scripts/selfcheck.py`` (column-sorted,
  row-sorted, floats to 6 significant digits);
* search: Spark results match ``LocalSearcher`` results, and a fixed
  query sample matches ``search/oracle.py`` ``oracle_topk``
  (``hits_close``);
* builds: docs/postings/blocks equal the counts recorded at set-up;
* append: the query answered over the multi-slice index equals the
  same query over the compacted index.
"""

from __future__ import annotations

import math

SF_TABLES = ("documents", "events", "embeddings")


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def normalize(cols, rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [[cols[i] for i in order],
            sorted("\t".join(_cell(r[i]) for i in order) for r in rows)]


def gate_goldens(sf_dir: str, names) -> dict:
    """name -> normalized DuckDB oracle result over ``sf_dir``."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    oracles = entry.oracle_sql()
    out = {}
    for name in names:
        rel = con.execute(oracles[name])
        out[name] = normalize([d[0] for d in rel.description],
                              rel.fetchall())
    con.close()
    return out


def rows_of(df) -> list:
    """Normalized rows of a collected Spark DataFrame."""
    return normalize(df.columns, [tuple(r) for r in df.collect()])


def hits_close(a, b, tol: float = 1.5e-4) -> bool:
    """Same docids and ranks, scores within one unit of the 4-decimal
    tie rounding. The three scorers (Spark kernel, ``LocalSearcher``,
    ``oracle_topk``) add a document's term contributions in different
    orders, so a score on a rounding boundary can land one unit apart
    (seen at k=1000 on the Zipf corpus)."""
    return len(a) == len(b) and all(
        x[0] == y[0] and x[1] == y[1] and abs(x[2] - y[2]) <= tol
        for x, y in zip(a, b))


def runs_close(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(hits_close(a[q], b[q]) for q in a)
