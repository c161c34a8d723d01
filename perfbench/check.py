"""Result digests for correctness checks.

A lane's result is reduced to an order-insensitive digest: columns
sorted by name, every cell normalized (NULL and NaN alike, doubles by
their full repr, timestamps by isoformat), rows sorted. Two results
are equal exactly when their digests are, which is the comparison the
engine's oracle-parity check makes against DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import math
import sys

import duckdb


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
        if not isinstance(v, list):
            return _cell(v)
    if isinstance(v, (list, tuple)):
        return repr([_cell(x) for x in v])
    return str(v)


def digest(pdf) -> list:
    """[row count, sha1] of a pandas frame, independent of row and
    column order."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha1("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return [len(rows), h.hexdigest()]


def oracle_digests(sqls: dict[str, str], data_dir: str, tables) -> dict[str, list]:
    """Digest of each oracle query's DuckDB answer over the ``tables``
    in ``data_dir``."""
    con = duckdb.connect(config={"threads": 2})
    try:
        for t in tables:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {k: digest(con.execute(sql).fetchdf()) for k, sql in sqls.items()}
    finally:
        con.close()


if __name__ == "__main__":
    # python3 -m perfbench.check < {"sqls": ..., "data_dir": ..., "tables": ...}
    # prints the oracle digests as JSON
    args = json.load(sys.stdin)
    json.dump(oracle_digests(args["sqls"], args["data_dir"], args["tables"]), sys.stdout)
