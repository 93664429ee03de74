"""Reference results, computed outside the timed window.

The engine's answers are compared with DuckDB over the same parquet
files where DuckDB speaks the statement, and with plain Python over the
same rows where it does not (the Presto functions that run as Python
UDFs).  A mismatch counts as a failed statement.
"""

from __future__ import annotations

import hashlib
import hmac
import json
import math
import urllib.parse


def norm_cell(v) -> str:
    """One cell as comparable text.  Floats compare by exact repr: the
    queries sum money in integer cents, so both engines agree exactly."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "").replace("T", " ")
    return str(v)


def digest(columns, rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, rows
    sorted as normalized text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha1("\x1e".join(sorted(columns)).encode())
    h.update(str(len(lines)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def duckdb_tables(sf_dir: str, tables):
    """A DuckDB connection with one view per parquet table."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def duckdb_digest(con, sql: str) -> str:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


# --------------------------------------------------------------------------
# Python references for the Presto functions that run as Python UDFs
# --------------------------------------------------------------------------


def normal_cdf(mean: float, sd: float, x: float) -> float:
    return 0.5 * (1.0 + math.erf((x - mean) / (sd * math.sqrt(2.0))))


def beta_cdf_int(a: int, b: int, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) for integer a, b, by its
    binomial-sum closed form."""
    n = a + b - 1
    return sum(math.comb(n, j) * x**j * (1 - x) ** (n - j) for j in range(a, n + 1))


def url_encode(s: str) -> str:
    """Presto's url_encode: form encoding, ``*`` kept, space as ``+``."""
    return urllib.parse.quote_plus(s, safe="*")


def hmac_sha256_hex(msg: str, key: str) -> str:
    return hmac.new(key.encode(), msg.encode(), "sha256").hexdigest().upper()


def row_json(*values) -> str:
    return json.dumps(list(values), separators=(",", ":"))


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    """Float results of transcendental functions: equal within ``rel``
    (the engine and Python may round the last bits differently)."""
    return a == b or abs(a - b) <= rel * max(abs(a), abs(b), 1e-300)
