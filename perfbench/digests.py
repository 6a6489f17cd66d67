"""Expected-answer digests: normalization and checks.

Values are normalized the way `tools/check_oracle.py` `typed_norm` does:
columns sorted by name, each value rendered as `<python type>:<value>` with
floats rounded to 6 dp, rows sorted. A digest is the SHA-256 of the column
list and the normalized rows.

Batch outputs are parquet, read back as Arrow like the gate does. Server
answers are JSONEachRow; JSON has no decimal or timestamp type and Spark
omits null fields, so the DuckDB side of a server digest goes through a
JSON round trip first (`json_rows`) and missing fields read as null.
"""
import decimal
import hashlib
import json
from pathlib import Path

DIGESTS = Path(__file__).resolve().parent / "digests.json"


def typed_norm(tab):
    """Sort columns by name, render each value as '<pytype>:<str>' (floats
    rounded to 6dp first). int vs Decimal vs float all render distinctly."""
    cols = sorted(tab.column_names)
    data = [tab.column(c).to_pylist() for c in cols]
    out = []
    for i in range(tab.num_rows):
        vals = []
        for col in data:
            v = col[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(f'{type(v).__name__}:{v}')
        out.append('|'.join(vals))
    return sorted(out), cols


class Rows:
    """The slice of the Arrow table interface `typed_norm` reads, over
    plain row dicts."""

    def __init__(self, cols, rows):
        self.column_names = list(cols)
        self.num_rows = len(rows)
        self._rows = rows

    def column(self, c):
        return _PyList([r.get(c) for r in self._rows])


class _PyList(list):
    def to_pylist(self):
        return list(self)


def digest(norm_rows, cols) -> str:
    h = hashlib.sha256()
    h.update(("|".join(cols) + "\n").encode())
    for r in norm_rows:
        h.update((r + "\n").encode())
    return h.hexdigest()


def table_digest(tab) -> dict:
    rows, cols = typed_norm(tab)
    return {"cols": cols, "rows": len(rows), "digest": digest(rows, cols)}


def _json_default(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    return str(v)


def json_rows(tab) -> Rows:
    """An Arrow result as a JSONEachRow client would receive it."""
    recs = tab.to_pylist()
    recs = [json.loads(json.dumps(r, default=_json_default)) for r in recs]
    return Rows(tab.column_names, recs)


def response_digest(lines, cols) -> dict:
    """Digest of one JSONEachRow response body, given the expected columns."""
    recs = [json.loads(l) for l in lines if l.strip()]
    extra = sorted({k for r in recs for k in r} - set(cols))
    rows, c = typed_norm(Rows(list(cols) + extra, recs))
    return {"cols": c, "rows": len(rows), "digest": digest(rows, c)}


def load() -> dict:
    return json.loads(DIGESTS.read_text())


def check_parquet_outputs(out_dir: Path, names, expected: dict) -> list:
    """Compares each call's parquet output with its pinned digest; returns
    the names that mismatch or are missing."""
    import duckdb
    con = duckdb.connect()
    bad = []
    for name in names:
        files = list((out_dir / name).glob("*.parquet"))
        if not files or name not in expected:
            bad.append(name)
            continue
        tab = con.execute(
            f"SELECT * FROM read_parquet('{out_dir / name}/*.parquet')").fetch_arrow_table()
        if table_digest(tab)["digest"] != expected[name]["digest"]:
            bad.append(name)
    return bad
