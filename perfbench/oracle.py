"""Expected results: each query's DuckDB oracle, digested once per
checkout, and the same digest of a Spark result.

A digest is the row count, the sorted column names and a SHA-1 of the
rows after ``tools/check_oracle.py``'s normalisation (cells to strings,
floats to six decimals, rows sorted), so it matches exactly when that
tool would report ``OK``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _normalize(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


class Digester:
    def __init__(self, root: str) -> None:
        self.normalize = _normalize(root)

    def __call__(self, pdf) -> dict:
        norm = self.normalize(pdf)
        sha = hashlib.sha1(norm.to_csv(index=False, header=False).encode()).hexdigest()
        return {"rows": len(pdf), "cols": sorted(pdf.columns), "sha": sha}


def _source_key(root: str, names: list[str]) -> str:
    """SHA-1 of the op names and every source file of the engine."""
    h = hashlib.sha1(" ".join(names).encode())
    for dirpath, _dirs, files in sorted(os.walk(os.path.join(root, "ug_dwh_etl_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root: str, sf_dir: str, names: list[str], path: str) -> dict:
    """Digest every oracle in ``names`` over ``sf_dir``; reuse ``path`` when
    it was made from the same engine source."""
    key = _source_key(root, names)
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if cached.get("key") == key:
            return cached["digests"]
    import duckdb

    import ug_dwh_etl_spark.queries  # noqa: F401 — registers every query
    from ug_dwh_etl_spark.queries.registry import QUERIES

    sql = {n: QUERIES[n].oracle for n in names}
    digest = Digester(root)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    digests = {n: digest(con.execute(q).fetchdf()) for n, q in sql.items()}
    con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"key": key, "digests": digests}, fh)
    os.replace(tmp, path)
    return digests
