"""Expected outputs for the correctness gate, as digests.

- Crawls: ``sparkcrawler.oracle.simulate`` over the same synthetic
  corpus. Its digest is cached per corpus parameters, crawl settings and
  a hash of the engine sources the oracle and the corpus depend on.
- Queries: each catalog entry's DuckDB ``oracle_sql()`` over the same
  parquet files, normalised the way ``tests/test_queries.py`` compares
  rows (column order by name, floats to 6 decimals, rows sorted).
"""

from __future__ import annotations

import hashlib
import json
import math
import os


def _sha(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode()
    ).hexdigest()


def crawl_digest(log_rows, seen_urls) -> dict:
    """Digest of a crawl: (url, depth, crawl_status, status_code) per
    visit, and the URL-seen set."""
    log = sorted(tuple(r) for r in log_rows)
    return {
        "visited": len(log),
        "log": _sha(log),
        "seen": _sha(sorted(seen_urls)),
    }


def _source_hash(files) -> str:
    """Hash of the named files under sparkcrawler/ (all .py if None)."""
    import sparkcrawler

    root = os.path.dirname(sparkcrawler.__file__)
    if files is None:
        files = sorted(
            os.path.relpath(os.path.join(d, f), root)
            for d, _, names in os.walk(root) for f in names if f.endswith(".py")
        )
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _cached(path: str, build):
    """JSON value at ``path``, built and stored on a miss."""
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


def crawl_oracle(cache: str, params: dict, cfgs, seeds) -> list[dict]:
    """Digests of ``oracle.simulate`` for this corpus, one per config."""
    from sparkcrawler import oracle
    from sparkcrawler.sources.synth import robots_rows, synth_pages_local

    def build():
        layout, rows = synth_pages_local(
            params["n_pages"], params["n_hosts"], with_sitemaps=False,
            fanout=params["fanout"], extra_paras=params["paras"],
        )
        pages = {r["url"]: r["html"] for r in rows}
        robots = {r["host"]: r for r in robots_rows(layout)}
        out = []
        for cfg in cfgs:
            res = oracle.simulate(
                pages, robots, seeds, max_pages=cfg.max_pages,
                round_seconds=cfg.round_seconds, retries=cfg.retries,
                max_rounds=cfg.max_rounds,
            )
            out.append(crawl_digest(
                [(e["url"], e["depth"], e["crawl_status"], e["status_code"])
                 for e in res.log],
                res.seen,
            ))
        return out

    key = _sha({
        "params": params, "seeds": seeds, "src": _source_hash(["oracle.py",
            "sources/synth.py", "functions/extract.py", "functions/urlnorm.py"]),
        "cfgs": [(c.max_pages, c.round_seconds, c.retries, c.max_rounds)
                 for c in cfgs],
    })[:24]
    return _cached(os.path.join(cache, "oracle", f"crawl-{key}.json"), build)


def engine_digest(cache: str, key_obj, build) -> dict:
    """Digest of an engine run, cached per inputs and engine sources:
    any edit under sparkcrawler/ re-runs ``build``."""
    key = _sha({"key": key_obj, "src": _source_hash(None)})[:24]
    return _cached(os.path.join(cache, "engine", f"crawl-{key}.json"), build)


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{round(v, 6):.6f}"
    return str(v)


def rows_digest(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return _sha([sorted(cols), norm])


TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def query_oracle(sf_dir: str, names, old_root: str, new_root: str) -> dict:
    """DuckDB digest per query. The oracle texts name the demo-crawl
    root they were written against; it is rewritten to ``new_root``."""
    import duckdb

    from sparkcrawler.analytics import CATALOG

    con = duckdb.connect(config={
        "temp_directory": os.path.join(os.environ["TMPDIR"], "duckdb")})
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in names:
            rel = con.sql(CATALOG[name].sql.replace(old_root, new_root))
            out[name] = rows_digest(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()
