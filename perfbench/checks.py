"""Output checks that do not share the engine's code path.

* Queries: each registered DuckDB oracle (``oracles.oracle_sql()``) runs on
  the same parquet tables, compared with ``tools/check_oracles.py``'s exact
  canonical comparison.  Oracle results are cached on disk keyed by
  (query, dataset, digest of the oracle SQL), so a changed query+oracle pair
  re-derives its reference.
* s2_spatial_cluster, s2_dbscan, s2_cluster_stats: their recursive-CTE
  oracles grow with the square of component size, so they are checked
  against the union-find references of ``tools/sf1_cluster_gate.py`` built
  over the DuckDB within-distance pairs.
* Pipeline: per-region ``joined`` membership against a numpy brute-force cap
  test over ``ingest.doc_latlng``, skipping docs within a small margin of a
  cap boundary (the generator's asin is only 1-ulp exact).
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import numpy as np
import pandas as pd

UNION_FIND = ("s2_spatial_cluster", "s2_dbscan", "s2_cluster_stats")


def _tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(root, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryChecker:
    def __init__(self, root: str, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.co = _tool(root, "check_oracles")
        self.gate = _tool(root, "sf1_cluster_gate")
        from rust_s2_spark.engine import oracles

        self.oracles = oracles
        self.sql = oracles.oracle_sql()
        self._con = None
        self._memo: dict[str, pd.DataFrame] = {}
        self._cluster: dict[str, pd.DataFrame] | None = None

    def method(self, name: str) -> str:
        if name in UNION_FIND:
            return "union-find"
        return "duckdb-oracle" if name in self.sql else "unchecked"

    def check(self, name: str, got: pd.DataFrame) -> list[str]:
        """Problems found comparing ``got`` with the reference ([] = pass)."""
        if name in UNION_FIND:
            want = self._cluster_refs()[name]
        elif name in self.sql:
            want = self._oracle(name)
        else:
            return []
        return self.co.compare(name, got, want)

    def _duck(self):
        if self._con is None:
            self._con = self.co.duck_conn(self.sf_dir)
        return self._con

    def _cached(self, name: str, sql: str, fn) -> pd.DataFrame:
        key = hashlib.sha256(
            f"{name}\0{os.path.basename(self.sf_dir)}\0{sql}".encode()
        ).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{name}-{key}.parquet")
        if name not in self._memo:
            if os.path.exists(path):
                self._memo[name] = pd.read_parquet(path)
            else:
                # stored canonicalized: object columns as their str() form,
                # which is what the canonical comparison reduces them to
                df = self.co.canon(fn())
                tmp = f"{path}.tmp{os.getpid()}"
                df.to_parquet(tmp, index=False)
                os.replace(tmp, path)
                self._memo[name] = df
        return self._memo[name]

    def _oracle(self, name: str) -> pd.DataFrame:
        sql = self.sql[name]
        return self._cached(name, sql, lambda: self._duck().execute(sql).df())

    def _cluster_refs(self) -> dict[str, pd.DataFrame]:
        if self._cluster is None:
            sql = self.oracles.o_distance_join()
            pairs = self._cached(
                "s2_distance_join.pairs", sql, lambda: self._duck().execute(sql).df()
            )
            self._cluster = cluster_references(self.gate, pairs, self._duck())
        return self._cluster


def cluster_references(gate, pairs: pd.DataFrame, con) -> dict[str, pd.DataFrame]:
    """Union-find references for the connected-components queries, the same
    derivation ``tools/sf1_cluster_gate.py`` gates sf1 with."""
    from rust_s2_spark.engine import specs

    ea = pairs["event_a"].to_numpy(np.int64)
    eb = pairs["event_b"].to_numpy(np.int64)
    cc = gate._components(ea, eb)
    sizes: dict[int, int] = {}
    for lbl in cc.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    spatial = pd.DataFrame(
        {
            "event_id": np.fromiter(cc.keys(), np.int64, len(cc)),
            "cluster_id": np.fromiter(cc.values(), np.int64, len(cc)),
            "cluster_size": np.fromiter((sizes[v] for v in cc.values()), np.int64, len(cc)),
        }
    )

    all_ids = con.execute("SELECT event_id FROM events").fetchnumpy()["event_id"].astype(np.int64)
    ids, deg = np.unique(np.concatenate([ea, eb]), return_counts=True)
    core = set(ids[deg + 1 >= specs.DBSCAN_MINPTS].tolist())
    core_a = np.fromiter((a in core for a in ea.tolist()), bool, len(ea))
    core_b = np.fromiter((b in core for b in eb.tolist()), bool, len(eb))
    cc_core = gate._components(ea[core_a & core_b], eb[core_a & core_b])
    core_lbl = {n: cc_core.get(n, n) for n in core}
    border: dict[int, int] = {}
    for a, b in zip(ea.tolist(), eb.tolist()):
        for x, y in ((a, b), (b, a)):
            if x not in core and y in core:
                lbl = core_lbl[y]
                if x not in border or lbl < border[x]:
                    border[x] = lbl
    rows = []
    for n in all_ids.tolist():
        if n in core:
            rows.append((n, "core", core_lbl[n]))
        elif n in border:
            rows.append((n, "border", border[n]))
        else:
            rows.append((n, "noise", -1))
    dbscan = pd.DataFrame(rows, columns=["event_id", "role", "cluster_id"])

    mem = dbscan[dbscan["role"] != "noise"].copy()
    mem["lat"], mem["lng"] = specs.latlng_np(mem["event_id"].to_numpy(np.int64))
    mem["is_core"] = mem["role"] == "core"
    stats = (
        mem.groupby("cluster_id")
        .agg(
            n_points=("event_id", "size"),
            n_core=("is_core", "sum"),
            rep_id=("event_id", "min"),
            lat_lo=("lat", "min"),
            lat_hi=("lat", "max"),
            lng_lo=("lng", "min"),
            lng_hi=("lng", "max"),
        )
        .reset_index()
    )
    for c in ("n_points", "n_core", "rep_id", "cluster_id"):
        stats[c] = stats[c].astype(np.int64)
    return {"s2_spatial_cluster": spatial, "s2_dbscan": dbscan, "s2_cluster_stats": stats}


# --------------------------------------------------------------------------
# pipeline


def check_joined(joined_dir: str, n_docs: int, margin: float = 1e-9) -> list[str]:
    """Per-region membership of the pipeline's ``joined`` checkpoint against a
    numpy brute-force cap test; docs whose squared chord distance lies within
    ``margin`` of a cap's radius2 are left out on both sides.  The geo span
    carries lat/lng printed to 9 decimals, so the reference rounds the same."""
    import pyarrow.dataset as ds

    from rust_s2_spark.engine import ingest, specs

    t = ds.dataset(joined_dir, format="parquet").to_table(columns=["region_id", "doc_id"])
    got = t.to_pandas()
    got_idx = got["doc_id"].str.rsplit("-", n=1).str[-1].astype(np.int64).to_numpy()

    lat, lng = ingest.doc_latlng(np.arange(n_docs, dtype=np.int64))
    la, ln = np.radians(np.round(lat, 9)), np.radians(np.round(lng, 9))
    p = np.stack([np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)], axis=1)
    problems = []
    for region_id, cx, cy, cz, r2 in specs.cap_rows():
        d2 = ((p - np.array([cx, cy, cz])) ** 2).sum(axis=1)
        near = np.abs(d2 - r2) <= margin
        want = np.flatnonzero((d2 <= r2) & ~near)
        have = got_idx[got["region_id"].to_numpy() == region_id]
        have = have[~near[have]]
        if len(have) != len(np.unique(have)):
            problems.append(f"{region_id}: duplicate doc rows")
        if not np.array_equal(np.sort(have), want):
            missing = len(np.setdiff1d(want, have))
            extra = len(np.setdiff1d(have, want))
            problems.append(f"{region_id}: {missing} docs missing, {extra} unexpected")
    return problems
