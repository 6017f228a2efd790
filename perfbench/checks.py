"""Output checks for one benchmark run, run after the timed region.

Every op that produced an answer is checked:

* `SparkEntry` entries against DuckDB answers of their `oracleSql`, with
  the canonicalization of tools/check.py (columns by name, rows sorted,
  type families, exact values);
* analyst SQL by replaying the same text in DuckDB over the same files
  (the staging tables, or the star schema the run wrote); float sums may
  differ in the last bits between engines, so those compare within
  1e-9 relative;
* `Pipeline.run`: 7 ok stages with the oracle's row counts;
* recommender answers against the ranking contract of reco_topk_cosine /
  reco_mmr (K distinct dense ranks, monotone cosine scores, the first MMR
  pick equals the top-1, cold users get nothing);
* evaluate / coverage / the trained model against the facts the oracles
  derive (evaluated users, catalog size, user and item counts).

`self_test` feeds a deliberately wrong answer through the same comparison
and reports whether it was caught, so both sides of the gate run every
time.
"""
import glob
import hashlib
import math
import os
import pickle
import sys

import duckdb

sys.path.insert(0, "tools")
import check as graft_check  # noqa: E402  (tools/check.py)

K = 5
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WAREHOUSE = ["dim_customer", "dim_supplier", "dim_part", "dim_geo",
             "dim_dates", "dim_payments", "fact_orders"]


class Oracle:
    """DuckDB over the committed input tables; answers are cached under
    the build directory, keyed by the SQL text and the input bytes."""

    def __init__(self, data_dir, cache_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        h = hashlib.sha256()
        for f in sorted(glob.glob(f"{data_dir}/*.parquet")):
            with open(f, "rb") as fh:
                h.update(fh.read())
        self.data_hash = h.hexdigest()
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def answer(self, sql):
        """(types, canonical columns, canonical rows) of `sql`."""
        key = hashlib.sha256((self.data_hash + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        res = canonical(self.con.sql(sql))
        with open(path, "wb") as fh:
            pickle.dump(res, fh)
        return res

    def warehouse(self, wh_dir):
        """A connection with the star schema `wh_dir` as views."""
        con = duckdb.connect()
        for t in WAREHOUSE:
            src = (f"read_parquet('{wh_dir}/{t}/*/*.parquet', hive_partitioning=1)"
                   if t == "fact_orders" else f"'{wh_dir}/{t}/*.parquet'")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        return con


def canonical(rel):
    types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    cols, rows = graft_check.canon(rel.fetchall(), [d[0] for d in rel.description])
    return types, cols, rows


def read_output(path):
    return canonical(duckdb.sql(f"SELECT * FROM '{path}/*.parquet'"))


def compare(got, want, tolerant=False):
    """None when `got` matches `want`, else what differs."""
    g_types, g_cols, g_rows = got
    w_types, w_cols, w_rows = want
    if g_cols != w_cols:
        return f"columns {g_cols} vs oracle {w_cols}"
    bad_t = {c: (g_types[c], w_types[c]) for c in g_cols
             if graft_check.tfam(g_types[c]) != graft_check.tfam(w_types[c])}
    if bad_t:
        return f"types {bad_t}"
    if len(g_rows) != len(w_rows):
        return f"{len(g_rows)} rows vs oracle {len(w_rows)}"
    same = graft_check.close if tolerant else graft_check.eq
    bad = [(a, b) for a, b in zip(g_rows, w_rows)
           if not all(same(x, y) for x, y in zip(a, b))]
    if bad:
        return f"{len(bad)} rows differ, e.g. {bad[0][0]} vs oracle {bad[0][1]}"
    return None


def records(path):
    rel = duckdb.sql(f"SELECT * FROM '{path}/*.parquet'")
    names = [d[0] for d in rel.description]
    return [dict(zip(names, r)) for r in rel.fetchall()]


def ranking(rows, users, monotone):
    """Contract of a (user, item, score, rank) ranking: every user in
    `users` has exactly K rows ranked 1..K with distinct items and finite
    scores (cosine scores in [-1, 1], non-increasing when `monotone`),
    and no other user appears."""
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user"], []).append(r)
    if set(by_user) != set(users):
        return f"users {sorted(by_user)} vs requested {sorted(users)}"
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["rank"])
        if [r["rank"] for r in rs] != list(range(1, K + 1)):
            return f"user {u}: ranks {[r['rank'] for r in rs]}"
        if len({r["item"] for r in rs}) != K:
            return f"user {u}: repeated items"
        scores = [r["score"] for r in rs]
        if not all(s is not None and math.isfinite(s) for s in scores):
            return f"user {u}: non-finite score"
        if monotone and (any(abs(s) > 1 + 1e-9 for s in scores) or
                         any(a < b for a, b in zip(scores, scores[1:]))):
            return f"user {u}: scores {scores}"
    return None


class Checker:
    def __init__(self, result, work_dir, data_dir, cache_dir):
        self.result = result
        self.out = os.path.join(work_dir, "out")
        self.work = work_dir
        self.oracle = Oracle(data_dir, cache_dir)
        self.sql = result["oracle_sql"]
        self._wh = None
        self._facts = None

    def facts(self):
        """Oracle facts for the recommender checks."""
        if self._facts is None:
            _, icols, inter = self.oracle.answer(self.sql["reco_interactions"])
            _, cols, ev = self.oracle.answer(self.sql["reco_eval"])
            _, ccols, cov = self.oracle.answer(self.sql["reco_coverage"])
            users = {r[icols.index("user")] for r in inter}
            self._facts = {
                "n_users": len(users),
                "n_items": len({r[icols.index("item")] for r in inter}),
                "known": users,
                "num_evaluated_users": ev[0][cols.index("num_evaluated_users")],
                "items_total": cov[0][ccols.index("items_total")]}
        return self._facts

    def warehouse(self):
        if self._wh is None:
            wh = sorted(glob.glob(os.path.join(self.work, "snap", "*-warehouse")))
            self._wh = self.oracle.warehouse(wh[0])
        return self._wh

    def check(self, op):
        """None when the op's answer is right, else the reason."""
        if not op["ok"]:
            return f"failed: {op['error']}"
        kind = op["info"].get("check")
        path = os.path.join(self.out, str(op["id"]))
        if kind == "etl_pipeline":
            _, cols, want = self.oracle.answer(self.sql["etl_pipeline"])
            want = {r[cols.index("stage")]: r[cols.index("rows")] for r in want}
            got = {s["stage"]: s["rows"] for s in op["info"]["stages"] if s["ok"]}
            return None if got == want and len(want) == 7 else f"stages {got} vs oracle {want}"
        if kind in self.sql:
            return compare(read_output(path), self.oracle.answer(self.sql[kind]))
        if kind == "sql_staging":
            sql = self.request_sql(op)
            return compare(read_output(path), self.oracle.answer(sql), tolerant=True)
        if kind == "sql_warehouse":
            sql = self.request_sql(op)
            return compare(read_output(path), canonical(self.warehouse().sql(sql)), tolerant=True)
        if kind in ("topk", "cold", "mmr"):
            rows = records(path)
            users = op["info"]["users"]
            known = [u for u in users if u in self.facts()["known"]]
            err = ranking(rows, known, monotone=kind != "mmr")
            if err or kind != "mmr":
                return err
            first = {r["user"]: r["item"] for r in rows if r["rank"] == 1}
            return None if all(self.top1.get(u) == i for u, i in first.items()) \
                else f"first MMR pick {first} vs top-1 {self.top1}"
        if kind == "top1":
            self.top1 = {r["user"]: r["item"] for r in records(path) if r["rank"] == 1}
            return None
        if kind == "reco_eval_quality":
            (r,) = records(path)
            p, rc, f1 = r["precision"], r["recall"], r["f1_score"]
            ok = (r["num_evaluated_users"] == self.facts()["num_evaluated_users"]
                  and 0 <= p <= 1 and 0 <= rc <= 1
                  and abs(f1 - (2 * p * rc / (p + rc) if p + rc > 0 else 0)) < 1e-12)
            return None if ok else f"evaluate {r} vs {self.facts()['num_evaluated_users']} users"
        if kind == "reco_coverage_quality":
            (r,) = records(path)
            ok = (r["items_total"] == self.facts()["items_total"]
                  and 1 <= r["items_recommended"] <= 100 * K
                  and abs(r["coverage"] - r["items_recommended"] / r["items_total"]) < 1e-12)
            return None if ok else f"coverage {r} vs {self.facts()['items_total']} items"
        if kind == "model":
            f = self.facts()
            i = op["info"]
            ok = i["rank"] == 16 and i["n_users"] == f["n_users"] and i["n_items"] == f["n_items"]
            return None if ok else f"model {i} vs {f['n_users']} users / {f['n_items']} items"
        return f"no check for {kind}"

    def request_sql(self, op):
        rid = op["info"]["request"]
        return self.requests[rid]["sql"]

    def run(self, plan):
        """{op id: reason} for every op with an answer to check, and every
        op that failed (None = right); top-1 references first so the MMR
        checks can use them."""
        self.requests = {r["id"]: r for b in plan.get("blocks", []) + [plan.get("warmup", [])]
                         for r in b}
        self.top1 = {}
        checked = [o for o in self.result["ops"] if "check" in o["info"] or not o["ok"]]
        checked.sort(key=lambda o: o["info"].get("check") != "top1")
        return {o["id"]: self.check(o) for o in checked}

    def self_test(self):
        """Runs the comparison on a deliberately wrong copy of a real
        answer (one row dropped, one value changed) and returns whether
        the check caught both."""
        for op in self.result["ops"]:
            kind = op["info"].get("check")
            if not op["ok"] or kind == "etl_pipeline":
                continue
            if kind in self.sql:
                want = self.oracle.answer(self.sql[kind])
            elif kind == "sql_staging":
                want = self.oracle.answer(self.request_sql(op))
            else:
                continue
            types, cols, rows = read_output(os.path.join(self.out, str(op["id"])))
            if not rows or compare((types, cols, rows), want) is not None:
                continue
            first = list(rows[0])
            first[0] = first[0] + "!" if isinstance(first[0], str) else "wrong"
            dropped = (types, cols, rows[1:])
            changed = (types, cols, [tuple(first)] + rows[1:])
            return compare(dropped, want) is not None and compare(changed, want) is not None
        return False
