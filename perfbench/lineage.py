"""``lineage``: the read path. Set-up builds an element-level store with
the ``capture`` pipeline and serves it with ``ProvWebAPI.start()``. One
closed-loop client then replays, once per cycle, the requests the
engine's own web page (``prov/webui.py``) sends on a visit, plus the
walks:

* execution list (point), then the run view: task graph (scan);
* one task view per task of the run: task info (point) and the task's
  non-transitive ``graphOfTask`` (scan);
* after the view of each task that produces elements, a walk:
  transitive ``graphOfTask`` from that task's elements, up if the task
  consumes elements and down if it does not, so hop counts run from 0
  to 3.

The page sends no other route, so element table and execution find are
not sent. The seed picks the data, the filter constants and the order
of the task views."""

from __future__ import annotations

import collections
import http.client
import json
import os
import shutil

import duckdb
import numpy as np

from perfbench import capture, inputs, oracles
from perfbench.harness import median, store_metrics

SIZES = {"full": 500, "smoke": 150}  # orders of the served store


class Lineage:
    name = "lineage"
    item = "request"
    loop = "closed, 1 client"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_orders = SIZES[ctx.size]
        self.sizes = {"store_orders": self.n_orders}
        self.server = None
        self.dir = None
        self.responses: dict[str, dict] = {}

    def close(self):
        if self.server is not None:
            self.server.shutdown()
            self.server = None

    # -- set-up ----------------------------------------------------------------
    def setup(self, k):
        from samba_spark.prov.store import ProvStore
        from samba_spark.prov.webapi import ProvWebAPI

        self.close()
        if self.dir:
            shutil.rmtree(self.dir, ignore_errors=True)
        self.dir = os.path.join(self.ctx.work, f"store{k}")
        t = self.ctx.tracer
        with t.span("bench.inputs"):
            data = inputs.orders_lineitem(os.path.join(self.dir, "in"),
                                          self.ctx.seed, self.n_orders)
        self.prov = os.path.join(self.dir, "prov")
        ps, _rows = capture.pipeline(self.ctx, data, self.prov)
        self.run_id = ps.run_id
        with t.span("webapi.start"):
            self.store = ProvStore(self.ctx.spark, self.prov)
            self.server = ProvWebAPI(self.store).start()

    def _plan_requests(self):
        """The request cycle, from the store's own tables (read with
        DuckDB, outside the engine): ``(class, route, url)`` per request."""
        con = duckdb.connect()
        try:
            tk, e, d = (oracles.parquet(os.path.join(self.prov, n))
                        for n in ("tasks", "elements", "element_deps"))
            tasks = [r[0] for r in con.execute(
                f"SELECT task_id FROM {tk} ORDER BY task_id").fetchall()]
            producers, consumers = ({r[0] for r in con.execute(
                f"SELECT DISTINCT task_id FROM {t}").fetchall()} for t in (e, d))
        finally:
            con.close()
        run = self.run_id
        got = f"/api/dataelement/graphOfTask/{run}?taskID="
        cycle = [("point", "list", "/api/execution/list"),
                 ("scan", "graph", f"/api/task/graph/{run}")]
        for i in np.random.default_rng(self.ctx.seed).permutation(len(tasks)):
            task = tasks[int(i)]
            cycle += [("point", "info", f"/api/task/info/{run}?taskID={task}"),
                      ("scan", "task", f"{got}{task}&direction=up")]
            if task in producers:
                walk = "up" if task in consumers else "down"
                cycle.append(("walk", f"walk_{walk}",
                              f"{got}{task}&direction={walk}&transitive=true"))
        self.requests = cycle
        self.cycle = len(cycle)
        self.mix = {c: n / len(cycle) for c, n in
                    collections.Counter(c for c, _r, _u in cycle).items()}

    def warmup(self):
        """Plan the requests, then send the first request of every route
        once, untimed (first-use planning and codegen)."""
        self.stats = oracles.store_stats(self.prov)
        self.sizes["elements"] = self.stats["elements"]
        self._plan_requests()
        self.sizes["requests_per_cycle"] = self.cycle
        first = {}
        for _c, route, url in self.requests:
            first.setdefault(route, url)
        for url in first.values():
            self._get(url)

    # -- the client ------------------------------------------------------------
    def kind(self, i):
        return self.requests[i % self.cycle][0]

    def _get(self, url):
        conn = http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=120)
        try:
            conn.request("GET", url)
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status} for {url}: {body[:200]!r}")
        return body

    def op(self, i):
        url = self.requests[i % self.cycle][2]
        with self.ctx.tracer.span("webapi.request", url=url):
            body = self._get(url)
        return {"url": url, "body": body}

    def after_op(self, i, info, rec):
        rec["url"] = info["url"]
        rec["bytes"] = len(info["body"])
        summary = summarize(info["url"], json.loads(info["body"]))
        seen = self.responses.setdefault(info["url"], summary)
        if seen != summary:
            rec["failure"] = f"response changed between requests: {info['url']}"

    # -- tracing ---------------------------------------------------------------
    def install_tracing(self, tracer):
        """Spans around the queries the handlers run, and one
        ``queries.walk.hop`` span per hop a walk runs: the walk's per-hop
        ``isEmpty`` probe, which also tells whether the hop added
        elements."""
        from samba_spark.prov import queries as Q

        def emptiness(rec, empty):
            rec["empty"] = empty

        for fn, name in (("list_executions", "queries.detail"),
                         ("task_dag", "queries.task"),
                         ("elements_of_task", "queries.task"),
                         ("elements_consumed_by_task", "queries.task")):
            tracer.patch(Q, fn, name, materialize=True)
        tracer.patch(Q, "transitive_lineage", "queries.walk", materialize=True)
        tracer.patch(type(self.ctx.spark.range(0)), "isEmpty", "queries.walk.hop",
                     on_result=emptiness, within="queries.walk")
        tracer.patch(self.store, "table", "store.table")

    # -- gate --------------------------------------------------------------------
    def gate(self):
        """Every distinct response against a DuckDB replay over the store
        parquet; walks use the recursive-CTE replay of the q59 oracle."""
        failures = []
        con = duckdb.connect()
        try:
            for url, got in sorted(self.responses.items()):
                want = replay(con, self.prov, self.run_id, url)
                if got != want:
                    failures.append(f"gate: {url}: got {got}, want {want}")
        finally:
            con.close()
        return failures

    def extra_metrics(self, plain):
        return {"store": self.stats}

    def layer_metrics(self, per_op, spans, plain, traced):
        n = max(len(traced), 1)
        walks = [s["id"] for s in spans if s["name"] == "queries.walk"]
        hops = [s for s in spans if s["name"] == "queries.walk.hop"]
        per_walk = collections.Counter(h["parent"] for h in hops)
        return {
            "store.table_s": per_op.get("store.table", 0.0),
            "queries.detail_s": per_op.get("queries.detail", 0.0),
            "queries.task_s": per_op.get("queries.task", 0.0),
            "queries.walk_s": (per_op.get("queries.walk", 0.0)
                               + per_op.get("queries.walk.hop", 0.0)),
            "queries.walk_hops": median([per_walk[w] for w in walks]),
            "queries.walk_useful_hop_ratio": (
                sum(not h["empty"] for h in hops) / len(hops) if hops else 0.0),
            "queries.rows_out": sum(
                s.get("rows", 0) for s in spans if s["name"].startswith("queries.")
            ) / n,
            "webapi.self_s": per_op.get("webapi.request", 0.0),
            "webapi.bytes_out": sum(r.get("bytes", 0) for r in traced) / n,
            **store_metrics([{"store": self.stats}]),
        }


def summarize(url: str, body) -> dict:
    """The counts a response is checked on."""
    path = url.split("?")[0]
    if path == "/api/execution/list":
        return {"runs": len(body),
                "finished": sum(r["end_time"] is not None for r in body)}
    if path.startswith("/api/task/info/"):
        return {"task": body["task"]["id"], "upstream": len(body["upstream"])}
    if path.startswith("/api/task/graph/"):
        return {"nodes": len(body["nodes"]), "edges": len(body["edges"])}
    out = {"produced": len(body["produced"]), "consumed": len(body["consumed"])}
    if "transitive" in body:
        out["closure"] = len(body["transitive"])
        out["hops"] = max((h for _e, h in body["transitive"]), default=0)
    return out


def replay(con, prov: str, run_id: str, url: str) -> dict:
    """DuckDB's answer to one request, in ``summarize``'s shape."""
    from urllib.parse import parse_qs, urlparse

    u = urlparse(url)
    q = {k: v[0] for k, v in parse_qs(u.query).items()}
    e, d, t, td, ex = (oracles.parquet(os.path.join(prov, n)) for n in (
        "elements", "element_deps", "tasks", "task_deps", "executions"))
    path = u.path
    one = lambda sql, *p: con.execute(sql, list(p)).fetchone()  # noqa: E731
    if path == "/api/execution/list":
        runs, finished = one(f"SELECT count(*), count(end_time) FROM (SELECT run_id, "
                             f"max(end_time) AS end_time FROM {ex} GROUP BY run_id)")
        return {"runs": runs, "finished": finished}
    if path.startswith("/api/task/info/"):
        n = one(f"SELECT count(*) FROM {td} d JOIN {t} t ON t.task_id = d.dep_task_id "
                "WHERE d.task_id = ?", q["taskID"])[0]
        return {"task": q["taskID"], "upstream": n}
    if path.startswith("/api/task/graph/"):
        nodes = one(f"SELECT count(DISTINCT task_id) FROM {t} WHERE run_id = ?", run_id)[0]
        edges = one(f"SELECT count(*) FROM {t} t JOIN {td} d USING (run_id, task_id) "
                    "WHERE run_id = ?", run_id)[0]
        return {"nodes": nodes, "edges": edges}
    task = q["taskID"]
    produced = one(f"SELECT count(*) FROM {e} WHERE task_id = ?", task)[0]
    consumed = one(f"SELECT count(*) FROM (SELECT DISTINCT dep_element_id FROM {d} "
                   f"WHERE task_id = ?) c JOIN {e} e ON e.element_id = c.dep_element_id",
                   task)[0]
    out = {"produced": produced, "consumed": consumed}
    if q.get("transitive") == "true":
        if q.get("direction", "up") == "down":
            roots = f"SELECT element_id FROM {e} WHERE task_id = $task"
            step = "SELECT x.element_id, w.hop + 1 FROM walk w JOIN deps x ON x.dep_element_id = w.element_id"
        else:
            roots = (f"SELECT DISTINCT c.dep_element_id AS element_id FROM {d} c "
                     f"JOIN {e} e ON e.element_id = c.dep_element_id WHERE c.task_id = $task")
            step = "SELECT x.dep_element_id, w.hop + 1 FROM walk w JOIN deps x ON x.element_id = w.element_id"
        closure, hops = con.execute(f"""
            WITH RECURSIVE deps AS (SELECT element_id, dep_element_id FROM {d}),
            walk(element_id, hop) AS (
              SELECT element_id, 0 FROM ({roots})
              UNION
              {step}),
            m AS (SELECT element_id, min(hop) AS hop FROM walk GROUP BY element_id)
            SELECT count(*), coalesce(max(hop), 0) FROM m""", {"task": task}).fetchone()
        out["closure"], out["hops"] = closure, hops
    return out
