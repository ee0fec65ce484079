"""``capture``: element-level provenance capture (the write path).

One pass = scan → with_elements → filter → join → group-by agg over
generated ``orders`` ⋈ ``lineitem``, ``persist_elements`` after every
operator, then ``collect`` and ``ProvSession.stop`` (which flushes the
store). The seed picks the data and the two filter constants."""

from __future__ import annotations

import math
import os
import shutil
import time

import duckdb
from pyspark.sql import functions as F

from perfbench import inputs, oracles
from perfbench.harness import median, store_metrics, store_summary

SIZES = {"full": 12_000, "smoke": 400}  # orders; lineitem is ~4x


def pipeline(ctx, data: dict, prov_dir: str, provenance: bool = True):
    """Run the capture pipeline once; returns (ProvSession, agg rows).
    With ``provenance=False`` the same operators run through a session
    with provenance off and no element capture."""
    from samba_spark.session import ProvSession

    t = ctx.tracer
    with t.span("session.open"):
        ps = ProvSession(ctx.spark, name="capture", prov_dir=prov_dir,
                         provenance=provenance)
    if t.enabled and provenance:
        t.patch(ps.store, "flush", "store.flush")

    def source(path, name):
        with t.span("wrapper.plan"):
            pdf = ps.read_parquet(path, name)
            return pdf.with_elements() if provenance else pdf

    def persist(pdf):
        if not provenance:
            return
        with t.span("wrapper.persist") as rec:
            pdf.persist_elements()
            t.materialize(pdf.raw, rec)
        if t.enabled:
            ps.store.flush()

    orders = source(data["orders"], "orders")
    persist(orders)
    lineitem = source(data["lineitem"], "lineitem")
    persist(lineitem)
    with t.span("wrapper.plan"):
        o_f = orders.where(F.col("o_orderdate") < data["order_before"])
    persist(o_f)
    with t.span("wrapper.plan"):
        l_f = lineitem.where(F.col("l_shipdate") >= data["ship_from"])
    persist(l_f)
    with t.span("wrapper.plan"):
        joined = o_f.join(l_f, on=o_f.raw.o_orderkey == l_f.raw.l_orderkey)
    persist(joined)
    with t.span("wrapper.plan"):
        agg = joined.group_by("o_orderpriority").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    persist(agg)
    with t.span("wrapper.action"):
        rows = agg.collect()
    with t.span("session.stop"):
        ps.stop()
    rows = sorted((r["o_orderpriority"], float(r["revenue"]), int(r["n_lines"])) for r in rows)
    return ps, rows


def expected(data: dict) -> dict:
    """Operator output sizes and agg rows from DuckDB over the inputs."""
    con = duckdb.connect()
    try:
        con.execute(f"""
            CREATE VIEW o AS SELECT * FROM read_parquet({oracles.lit(data['orders'])});
            CREATE VIEW l AS SELECT * FROM read_parquet({oracles.lit(data['lineitem'])});
            CREATE VIEW o_f AS SELECT * FROM o WHERE o_orderdate < {data['order_before']};
            CREATE VIEW l_f AS SELECT * FROM l WHERE l_shipdate >= {data['ship_from']};
            CREATE VIEW j AS SELECT * FROM o_f JOIN l_f ON o_orderkey = l_orderkey;
        """)
        n = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
             for t in ("o", "l", "o_f", "l_f", "j")}
        agg = con.execute("""
            SELECT o_orderpriority, sum(l_extendedprice * (1 - l_discount)),
                   count(*) FROM j GROUP BY 1 ORDER BY 1""").fetchall()
    finally:
        con.close()
    # agg dep lists are capped per output element (wrapper.AGG_DEPS_CAP)
    assert max(r[2] for r in agg) < 10_000, "agg group exceeds the dep cap"
    return {
        "elements": n["o"] + n["l"] + n["o_f"] + n["l_f"] + n["j"] + len(agg),
        "deps": n["o_f"] + n["l_f"] + 2 * n["j"] + n["j"],
        "rows": [(k, float(v), int(c)) for k, v, c in agg],
    }


def rows_equal(a, b) -> bool:
    return len(a) == len(b) and all(
        x[0] == y[0] and x[2] == y[2] and math.isclose(x[1], y[1], rel_tol=1e-9)
        for x, y in zip(a, b)
    )


class Capture:
    name = "capture"
    item = "input row (orders + lineitem)"
    loop = "batch"
    mix = {"pass": 1.0}
    cycle = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_orders = SIZES[ctx.size]
        self.sizes = {"orders": self.n_orders, "lineitem": "~4 per order"}
        self.data = None
        self.expect = None
        self.on_rows = None
        self.off_seconds: list[float] = []

    def kind(self, i):
        return "pass"

    def setup(self, k):
        d = os.path.join(self.ctx.work, f"inputs{k}")
        if self.data:
            shutil.rmtree(os.path.dirname(self.data["orders"]), ignore_errors=True)
        with self.ctx.tracer.span("bench.inputs"):
            self.data = inputs.orders_lineitem(d, self.ctx.seed, self.n_orders)
        self.sizes["rows"] = self.data["rows"]

    def warmup(self):
        prov = os.path.join(self.ctx.work, "prov-warm")
        pipeline(self.ctx, self.data, prov)
        shutil.rmtree(prov, ignore_errors=True)

    def op(self, i):
        prov = os.path.join(self.ctx.work, f"prov-{i}")
        ps, rows = pipeline(self.ctx, self.data, prov)
        return {"items": self.data["rows"], "rows": rows, "prov": prov}

    def after_op(self, i, info, rec):
        if self.expect is None:
            self.expect = expected(self.data)
        stats = oracles.store_stats(info["prov"])
        shutil.rmtree(info["prov"], ignore_errors=True)
        rec["store"] = stats
        self.on_rows = info["rows"]
        bad = []
        if stats["elements"] != self.expect["elements"]:
            bad.append(f"elements {stats['elements']} != {self.expect['elements']}")
        if stats["deps"] != self.expect["deps"]:
            bad.append(f"deps {stats['deps']} != {self.expect['deps']}")
        if not rows_equal(info["rows"], self.expect["rows"]):
            bad.append("agg rows differ from DuckDB")
        if bad:
            rec["failure"] = "; ".join(bad)

    def install_tracing(self, tracer):
        pass  # spans are opened by pipeline() itself

    def gate(self):
        """Provenance-off passes: their agg rows must equal the captured
        pass's; traced runs time three of them for ``wrapper.overhead_x``."""
        failures = []
        tracer = self.ctx.tracer
        was, tracer.enabled = tracer.enabled, False
        try:
            for k in range(3 if self.ctx.traced else 1):
                t0 = time.perf_counter()
                _ps, off_rows = pipeline(self.ctx, self.data,
                                         os.path.join(self.ctx.work, "prov-off"),
                                         provenance=False)
                self.off_seconds.append(time.perf_counter() - t0)
                if self.on_rows is None or not rows_equal(off_rows, self.on_rows):
                    failures.append("gate: provenance-off agg rows differ")
                    break
        finally:
            tracer.enabled = was
        return failures

    def extra_metrics(self, plain):
        return store_summary(plain)

    def layer_metrics(self, per_op, spans, plain, traced):
        pass_s = median([r["seconds"] for r in plain])
        return {
            "wrapper.plan_s": per_op.get("wrapper.plan", 0.0),
            "wrapper.persist_s": per_op.get("wrapper.persist", 0.0),
            "wrapper.action_s": per_op.get("wrapper.action", 0.0),
            "wrapper.overhead_x": pass_s / median(self.off_seconds) if self.off_seconds else 0.0,
            **store_metrics(plain + traced),
        }
