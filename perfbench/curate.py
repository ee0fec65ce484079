"""``curate``: an LLM-data curation pass with task-level provenance only.

One pass = read the generated corpus through a ``ProvSession`` → text
stats (``operators.textual.text_stats``) → MinHash-LSH fuzzy dedup
(``operators.dedup.minhash_lsh_dedup``, clustered by
``operators.graph.connected_components``) → keep one document per
cluster → ``ProvSession.stop``. The seed picks the vocabulary, the texts
and which documents are near-duplicates of which."""

from __future__ import annotations

import os
import shutil

import duckdb

from perfbench import inputs, oracles
from perfbench.harness import store_metrics

SIZES = {"full": 400, "smoke": 120}  # documents


def shingle_set(text: str, n: int = 3) -> set:
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


class Curate:
    name = "curate"
    item = "document"
    loop = "batch"
    mix = {"pass": 1.0}
    cycle = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_docs = SIZES[ctx.size]
        self.sizes = {"documents": self.n_docs, "near_duplicate_share": 0.2}
        self.corpus = None
        self.clusters = None
        self.pairs: list = []
        self.pairs_df = None

    def kind(self, i):
        return "pass"

    def setup(self, k):
        if self.corpus:
            shutil.rmtree(os.path.dirname(self.corpus["path"]), ignore_errors=True)
        path = os.path.join(self.ctx.work, f"corpus{k}", "documents.parquet")
        with self.ctx.tracer.span("bench.inputs"):
            self.corpus = inputs.corpus(path, self.ctx.seed, self.n_docs)

    def _pass(self, tag):
        from pyspark.sql import functions as F

        from samba_spark.operators import dedup, textual
        from samba_spark.session import ProvSession

        t = self.ctx.tracer
        with t.span("session.open"):
            ps = ProvSession(self.ctx.spark, name="curate",
                             prov_dir=os.path.join(self.ctx.work, f"prov-{tag}"))
        if t.enabled:
            t.patch(ps.store, "flush", "store.flush")
        with t.span("wrapper.plan"):
            docs = ps.read_parquet(self.corpus["path"], "corpus")
        with t.span("textual.stats"):
            words = textual.text_stats(docs.df).agg(F.sum("n_words")).collect()[0][0]
        with t.span("dedup.minhash_lsh"):
            clusters = dedup.minhash_lsh_dedup(docs.df)
            rows = clusters.collect()
        view = f"perfbench_clusters_{tag}"
        clusters.createOrReplaceTempView(view)
        with t.span("wrapper.plan"):
            dropped = ps.sql(f"SELECT doc_id FROM {view} WHERE doc_id <> cluster_id",
                             name="near-duplicates")
            kept = docs.join(dropped, on="doc_id", how="left_anti")
        with t.span("wrapper.action"):
            n_kept = kept.count()
        with t.span("session.stop"):
            ps.stop()
        self.ctx.spark.catalog.dropTempView(view)
        return {"items": self.n_docs, "words": words, "n_kept": n_kept,
                "clusters": sorted((r["doc_id"], r["cluster_id"]) for r in rows),
                "prov": ps.prov_dir}

    def warmup(self):
        info = self._pass("warm")
        shutil.rmtree(info["prov"], ignore_errors=True)

    def op(self, i):
        return self._pass(i)

    def after_op(self, i, info, rec):
        if self.pairs_df is not None:
            self.pairs = [(r["doc_a"], r["doc_b"]) for r in self.pairs_df.collect()]
            self.pairs_df = None
        stats = oracles.store_stats(info["prov"])
        shutil.rmtree(info["prov"], ignore_errors=True)
        rec["store"] = stats
        if self.clusters is None:
            self.clusters = info["clusters"]
        bad = []
        if info["clusters"] != self.clusters:
            bad.append("clusters changed between passes")
        want_words = sum(len(text.split()) for text in self.corpus["texts"])
        if info["words"] != want_words:
            bad.append(f"text stats: {info['words']} words, want {want_words}")
        in_clusters = {d for d, _c in info["clusters"]}
        n_clusters = len({c for _d, c in info["clusters"]})
        if info["n_kept"] != self.n_docs - len(in_clusters) + n_clusters:
            bad.append(f"kept {info['n_kept']} documents")
        if bad:
            rec["failure"] = "; ".join(bad)

    def install_tracing(self, tracer):
        """Split minhash_lsh_dedup into its three steps: the engine calls
        them through module globals, so wrapping those attributes puts a
        materialized span around each."""
        from samba_spark.operators import dedup, graph

        def keep_pairs(rec, df):
            self.pairs_df = df  # collected in after_op, outside the span

        tracer.patch(dedup, "minhash_signatures", "dedup.signature", materialize=True)
        tracer.patch(dedup, "lsh_candidate_pairs", "dedup.candidates",
                     materialize=True, on_result=keep_pairs)
        tracer.patch(graph, "connected_components", "graph.cluster", materialize=True)

    def gate(self):
        """Cluster assignment against DuckDB running x3's oracle SQL over
        the generated corpus."""
        from samba_spark.queries.extensions import X_MINHASH_LSH_SQL

        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"{oracles.lit(self.corpus['path'])})")
            want = sorted(tuple(r) for r in con.execute(X_MINHASH_LSH_SQL).fetchall())
        finally:
            con.close()
        if self.clusters != want:
            return [f"gate: {len(self.clusters or [])} clustered documents, "
                    f"DuckDB replay has {len(want)} (or assignments differ)"]
        return []

    def extra_metrics(self, plain):
        return {"clustered_docs": len(self.clusters or [])}

    def layer_metrics(self, per_op, spans, plain, traced):
        texts = dict(zip(range(1, self.n_docs + 1), self.corpus["texts"]))
        verified = sum(
            1 for a, b in self.pairs
            if jaccard(shingle_set(texts[a]), shingle_set(texts[b])) >= 0.8
        )
        return {
            "textual.stats_s": per_op.get("textual.stats", 0.0),
            "dedup.signature_s": per_op.get("dedup.signature", 0.0),
            "dedup.candidates_s": per_op.get("dedup.candidates", 0.0),
            "dedup.cluster_s": per_op.get("graph.cluster", 0.0),
            "dedup.candidate_pairs": len(self.pairs),
            "dedup.pair_precision": verified / len(self.pairs) if self.pairs else 0.0,
            **store_metrics(plain + traced),
        }


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0
