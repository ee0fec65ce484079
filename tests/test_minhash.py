"""MinHash-LSH curation: md5 signature parity with the DuckDB oracle, and
a Spark job count that does not grow with cluster diameter."""

import hashlib
import random
import uuid

import duckdb
import pyarrow as pa
import pytest

from samba_spark.operators import dedup
from samba_spark.queries.extensions import _LSH_PAIRS_CTES

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "tabs\tand\nnewlines   and  repeated    spaces here",
    "  leading and trailing blanks  ",
    "UPPER Case Words Mixed With lower case words",
    "Äpfel Öl über café naïve Straße 東京 Ünïcode",
    "single",
    "two words",
    "",
    None,
    "the quick brown fox jumps over the lazy cat",
]


def _duckdb_signatures(texts):
    """x3's ``sig`` CTE over the same documents: the oracle."""
    con = duckdb.connect()
    try:
        documents = pa.table(
            {"doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
             "text": pa.array(texts, pa.string())}
        )
        con.register("documents", documents)
        rows = con.execute(
            f"WITH {_LSH_PAIRS_CTES} SELECT doc_id, sig FROM sig"
        ).fetchall()
    finally:
        con.close()
    return {doc_id: list(sig) for doc_id, sig in rows}


@pytest.mark.parametrize("id_type", ["int", "long"])
def test_md5_signatures_match_duckdb_sig_cte(spark, id_type):
    docs = spark.createDataFrame(
        list(enumerate(TEXTS, 1)), f"doc_id {id_type}, text string"
    )
    sigs = dedup.minhash_signatures(docs)
    want_type = "int" if id_type == "int" else "bigint"
    assert sigs.schema.simpleString() == (
        f"struct<doc_id:{want_type},sig:array<bigint>>"
    )
    got = {r.doc_id: list(r.sig) for r in sigs.collect()}
    assert len(got) == len(TEXTS)
    oracle = _duckdb_signatures(TEXTS)
    blank_ids = {TEXTS.index("") + 1, TEXTS.index(None) + 1}
    # DuckDB shingles an empty or null text into one NULL shingle, so its
    # signature there is all NULL; every other text must agree
    assert set(oracle) == set(got)
    for doc_id, sig in oracle.items():
        if doc_id in blank_ids:
            assert sig == [None] * len(dedup.MINHASH_A)
        else:
            assert got[doc_id] == sig, TEXTS[doc_id - 1]
    # here both get the signature of the one shingle "":
    # (A_j * base("") + B_j) mod P
    base = int(hashlib.md5(b"").hexdigest()[:8], 16)
    empty_sig = [
        (a * base + b) % dedup.MINHASH_P
        for a, b in zip(dedup.MINHASH_A, dedup.MINHASH_B)
    ]
    assert [got[doc_id] for doc_id in blank_ids] == [empty_sig] * 2


def _base(shingle):
    return int(hashlib.md5(shingle.encode()).hexdigest()[:8], 16) / 2**32


def _chain_texts(n_docs, seed=0):
    """Nine-token documents whose candidate graph, under 12 hashes in 3
    bands, is the path 1 - 2 - ... - n_docs.

    Why not the default 64 hashes in 16 bands: every md5-family
    permutation h_j(x) = (A_j x + B_j) mod P wraps at most once, and each
    of those 16 bands holds a row that never wraps (band 11 holds four),
    so two documents are candidates exactly when they share their
    minimum-base shingle — every default cluster is a clique. Rows 0-11
    wrap at base fractions 0.5045/0.9359 (band 0), 0.5602/0.7258 (band 1)
    and 0.7632 (band 2); a wrapping row's minimum goes to the value just
    above its wrap point when that value is closer to it than the
    document's minimum is to 0. So every document shares the minimum
    shingle m (base 0.04-0.05); link k is a shingle shared by documents
    k and k+1 (k even: base 0.56-0.59, band 1 links them; k odd:
    0.78-0.80, band 2 links them); a last shingle of its own (base
    0.937-0.96) takes band 0's 0.9359 row, so band 0 never links; and
    every other shingle sits in 0.1-0.5, where no row picks it."""
    rng = random.Random(seed)

    def pick(ok):
        while True:
            word = f"w{rng.randrange(10**9)}"
            if ok(word):
                return word

    def filler(*words):
        return 0.1 < _base(" ".join(words)) < 0.5

    m3 = pick(lambda w: 0.04 <= _base(f"m1 m2 {w}") < 0.05)
    links = []
    for k in range(n_docs + 1):
        lo, hi = (0.56, 0.59) if k % 2 == 0 else (0.78, 0.80)
        x = pick(lambda w: not links or filler(*links[-1][1:], w))
        y = pick(lambda w: not links or filler(links[-1][2], x, w))
        z = pick(lambda w: lo <= _base(f"{x} {y} {w}") < hi)
        links.append((x, y, z))
    texts = []
    for k in range(n_docs):
        (x, y, z), (x2, y2, z2) = links[k], links[k + 1]
        p = pick(lambda w: filler("m2", m3, w) and filler(m3, w, x)
                 and filler(w, x, y))
        q = pick(lambda w: filler(y2, z2, w))
        r = pick(lambda w: filler(z2, q, w))
        s = pick(lambda w: 0.937 <= _base(f"{q} {r} {w}") < 0.96)
        texts.append(f"m1 m2 {m3} {p} {x} {y} {z} {x2} {y2} {z2} {q} {r} {s}")
    return texts


def _diameter(pairs):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    longest = 0
    for start in adj:
        dist = {start: 0}
        frontier = [start]
        for v in frontier:
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    frontier.append(w)
        longest = max(longest, max(dist.values()))
    return longest


def test_dedup_job_count_flat_in_cluster_diameter(spark):
    kw = {"num_hashes": 12, "bands": 3}
    chain = _chain_texts(9)
    corpora = {"copies": [chain[0]] * 9, "chain": chain}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs, diameters = {}, {}
    for name, texts in corpora.items():
        docs = spark.createDataFrame(
            list(enumerate(texts, 1)), "doc_id long, text string"
        )
        pairs = dedup.lsh_candidate_pairs(docs, **kw).collect()
        diameters[name] = _diameter((r.doc_a, r.doc_b) for r in pairs)
        dedup.minhash_lsh_dedup(docs, **kw).collect()  # warm
        group = f"minhash-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            clusters = dedup.minhash_lsh_dedup(docs, **kw).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(tracker.getJobIdsForGroup(group))
        assert {(r.doc_id, r.cluster_id) for r in clusters} == {
            (d, 1) for d in range(1, 10)
        }
    assert diameters["copies"] == 1 and diameters["chain"] == 8
    assert jobs["copies"] == jobs["chain"] > 0, jobs
