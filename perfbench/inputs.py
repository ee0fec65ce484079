"""Seeded input generators. The same seed gives byte-identical inputs;
sizes are fixed per size class, so seeds change values, not volume."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DATE_SPAN = 2400  # order/ship dates are day numbers in [0, DATE_SPAN)


def orders_lineitem(out_dir: str, seed: int, n_orders: int) -> dict:
    """TPC-H-shaped ``orders`` and ``lineitem`` parquet files (1-7 lines
    per order) plus the seeded predicate constants of the capture
    pipeline, chosen so each filter keeps 49-51% of its input (a wider
    range makes the join, and so the pass, differ by seed)."""
    rng = np.random.default_rng(seed)
    keys = np.arange(1, n_orders + 1, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, max(n_orders // 10, 2), n_orders),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        "o_orderdate": rng.integers(0, DATE_SPAN, n_orders).astype(np.int32),
        "o_totalprice": np.round(rng.random(n_orders) * 50_000, 2),
    })
    per_order = rng.integers(1, 8, n_orders)
    l_keys = np.repeat(keys, per_order)
    n = len(l_keys)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    lineitem = pa.table({
        "l_orderkey": l_keys,
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.random(n) * 10_000, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_shipdate": rng.integers(0, DATE_SPAN, n).astype(np.int32),
    })
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "orders": os.path.join(out_dir, "orders.parquet"),
        "lineitem": os.path.join(out_dir, "lineitem.parquet"),
    }
    pq.write_table(orders, paths["orders"])
    pq.write_table(lineitem, paths["lineitem"])
    return {
        **paths,
        "rows": n_orders + n,
        "order_before": int(DATE_SPAN * rng.uniform(0.49, 0.51)),
        "ship_from": int(DATE_SPAN * rng.uniform(0.49, 0.51)),
    }


def sequence_groups(out_dir: str, seed: int, n_groups: int, lines: int,
                    repeat_share: float = 0.25) -> list[dict]:
    """One directory per file group holding ``input.fasta``: ``lines``
    lines of 60 bases. A ``repeat_share`` of the groups copy an earlier
    group's sequence, so downstream outputs repeat and blob dedup works."""
    rng = np.random.default_rng(seed)
    bases = np.frombuffer(b"ACGT", dtype=np.uint8)
    contents: list[bytes] = []
    groups = []
    for g in range(n_groups):
        if contents and rng.random() < repeat_share:
            content = contents[int(rng.integers(0, len(contents)))]
        else:
            seq = bases[rng.integers(0, 4, lines * 60)].reshape(lines, 60)
            content = b"".join(row.tobytes() + b"\n" for row in seq)
        contents.append(content)
        name = f"g{g:03d}"
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "input.fasta")
        with open(path, "wb") as fh:
            fh.write(content)
        groups.append({"name": name, "path": path, "content": content})
    return groups


def corpus(path: str, seed: int, n_docs: int, dup_share: float = 0.2,
           vocab_size: int = 4000) -> dict:
    """Documents of 80-120 words over a seeded vocabulary. A ``dup_share``
    of them are near-duplicates of an original document (two words
    replaced), so MinHash-LSH finds small star-shaped clusters; the rest
    share almost no 3-gram. Copying only originals keeps every cluster's
    diameter at most 2, so connected components take the same number of
    rounds whatever the seed."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({
        "".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))])
        for _ in range(vocab_size)
    })
    n_dups = int(n_docs * dup_share)
    n_orig = n_docs - n_dups
    texts: list[list[str]] = []
    for _ in range(n_orig):
        texts.append([vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(80, 121)))])
    for _ in range(n_dups):
        words = list(texts[int(rng.integers(0, n_orig))])
        for pos in rng.integers(0, len(words), 2):
            words[int(pos)] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(words)
    order = rng.permutation(n_docs)
    docs = [" ".join(texts[i]) for i in order]
    table = pa.table({
        "doc_id": np.arange(1, n_docs + 1, dtype=np.int64),
        "text": docs,
        "source": [f"s{i % 7}" for i in range(n_docs)],
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return {"path": path, "docs": n_docs, "texts": docs}
