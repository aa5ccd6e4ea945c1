"""Reference result for ``dedup_docs``: a numpy twin of the DuckDB oracle
``__spark_entry__.oracle_sql()["dedup_corpus"]``.

The DuckDB oracle finds clusters with a recursive closure. On the sf0.1
fixture (about 6M directed edges, one component of 3,728 documents) it
does not finish in half an hour, so the benchmark checks against this
twin instead. It follows the oracle step by step: the same
normalization, word sets split on single spaces, pairs with Jaccard
>= threshold, exact-text edges, and each document's cluster
representative is the smallest ``doc_id`` in its connected component.

    python3 perfbench/dedup_oracle.py --docs 300 --seeds 1,2,3

compares the twin with DuckDB on seeded samples of the fixture small
enough for DuckDB to finish. Run it from the root of a checkout.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DOCUMENTS = os.path.join(HERE, "data", "documents.parquet")
# rows of the pair matrix per block; bounds memory to BLOCK x n
BLOCK = 512


def normalize(text: str | None) -> str:
    """Twin of ``__spark_entry__._normalize_sql`` (RE2's ``\\s`` is ASCII)."""
    t = re.sub(r"[\x00-\x1f\x7f]", " ", text or "")
    t = re.sub(r"(https?://|www\.)[^\t\n\f\r ]+", "<url>", t)
    t = re.sub(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<email>", t)
    return re.sub(r"[\t\n\f\r ]+", " ", t.lower()).strip(" \t\n\f\r")


def dedup_corpus(docs: pd.DataFrame, threshold: float = 0.8) -> pd.DataFrame:
    """``(doc_id, cluster_rep, is_survivor)`` for ``docs(doc_id, text)``."""
    ids = docs["doc_id"].to_numpy(np.int64)
    norm = [normalize(t) for t in docs["text"]]
    sets = [{w for w in t.split(" ") if w} for t in norm]
    vocab = {w: i for i, w in enumerate(sorted(set().union(*sets)))}
    words = np.zeros((len(ids), len(vocab)), np.float32)
    for i, s in enumerate(sets):
        words[i, [vocab[w] for w in s]] = 1.0
    sizes = words.sum(axis=1)
    us, vs = [], []
    for lo in range(0, len(ids), BLOCK):
        inter = words[lo : lo + BLOCK] @ words.T
        union = sizes[lo : lo + BLOCK, None] + sizes[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            near = (inter > 0) & (inter.astype(np.float64) / union >= threshold)
        a, b = np.nonzero(near)
        a += lo
        keep = a < b
        us.append(a[keep])
        vs.append(b[keep])
    first: dict[str, int] = {}
    for i, t in enumerate(norm):
        j = first.setdefault(t, i)
        if j != i:
            us.append(np.array([j]))
            vs.append(np.array([i]))
    u, v = np.concatenate(us), np.concatenate(vs)
    # min-label propagation converges to each component's smallest doc_id
    rep = ids.copy()
    while True:
        new = rep.copy()
        np.minimum.at(new, u, rep[v])
        np.minimum.at(new, v, rep[u])
        if np.array_equal(new, rep):
            break
        rep = new
    return pd.DataFrame({"doc_id": ids, "cluster_rep": rep, "is_survivor": rep == ids})


def same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    cols = ["doc_id", "cluster_rep", "is_survivor"]
    types = {"doc_id": "int64", "cluster_rep": "int64", "is_survivor": bool}
    a = got[cols].astype(types).sort_values("doc_id").reset_index(drop=True)
    b = want[cols].astype(types).sort_values("doc_id").reset_index(drop=True)
    return a.equals(b)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Compare the twin with the DuckDB oracle.")
    ap.add_argument("--docs", type=int, default=300)
    ap.add_argument("--seeds", default="1,2,3")
    args = ap.parse_args(argv)

    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    import __spark_entry__ as E

    fixture = pd.read_parquet(DOCUMENTS)
    bad = 0
    for seed in (int(s) for s in args.seeds.split(",")):
        docs = fixture.sample(n=args.docs, random_state=seed)
        con = duckdb.connect()
        try:
            con.register("documents", docs)
            want = con.execute(E.oracle_sql()["dedup_corpus"]).df()
        finally:
            con.close()
        got = dedup_corpus(docs)
        ok = same(got, want)
        bad += not ok
        sizes = got.groupby("cluster_rep").size()
        print(f"seed {seed}: {args.docs} docs, {len(sizes)} clusters, largest {sizes.max()}: "
              f"{'equal' if ok else 'DIFFERENT'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
