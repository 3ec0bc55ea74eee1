#!/usr/bin/env python3
"""Compare the generated star schema with a directory of fixture tables.

    python3 perfbench/compare_fixtures.py <fixture-dir> [--seed 1]

The fixture directory holds one ``<table>.parquet`` per table (the sf0.01
or sf0.1 test data). The script generates the benchmark's base tables
(before replication) for the seed and prints one markdown row per
statistic the declared queries' cost depends on: row counts and their
ratios, document length, vocabulary and duplicate rate, vector dimension
and nearest-neighbour similarity, events per user. Nothing is written
outside a temporary directory.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import workloads  # noqa: E402

TABLES = ["customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def stats(d: str) -> dict[str, float | str]:
    """The compared statistics of the tables in directory ``d``."""
    t = {n: pq.read_table(os.path.join(d, f"{n}.parquet")) for n in TABLES}
    out: dict[str, float | str] = {f"rows {n}": t[n].num_rows for n in TABLES}
    out["lineitems per order"] = t["lineitem"].num_rows / t["orders"].num_rows
    out["orders per customer"] = t["orders"].num_rows / t["customer"].num_rows
    docs = t["documents"].to_pandas()
    tokens = docs.text.str.split()
    lens = tokens.map(len)
    out["document tokens min/median/max"] = f"{lens.min()}/{lens.median():g}/{lens.max()}"
    out["vocabulary (distinct tokens)"] = len({w for ts in tokens for w in ts})
    out["documents ending in 'dup'"] = float(docs.text.str.endswith(" dup").mean())
    out["exact duplicate texts"] = float(1 - docs.text.nunique() / len(docs))
    out["lang share en"] = float((docs.lang == "en").mean())
    out["sources"] = docs.source.nunique()
    vec = np.stack(t["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    sim = vec @ vec.T
    np.fill_diagonal(sim, -np.inf)
    out["vector dim"] = vec.shape[1]
    out["vector norm mean"] = float(np.linalg.norm(vec, axis=1).mean())
    out["nearest-neighbour cosine median"] = float(np.median(sim.max(axis=1)))
    out["labels"] = len(set(t["embeddings"].column("label").to_pylist()))
    ev = t["events"].to_pandas()
    out["events per user"] = len(ev) / ev.user_id.nunique()
    out["event value mean"] = float(ev.value.mean())
    out["event span days"] = (ev.ts.max() - ev.ts.min()).total_seconds() / 86400
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("fixtures")
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    base = gen.StarScale(**{**workloads.QUERY_SCALE.__dict__, "replicas": 1})
    with tempfile.TemporaryDirectory() as tmp:
        gen.star_schema(tmp, args.seed, base, TABLES)
        ours = stats(tmp)
    theirs = stats(args.fixtures)
    fmt = lambda v: f"{v:.4g}" if isinstance(v, float) else str(v)  # noqa: E731
    print(f"| statistic | generated (seed {args.seed}, before replication) | {os.path.basename(args.fixtures.rstrip('/'))} |")
    print("| --- | --- | --- |")
    for k in ours:
        print(f"| {k} | {fmt(ours[k])} | {fmt(theirs[k])} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
