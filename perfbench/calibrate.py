#!/usr/bin/env python3
"""Compare the generator's data with a reference dataset.

    python3 perfbench/calibrate.py <reference_dir> [--seed N]

``reference_dir`` holds the raw tables in ``catalog.load``'s layout (the
repository's test data, TESTDATA.md). The scale factor is read from its
``orders`` row count; the generator writes the same scale for ``--seed``
into a temp dir under the checkout, and both are profiled side by side
on what the workloads' costs depend on: row counts, the document vocabulary, length
and near-duplicate share, language shares, embedding width and norm,
users and value spread of ``events``, and the date ranges. The per-op
costs are compared by running ``run.py --data <reference_dir>`` beside
a generated run at the same scale.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def profile(d: str) -> dict:
    def table(name: str, columns=None):
        return pq.read_table(os.path.join(d, f"{name}.parquet"), columns=columns)

    out: dict = {f"rows.{t}": pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows
                 for t in gen.TABLES}
    docs = table("documents", ["text", "lang"]).to_pydict()
    words = [t.split() for t in docs["text"]]
    lengths = np.array([len(w) for w in words])
    out["docs.vocabulary"] = len({w for ws in words for w in ws})
    out["docs.words_p10_p50_p90"] = np.percentile(lengths, [10, 50, 90]).tolist()
    out["docs.words_min_max"] = [int(lengths.min()), int(lengths.max())]
    out["docs.dup_share"] = sum(t.endswith(" dup") for t in docs["text"]) / len(words)
    langs = collections.Counter(docs["lang"])
    out["docs.lang_shares"] = {k: round(v / len(words), 3) for k, v in sorted(langs.items())}
    vecs = np.array(table("embeddings", ["embedding"])["embedding"].to_pylist())
    out["embeddings.dim"] = vecs.shape[1]
    out["embeddings.norm_p50"] = float(np.median(np.linalg.norm(vecs, axis=1)))
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit @ unit.T
    np.fill_diagonal(sims, -1.0)
    out["embeddings.nn_cos_p50"] = float(np.median(sims.max(axis=1)))
    ev = table("events", ["ts", "user_id", "value"])
    out["events.users"] = len(pc.unique(ev["user_id"]))
    out["events.value_p50_p99"] = np.percentile(ev["value"].to_numpy(), [50, 99]).round(2).tolist()
    out["events.ts_range"] = [str(pc.min(ev["ts"]).as_py())[:10], str(pc.max(ev["ts"]).as_py())[:10]]
    od = table("orders", ["o_orderdate"])["o_orderdate"]
    out["orders.date_range"] = [str(pc.min(od).as_py())[:10], str(pc.max(od).as_py())[:10]]
    sd = table("lineitem", ["l_shipdate"])["l_shipdate"]
    out["lineitem.shipdate_range"] = [str(pc.min(sd).as_py())[:10], str(pc.max(sd).as_py())[:10]]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference_dir")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sf = pq.read_metadata(os.path.join(args.reference_dir, "orders.parquet")).num_rows / 1_500_000
    tmp = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".perfbench_tmp", f"calibrate-{os.getpid()}")
    try:
        gen.generate(tmp, args.seed, sf)
        ref, got = profile(args.reference_dir), profile(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"sf {sf:g}: reference | generated (seed {args.seed})")
    for key in ref:
        print(f"  {key}: {json.dumps(ref[key])} | {json.dumps(got[key])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
