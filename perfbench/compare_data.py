"""Compare the benchmark's generated inputs with a directory of reference
tables of the same scale factor.

    python3 perfbench/compare_data.py REFERENCE_DIR [--sf 0.01]

REFERENCE_DIR holds the ten ``{table}.parquet`` files the query registry
reads. For every table the script prints whether the generated table is
identical; for every column that is not, it prints the distinct count and
the quartiles (or the share of each value) on both sides. A few structural
figures the costly queries depend on follow: events per user, the share
of a user's events within 30 minutes of the previous one, lines per
order, the share of near-duplicate documents, and how well an embedding's
nearest neighbour predicts its label. Output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow.parquet as pq

import datagen
from run import DATA_SEED


def column_summary(s) -> dict:
    out = {"distinct": int(s.astype(str).nunique())}
    if s.dtype.kind in "ifM":
        q = s.quantile([0.0, 0.25, 0.5, 0.75, 1.0])
        out["quartiles"] = [str(v) if s.dtype.kind == "M" else round(float(v), 4) for v in q]
    elif out["distinct"] <= 12:
        out["shares"] = {k: round(v, 4) for k, v in s.value_counts(normalize=True).sort_index().items()}
    return out


def structure(frames: dict) -> dict:
    ev, li, docs, emb = (frames[t] for t in ("events", "lineitem", "documents", "embeddings"))
    per_user = ev.groupby("user_id").size()
    gaps = ev.sort_values(["user_id", "ts"]).groupby("user_id").ts.diff().dt.total_seconds()
    lines = li.groupby("l_orderkey").size()
    x = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    sim = x @ x.T
    np.fill_diagonal(sim, -2.0)
    nn_label = emb.label.to_numpy()[sim.argmax(axis=1)]
    return {
        "events_per_user_quartiles": [float(v) for v in per_user.quantile([0, 0.25, 0.5, 0.75, 1])],
        "user_gap_under_30min_share": round(float((gaps < 1800).mean()), 4),
        "orders_without_lines": int(len(frames["orders"]) - lines.size),
        "lines_per_order_quartiles": [float(v) for v in lines.quantile([0, 0.25, 0.5, 0.75, 1])],
        "docs_ending_in_dup_share": round(float(docs.text.str.endswith(" dup").mean()), 4),
        "doc_words_quartiles": [float(v) for v in docs.text.str.split().str.len().quantile([0, 0.25, 0.5, 0.75, 1])],
        "embedding_nn_label_agreement": round(float((nn_label == emb.label.to_numpy()).mean()), 4),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    generated = datagen.build_tables(args.sf, DATA_SEED)
    ref_frames, gen_frames, tables = {}, {}, {}
    for name in datagen.TABLES:
        ref = pq.read_table(os.path.join(args.reference_dir, f"{name}.parquet"))
        gen = generated[name]
        entry = {"rows": [ref.num_rows, gen.num_rows], "identical": ref.equals(gen)}
        ref_frames[name], gen_frames[name] = ref.to_pandas(), gen.to_pandas()
        if not entry["identical"]:
            entry["columns_differing"] = {
                c: {"reference": column_summary(ref_frames[name][c]),
                    "generated": column_summary(gen_frames[name][c]),
                    "rows_differing": int((ref_frames[name][c].astype(str)
                                           != gen_frames[name][c].astype(str)).sum())}
                for c in ref.column_names
                if not ref.column(c).equals(gen.column(c))
            }
        tables[name] = entry
    print(json.dumps({"sf": args.sf, "data_seed": DATA_SEED, "tables": tables,
                      "structure": {"reference": structure(ref_frames),
                                    "generated": structure(gen_frames)}}, indent=1))


if __name__ == "__main__":
    main()
