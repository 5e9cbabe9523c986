#!/usr/bin/env python3
"""Synthesize the bench-only sf1 replica documented in BASELINE.md:
each fact table from sf0.1 repeated 10x with key columns offset by
replica*1e8 (joins stay consistent within a replica); region/nation
kept as-is; physical parquet types preserved via pyarrow (notably
events.ts TIMESTAMP(MICROS, isAdjustedToUTC=false), which graft.Tables
reads as TIMESTAMP_NTZ).

Usage: python3 tools/make_sf1.py [src_dir] [dst_dir]
"""
import sys
import pyarrow as pa
import pyarrow.parquet as pq

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
# optional 3rd arg: replica count (default 10 = sf1; 100 = the sf10
# decade probe). OFFSET spacing holds to 10**8 replicas of sf0.1 keys.
REPLICAS = int(sys.argv[3]) if len(sys.argv) > 3 else 10
OFFSET = 10**8
# optional 4th arg "perturbdocs": make each replica's documents.text
# CONTENT-DISTINCT by inserting a replica-specific token after every
# 3rd word (replica 0 unchanged). Verbatim replicas put every document
# into a REPLICAS-sized exact-clone group, so near-dup PAIR OUTPUT
# grows quadratically in the replica count — fine for the adjudicated
# clone benchmarks, wrong for a dedup DECADE probe, which wants the
# realistic growth model (corpus 100x, near-dup rate constant): the
# every-3rd-word insertion keeps only ~1 of 3 original 3-gram windows
# against any other replica (Jaccard ~0.2): that is below BOTH the 0.8
# verify threshold AND the 4x4 MinHash banding's effective candidate
# floor (collision ~0.2^4 per band) — an every-8th-word variant was
# measured to leak ~15% of cross-replica clone pairs as CANDIDATES
# (0.45^4 x 4 bands), which re-quadratified the probe through the
# verify stage. Within a replica both sides of a dup pair carry the
# same token stream and keep their relative overlap.
PERTURB_DOCS = len(sys.argv) > 4 and sys.argv[4] == "perturbdocs"


def perturb(text: str, r: int) -> str:
    if r == 0 or text is None:
        return text
    words = text.split(" ")
    tok = f"zrep{r}q"
    out = []
    for i, w in enumerate(words):
        out.append(w)
        if i % 3 == 2:
            out.append(tok)
    return " ".join(out)

# key columns to offset per replica — every foreign key into a
# REPLICATED table must shift with its target, or fact rows from all
# replicas fan onto replica-0 dimension rows (and 90% of the dimension
# rows dangle). nation/region are NOT replicated, so nationkey columns
# stay put.
KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": [],   # dims kept as-is
    "nation": [],
}

import os
os.makedirs(DST, exist_ok=True)
for tbl, keys in KEYS.items():
    t = pq.read_table(f"{SRC}/{tbl}.parquet")
    if not keys:
        pq.write_table(t, f"{DST}/{tbl}.parquet")
        print(f"{tbl}: copied {t.num_rows} rows")
        continue
    chunks = []
    for r in range(REPLICAS):
        cols = []
        for name in t.column_names:
            col = t.column(name)
            if name in keys and r > 0:
                typ = col.type
                import pyarrow.compute as pc
                col = pc.cast(pc.add(pc.cast(col, pa.int64()), r * OFFSET), typ)
            if PERTURB_DOCS and tbl == "documents" and name == "text":
                col = pa.array([perturb(v, r) for v in col.to_pylist()],
                               type=col.type)
            cols.append(col)
        chunks.append(pa.table(cols, names=t.column_names))
    out = pa.concat_tables(chunks)
    # preserve the original physical schema exactly (timestamp units etc.)
    out = out.cast(t.schema)
    pq.write_table(out, f"{DST}/{tbl}.parquet")
    print(f"{tbl}: {t.num_rows} -> {out.num_rows} rows")
