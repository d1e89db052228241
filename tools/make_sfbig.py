"""Build a 10x-scaled copy of sf0.1 at /tmp/sfbig for LOCAL perf checks.

The driver's round-5 bonus rebench generated /root/testdata/sf1.0 (50k docs,
20k embeddings, 6M lineitem); that directory did not survive the host reset.
This reconstructs a dataset of the same SHAPE (not the same values) by tiling
sf0.1 ten times with deterministic id offsets and small deterministic
perturbations (so near-dup/similarity workloads keep realistic collision
structure instead of 10 exact clones per row). Used ONLY for bench_extra
scale checks — never for correctness gates, never read by bench.py unless
explicitly pointed at it.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfbig"
COPIES = int(sys.argv[3]) if len(sys.argv) > 3 else 10

os.makedirs(DST, exist_ok=True)


def tile(name: str, id_offsets: dict[str, int], perturb=None) -> None:
    t = pq.read_table(f"{SRC}/{name}.parquet")
    n = t.num_rows
    parts = []
    for c in range(COPIES):
        cols = {}
        for col in t.column_names:
            arr = t.column(col)
            if col in id_offsets and c > 0:
                arr = pa.compute.add(arr, id_offsets[col] * c)
            cols[col] = arr
        tt = pa.table(cols)
        if perturb is not None and c > 0:
            tt = perturb(tt, c)
        parts.append(tt)
    out = pa.concat_tables(parts)
    pq.write_table(out, f"{DST}/{name}.parquet")
    print(f"{name}: {n} -> {out.num_rows}")


def perturb_docs(tt: pa.Table, c: int) -> pa.Table:
    # break exact duplication copy-to-copy; keeps text length distribution
    txt = pa.compute.binary_join_element_wise(
        tt.column("text").cast(pa.string()), f" v{c}", "")
    return tt.set_column(tt.schema.get_field_index("text"), "text", txt)


def perturb_emb(tt: pa.Table, c: int) -> pa.Table:
    idx = tt.schema.get_field_index("embedding")
    orig_type = tt.schema.field(idx).type
    col = tt.column("embedding").combine_chunks()
    flat = col.values.to_numpy(zero_copy_only=False).astype(np.float64)
    rng = np.random.RandomState(1000 + c)
    flat = flat + rng.normal(0.0, 0.05 * (np.std(flat) or 1.0), flat.shape)
    new = pa.ListArray.from_arrays(
        col.offsets, pa.array(flat, type=pa.float64())).cast(orig_type)
    return tt.set_column(idx, "embedding", new)


def id_span(name: str, col: str) -> int:
    """max(id) + 1: a per-copy offset under which sparse ids cannot collide."""
    t = pq.read_table(f"{SRC}/{name}.parquet", columns=[col])
    return int(pa.compute.max(t.column(col)).as_py()) + 1


def main() -> None:
    doc_span = id_span("documents", "doc_id")
    vec_span = id_span("embeddings", "vec_id")
    okey_span = id_span("orders", "o_orderkey")
    ev_span = id_span("events", "event_id")
    c_span = id_span("customer", "c_custkey")

    tile("documents", {"doc_id": doc_span}, perturb_docs)
    tile("embeddings", {"vec_id": vec_span}, perturb_emb)
    tile("lineitem", {"l_orderkey": okey_span})
    tile("orders", {"o_orderkey": okey_span, "o_custkey": c_span})
    tile("customer", {"c_custkey": c_span})
    tile("events", {"event_id": ev_span})
    for small in ("region", "nation", "supplier", "part"):
        pq.write_table(pq.read_table(f"{SRC}/{small}.parquet"),
                       f"{DST}/{small}.parquet")
        print(f"{small}: copied")


if __name__ == "__main__":
    main()
