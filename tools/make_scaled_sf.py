#!/usr/bin/env python
"""Build a key-shifted N-fold replica of a testdata scale factor for
scaling spot-checks (VERDICT r4 ask #6: sf0.1-only bench history can't
see nonlinearities — candidate-pair blowup, skew — that a 10x input
exposes).

Replica i shifts every entity key by i * stride (stride = a power of 10
above the table's max key), so referential integrity holds WITHIN a
replica and replicas never collide: joins fan out linearly, aggregates
get 10x groups, exactly what a larger scale factor would do. Dimension
tables that a bigger TPC-H would NOT grow (nation, region) are copied
once. Document text gets a one-token replica prefix so the dedup family
sees 10 near-duplicate families instead of 10 exact clones of the
corpus — near-dup candidate generation is stressed, trivial exact-dup
shortcuts are not rewarded. Embedding vectors are reused as-is (vec_id
shifted): ANN bucket occupancy grows 10x, the realistic stress.

Schemas are preserved exactly (the timestamp columns stay INT64
TIMESTAMP(MICROS), the type schemas.TABLE_SCHEMAS declares), one file
per table named <table>.parquet, matching the driver layout.

Usage: python tools/make_scaled_sf.py [src_dir] [dst_dir] [factor]
           [--unique-text | --realistic-dups] [--dup-frac=0.1]
Defaults: /root/testdata/sf0.1 -> <repo>/.scratch/sf1 x10.

--unique-text (r5 VERDICT ask #5 control): instead of the one-token
near-dup prefix, every token after the first in replica i>0 gets an
"u{i}" prefix (one vectorized substring replace), so replicas share
essentially no shingles with the original or each other — near-dup
rate ~0 while within-replica document relationships are preserved.
Used to attribute superlinear scaling: if a ratio is caused by
dup-family output volume it collapses on this corpus; if it is
intrinsic to the operator it does not.

--realistic-dups (r9 VERDICT ask #6): the default mode turns EVERY doc
into an N-member near-dup family, so pair volume grows ~N^2/2-fold and
graph/prefix walls measure output blow-up, not engine scaling. This
mode keeps the near-dup RATE ~constant under scaling: within replica
i>0, a deterministic per-(doc, replica) hash selects ~dup-frac of docs
(default 10%) to stay near-dups of their original (the one-token
prefix); the rest uniquify (the --unique-text transform). Family sizes
are then 1 + Binomial(factor-1, dup-frac) — constant in expectation as
factor grows — so pair volume scales ~linearly with rows, the way a
real crawl's dup rate behaves under corpus growth.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# key columns shifted per replica, by table
SHIFT_KEYS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_ONCE = ["region", "nation"]
# the key space each shifted column lives in (stride must clear the max
# of the REFERENCED table: o_custkey shifts by the customer stride, etc.)
KEY_SPACE = {
    "c_custkey": "customer.c_custkey",
    "s_suppkey": "supplier.s_suppkey",
    "p_partkey": "part.p_partkey",
    "o_orderkey": "orders.o_orderkey",
    "o_custkey": "customer.c_custkey",
    "l_orderkey": "orders.o_orderkey",
    "l_partkey": "part.p_partkey",
    "l_suppkey": "supplier.s_suppkey",
    "event_id": "events.event_id",
    "user_id": "events.user_id",
    "doc_id": "documents.doc_id",
    "vec_id": "embeddings.vec_id",
}


def _stride(max_val: int) -> int:
    s = 10
    while s <= max_val:
        s *= 10
    return s


def _dup_mask(doc_ids: pa.Array, i: int, frac: float) -> pa.Array:
    """Deterministic per-(doc, replica) selection: multiplicative hash
    into [0, 2^31), keep < frac. Different docs per replica, so family
    sizes stay ~1 + Binomial(factor-1, frac) instead of growing with
    the factor."""
    h = pc.add(
        pc.multiply(doc_ids, pa.scalar(2654435761, type=pa.int64())),
        pa.scalar(i * 0x9E3779B1, type=pa.int64()),
    )
    h = pc.bit_wise_and(h, pa.scalar(0x7FFFFFFF, type=pa.int64()))
    return pc.less(h, pa.scalar(int(frac * (1 << 31)), type=pa.int64()))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    unique_text = "--unique-text" in sys.argv[1:]
    realistic = "--realistic-dups" in sys.argv[1:]
    dup_frac = 0.1
    for a in sys.argv[1:]:
        if a.startswith("--dup-frac="):
            dup_frac = float(a.split("=", 1)[1])
    if unique_text and realistic:
        raise SystemExit("--unique-text and --realistic-dups are exclusive")
    src = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    dst = (
        args[1]
        if len(args) > 1
        else os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1")
    )
    factor = int(args[2]) if len(args) > 2 else 10
    os.makedirs(dst, exist_ok=True)

    tables = {
        name: pq.read_table(os.path.join(src, f"{name}.parquet"))
        for name in list(SHIFT_KEYS) + COPY_ONCE
    }
    strides = {
        space: _stride(pc.max(tables[space.split(".")[0]][space.split(".")[1]]).as_py())
        for space in set(KEY_SPACE.values())
    }

    for name in COPY_ONCE:
        pq.write_table(tables[name], os.path.join(dst, f"{name}.parquet"), version="2.6")

    for name, keys in SHIFT_KEYS.items():
        t = tables[name]
        replicas = []
        for i in range(factor):
            r = t
            for k in keys:
                shift = i * strides[KEY_SPACE[k]]
                col = pc.add(r[k], pa.scalar(shift, type=r.schema.field(k).type))
                r = r.set_column(r.schema.get_field_index(k), r.schema.field(k), col)
            if name == "documents" and i > 0:
                if unique_text:
                    # prefix every non-initial token with u{i}: replicas
                    # share ~no shingles with the original (control run)
                    txt = pc.replace_substring(r["text"], " ", f" u{i}").cast(
                        r.schema.field("text").type
                    )
                elif realistic:
                    # ~dup_frac of this replica's docs stay near-dups of
                    # their original; the rest uniquify — constant dup
                    # RATE under scaling (see module docstring)
                    near = pc.binary_join_element_wise(
                        pa.array([f"rep{i}"] * len(r)), r["text"], " "
                    )
                    uniq = pc.replace_substring(r["text"], " ", f" u{i}")
                    mask = _dup_mask(r["doc_id"].combine_chunks(), i, dup_frac)
                    txt = pc.if_else(mask, near, uniq).cast(
                        r.schema.field("text").type
                    )
                else:
                    # one-token prefix: replicas are near-dups, not clones
                    txt = pc.binary_join_element_wise(
                        pa.array([f"rep{i}"] * len(r)), r["text"], " "
                    ).cast(r.schema.field("text").type)
                r = r.set_column(
                    r.schema.get_field_index("text"), r.schema.field("text"), txt
                )
            replicas.append(r)
        out = pa.concat_tables(replicas)
        pq.write_table(out, os.path.join(dst, f"{name}.parquet"), version="2.6")
        print(f"{name}: {len(t)} -> {len(out)} rows")


if __name__ == "__main__":
    main()
