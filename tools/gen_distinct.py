#!/usr/bin/env python3
"""Generate GENUINELY-DISTINCT embedding probe corpora (r12).

The replicated scale tiers (10×–1000× copies of an sf dir) repeat
identical vectors with shifted ids, so at any replication factor a
SemDeDup-style exact-collapse reduces them to the base 2,000
representatives — useful for dup-heavy-corpus probes,
useless for exercising adaptive-k / two-level-quantizer behavior.
These corpora are 40 loose gaussian cones (so k-means has real density
shape), all vectors distinct, deterministic (seed 42).

Usage: python3 tools/gen_distinct.py  →  /tmp/graft_distinct200k,
/tmp/graft_distinct2m (embeddings.parquet only — q187 reads nothing
else). Referenced by BASELINE.md's r12 q187 tier tables.
"""
import numpy as np, pyarrow as pa, pyarrow.parquet as pq, os

rng = np.random.default_rng(42)
for n, name in [(200_000, '/tmp/graft_distinct200k'),
                (2_000_000, '/tmp/graft_distinct2m')]:
    os.makedirs(name, exist_ok=True)
    centers = rng.normal(0, 1, (40, 64))
    idx = rng.integers(0, 40, n)
    vecs = centers[idx] + rng.normal(0, 0.35, (n, 64))
    t = pa.table({'vec_id': pa.array(np.arange(n), pa.int64()),
                  'embedding': pa.array(list(vecs), pa.list_(pa.float64()))})
    pq.write_table(t, f'{name}/embeddings.parquet')
    print(name, t.num_rows)
