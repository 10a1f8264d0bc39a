"""Seeded benchmark inputs.

The base data is the sf0.01 TPC-H-style corpus under perfbench/data. A seed
applies a permutation to each key column's own value set, then the same
map to every foreign key that references it. Row counts, value ranges,
degree histograms and referential integrity stay exactly as they are;
hash placement, md5-derived pivots and tie-breaks change. Seed 0 is the
identity. Generated directories are cached per seed under the work dir.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings"]

# key column -> (table, column) of the key itself, then every reference to it
KEYS = [
    (("region", "r_regionkey"), [("nation", "n_regionkey")]),
    (("nation", "n_nationkey"), [("customer", "c_nationkey"), ("supplier", "s_nationkey")]),
    (("customer", "c_custkey"), [("orders", "o_custkey")]),
    (("supplier", "s_suppkey"), [("lineitem", "l_suppkey")]),
    (("part", "p_partkey"), [("lineitem", "l_partkey")]),
    (("orders", "o_orderkey"), [("lineitem", "l_orderkey")]),
    (("documents", "doc_id"), []),
    (("embeddings", "vec_id"), []),
]


def _remap(column, values, image):
    """Map each element found in `values` (sorted) to `image`; others stay."""
    arr = column.to_numpy(zero_copy_only=False)
    pos = np.searchsorted(values, arr)
    pos = np.clip(pos, 0, len(values) - 1)
    hit = values[pos] == arr
    out = np.where(hit, image[pos], arr).astype(arr.dtype)
    mask = pc.is_null(column).to_numpy(zero_copy_only=False)
    return pa.array(out, type=column.type, mask=mask if mask.any() else None)


def _fk_counts(tables):
    """Per reference: rows whose foreign key matches a key row."""
    counts = {}
    for (kt, kc), refs in KEYS:
        keys = tables[kt].column(kc)
        for rt, rc in refs:
            counts[f"{rt}.{rc}"] = int(pc.sum(pc.is_in(tables[rt].column(rc), keys)).as_py() or 0)
    return counts


def permute(tables, seed):
    out = dict(tables)
    for i, ((kt, kc), refs) in enumerate(KEYS):
        col = out[kt].column(kc)
        values = np.unique(col.drop_null().to_numpy())
        image = values if seed == 0 else np.random.default_rng([seed, i]).permutation(values)
        for t, c in [(kt, kc)] + refs:
            tbl = out[t]
            idx = tbl.schema.get_field_index(c)
            out[t] = tbl.set_column(idx, tbl.schema.field(idx), _remap(tbl.column(c), values, image))
    return out


def generate(seed, cache_dir):
    """Directory of parquet files for `seed`, generated once and checked."""
    target = os.path.join(cache_dir, f"seed-{seed}")
    if os.path.exists(os.path.join(target, ".done")):
        return target
    base = {t: pq.read_table(os.path.join(BASE, f"{t}.parquet")) for t in TABLES}
    gen = permute(base, seed)
    for t in TABLES:
        if gen[t].num_rows != base[t].num_rows:
            raise RuntimeError(f"{t}: {gen[t].num_rows} rows, source has {base[t].num_rows}")
    want, got = _fk_counts(base), _fk_counts(gen)
    if want != got:
        raise RuntimeError(f"foreign-key join counts changed: {got} != {want}")
    tmp = target + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in TABLES:
        if seed == 0:
            shutil.copyfile(os.path.join(BASE, f"{t}.parquet"), os.path.join(tmp, f"{t}.parquet"))
        else:
            pq.write_table(gen[t], os.path.join(tmp, f"{t}.parquet"))
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(target, ignore_errors=True)
    os.replace(tmp, target)
    return target
