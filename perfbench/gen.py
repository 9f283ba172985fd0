"""Seeded input generator for the graft benchmark.

Every workload input is derived from the base fixture in
perfbench/fixture (tables of the sf0.01 synthetic dataset) by
transforms that keep each table's schema:

- a seeded key bijection: user_id, c_custkey, doc_id and vec_id are
  permuted within the keys the fixture already has, so every key a
  query names (such as benchmark ticker 0) still exists;
- value jitter that keeps 2 dp: each event value moves by up to 2% in
  whole cents and never drops below one cent;
- document token rotation: every token is replaced by the token a
  seeded offset further along the sorted vocabulary, so duplicate and
  near-duplicate structure is kept while every string and hash
  changes; n_chars is recomputed;
- embedding perturbation: seeded Gaussian noise (sigma 0.005) on each
  component.

Seed 0 is the identity. Inputs are cached by (seed, fixture
fingerprint) under the build directory, with the row and byte counts of
each table in manifest.json.

Usage: python3 perfbench/gen.py <seed> [<cache_root>]
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture")
TABLES = ["events", "customer", "nation", "region", "documents", "embeddings"]
GEN_VERSION = "1"


def fingerprint() -> str:
    h = hashlib.sha256(GEN_VERSION.encode())
    for t in TABLES:
        with open(os.path.join(FIXTURE, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


def _permute_keys(col: pa.ChunkedArray, rng: np.random.Generator) -> pa.Array:
    keys = np.asarray(col.to_numpy())
    uniq = np.unique(keys)
    image = uniq[rng.permutation(len(uniq))]
    return pa.array(image[np.searchsorted(uniq, keys)], type=col.type)


def _set(table: pa.Table, name: str, values) -> pa.Table:
    i = table.schema.get_field_index(name)
    return table.set_column(i, table.schema.field(i), values)


def _events(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    t = _set(t, "user_id", _permute_keys(t["user_id"], rng))
    vals = t["value"].to_numpy(zero_copy_only=False)
    valid = ~np.isnan(vals)
    cents = np.rint(np.where(valid, vals, 0.0) * 100).astype(np.int64)
    span = np.maximum(1, cents // 50)
    cents = np.maximum(1, cents + rng.integers(-span, span, endpoint=True))
    jittered = pa.array(cents / 100.0, type=pa.float64(), mask=~valid)
    return _set(t, "value", jittered)


def _documents(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    t = _set(t, "doc_id", _permute_keys(t["doc_id"], rng))
    texts = t["text"].to_pylist()
    vocab = sorted({w for s in texts if s for w in s.split(" ")})
    shift = 1 + int(rng.integers(len(vocab) - 1))
    rot = {w: vocab[(i + shift) % len(vocab)] for i, w in enumerate(vocab)}
    out = [None if s is None else " ".join(rot[w] for w in s.split(" ")) for s in texts]
    t = _set(t, "text", pa.array(out, type=t.schema.field("text").type))
    n_chars = [None if s is None else len(s) for s in out]
    return _set(t, "n_chars", pa.array(n_chars, type=t.schema.field("n_chars").type))


def _embeddings(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    t = _set(t, "vec_id", _permute_keys(t["vec_id"], rng))
    emb = t["embedding"].combine_chunks()
    flat = emb.values.to_numpy(zero_copy_only=False).astype(np.float32)
    flat = (flat + rng.normal(0.0, 0.005, size=flat.shape)).astype(np.float32)
    perturbed = pa.ListArray.from_arrays(emb.offsets, pa.array(flat, type=pa.float32()),
                                         mask=emb.is_null())
    return _set(t, "embedding", perturbed.cast(t.schema.field("embedding").type))


def _customer(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    return _set(t, "c_custkey", _permute_keys(t["c_custkey"], rng))


TRANSFORMS = {
    "events": _events,
    "customer": _customer,
    "documents": _documents,
    "embeddings": _embeddings,
}


def generate(seed: int, out_dir: str) -> dict:
    manifest = {"seed": seed, "fingerprint": fingerprint(), "tables": {}}
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        src = os.path.join(FIXTURE, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        fn = TRANSFORMS.get(name)
        if seed == 0 or fn is None:
            shutil.copyfile(src, dst)
        else:
            # one stream per table, so a table's input does not depend
            # on which other tables are generated
            rng = np.random.default_rng([seed % (1 << 64), i])
            t = pq.read_table(src)
            out = fn(t, rng)
            assert out.schema.equals(t.schema), f"{name}: schema changed"
            pq.write_table(out, dst)
        manifest["tables"][name] = {
            "rows": pq.ParquetFile(dst).metadata.num_rows,
            "bytes": os.path.getsize(dst),
        }
    return manifest


def ensure(seed: int, cache_root: str) -> tuple:
    """Returns (input_dir, manifest), generating the input if absent."""
    d = os.path.join(cache_root, f"s{seed}-{fingerprint()}")
    mpath = os.path.join(d, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            return d, json.load(f)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = generate(seed, tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, manifest


if __name__ == "__main__":
    root = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(HERE), ".bench_build", "perfbench", "inputs")
    path, m = ensure(int(sys.argv[1]), root)
    print(path)
    print(json.dumps(m, indent=1))
