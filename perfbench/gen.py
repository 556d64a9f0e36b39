"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory and writes parquet
files with pyarrow. The same seed gives byte-identical files; the program
under test only ever sees these files.

  curation     a text corpus with a planted share of near-duplicates,
               64-dim embeddings with planted clusters, incremental batches
               for ticks and for a streaming replay, and the exact answers
               (planted pairs, exact cosine top-10) the checks compare to.
  crystal      batches of nested crystal records (structs, lists of
               structs, lists of lists of doubles) for ingest ticks.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes
CUR_BASE_DOCS = 3000
CUR_DUP_SHARE = 0.10           # share of base docs that are planted near-dups
CUR_VECTORS = 6144             # autoCentroids(6144) = 48 cells, 3x the floor
CUR_CLUSTERS = 48
CUR_TICKS = 8                  # incremental batches: two cycles of four ticks
CUR_TICK_DOCS = 128
CUR_TICK_VECS = 128
CUR_STREAM_BATCHES = 2
CUR_KNN_SAMPLE = 128
DIM = 64
CRYSTAL_BATCHES = 24
CRYSTAL_BATCH_ROWS = 128


def _rng(seed, *stream):
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, *stream])))


def _write(table, path):
    # fixed writer options so output bytes depend only on the data
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   write_statistics=True, store_schema=False)


# ------------------------------------------------------------------ curation

def _unit(m):
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _vocab(n=4000):
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da", "zu", "ri", "an", "el", "or"]
    out, i = [], 0
    while len(out) < n:
        w, k = "", i
        while True:
            w += syl[k % len(syl)]
            k //= len(syl)
            if k == 0:
                break
        out.append(w)
        i += 1
    return np.array(out)


VOCAB = _vocab()


def _docs(r, n, first_id):
    # Zipf-like word choice over a 4000-word vocabulary
    p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.9
    p /= p.sum()
    return {first_id + i: list(r.choice(len(VOCAB), r.integers(40, 121), p=p)) for i in range(n)}


def _mutate(r, toks, share=0.05):
    toks = list(toks)
    for j in r.choice(len(toks), max(1, int(round(share * len(toks)))), replace=False):
        toks[j] = int(r.integers(0, len(VOCAB)))
    return toks


def _docs_table(docs):
    ids = sorted(docs)
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": [" ".join(VOCAB[docs[i]]) for i in ids]})


def _vec_table(ids, m):
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.array(list(m.astype(np.float32)), pa.list_(pa.float32()))})


def gen_curation(seed, out):
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 2)
    n_orig = int(round(CUR_BASE_DOCS * (1 - CUR_DUP_SHARE)))
    docs = _docs(r, n_orig, 0)
    planted = []
    originals = sorted(docs)
    for k in range(CUR_BASE_DOCS - n_orig):
        src = int(originals[r.integers(0, n_orig)])
        did = n_orig + k
        docs[did] = _mutate(r, docs[src])
        planted.append([src, did])
    _write(_docs_table(docs), f"{out}/docs.parquet")

    centers = _unit(r.normal(size=(CUR_CLUSTERS, DIM)))
    def vectors(n):
        c = r.integers(0, CUR_CLUSTERS, n)
        return _unit(centers[c] + r.normal(scale=0.35 / np.sqrt(DIM) * 4, size=(n, DIM)))
    base = vectors(CUR_VECTORS).astype(np.float32)
    _write(_vec_table(np.arange(CUR_VECTORS), base), f"{out}/vectors.parquet")

    # exact cosine top-10 (self excluded) for a fixed query sample, the
    # ground truth for knn_recall_at_10; computed in float32 like the corpus
    sample = np.sort(r.choice(CUR_VECTORS, CUR_KNN_SAMPLE, replace=False))
    b = base.astype(np.float64)
    b /= np.linalg.norm(b, axis=1, keepdims=True)
    sims = b[sample] @ b.T
    sims[np.arange(len(sample)), sample] = -np.inf
    top = np.argsort(-sims, axis=1, kind="stable")[:, :10]

    os.makedirs(f"{out}/ticks", exist_ok=True)
    next_doc, next_vec = 1_000_000, 1_000_000
    tick_dups = 0
    for t in range(CUR_TICKS):
        batch = _docs(r, CUR_TICK_DOCS, next_doc)
        for did in list(batch)[: CUR_TICK_DOCS // 10]:
            batch[did] = _mutate(r, docs[int(originals[r.integers(0, n_orig)])])
            tick_dups += 1
        _write(_docs_table(batch), f"{out}/ticks/docs-{t:03d}.parquet")
        _write(_vec_table(np.arange(next_vec, next_vec + CUR_TICK_VECS), vectors(CUR_TICK_VECS)),
               f"{out}/ticks/vecs-{t:03d}.parquet")
        next_doc += CUR_TICK_DOCS
        next_vec += CUR_TICK_VECS
    os.makedirs(f"{out}/stream_docs", exist_ok=True)
    os.makedirs(f"{out}/stream_vecs", exist_ok=True)
    for t in range(CUR_STREAM_BATCHES):
        _write(_docs_table(_docs(r, CUR_TICK_DOCS, 2_000_000 + t * CUR_TICK_DOCS)),
               f"{out}/stream_docs/part-{t:03d}.parquet")
        _write(_vec_table(np.arange(2_000_000 + t * CUR_TICK_VECS, 2_000_000 + (t + 1) * CUR_TICK_VECS),
                          vectors(CUR_TICK_VECS)), f"{out}/stream_vecs/part-{t:03d}.parquet")

    truth = {"planted_pairs": planted,
             "knn_sample": sample.tolist(),
             "knn_top10": top.tolist()}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return {"docs": CUR_BASE_DOCS, "planted_pairs": len(planted),
            "planted_share": len(planted) / CUR_BASE_DOCS, "vectors": CUR_VECTORS,
            "tick_planted": tick_dups, "ticks": CUR_TICKS}


# ------------------------------------------------------------------- crystal

ELEMENTS = "H Li Be B C N O F Na Mg Al Si P S Cl K Ca Ti V Cr Mn Fe Co Ni Cu Zn Ga Ge Se Sr Zr Mo Ag Sn Ba La".split()
SYSTEMS = ["cubic", "hexagonal", "monoclinic", "orthorhombic", "tetragonal", "triclinic", "trigonal"]

CRYSTAL_SCHEMA = pa.schema([
    ("source_database", pa.string()), ("source_dataset", pa.string()), ("source_id", pa.string()),
    ("species", pa.list_(pa.string())),
    ("cart_coords", pa.list_(pa.list_(pa.float64()))),
    ("frac_coords", pa.list_(pa.list_(pa.float64()))),
    ("lattice", pa.struct([("matrix", pa.list_(pa.list_(pa.float64()))),
                           ("a", pa.float64()), ("b", pa.float64()), ("c", pa.float64()),
                           ("alpha", pa.float64()), ("beta", pa.float64()), ("gamma", pa.float64()),
                           ("pbc", pa.list_(pa.bool_())), ("volume", pa.float64())])),
    ("structure", pa.struct([
        ("@module", pa.string()), ("@class", pa.string()),
        ("sites", pa.list_(pa.struct([
            ("species", pa.list_(pa.struct([("element", pa.string()), ("occu", pa.int64())]))),
            ("abc", pa.list_(pa.float64())), ("xyz", pa.list_(pa.float64())),
            ("properties", pa.struct([("magmom", pa.float64()), ("charge", pa.float64()),
                                      ("forces", pa.list_(pa.float64()))])),
            ("label", pa.string())]))),
        ("charge", pa.float64())])),
    ("data", pa.struct([("band_gap", pa.float64()), ("energy_total", pa.float64()),
                        ("energy_above_hull", pa.float64()), ("energy_formation", pa.float64()),
                        ("total_magnetization", pa.float64()), ("magnetic_ordering", pa.string()),
                        ("stress", pa.list_(pa.list_(pa.float64()))), ("is_stable", pa.bool_())])),
    ("symmetry", pa.struct([("crystal_system", pa.string()), ("symbol", pa.string()),
                            ("number", pa.int32()), ("point_group", pa.string()),
                            ("symprec", pa.float64()), ("angle_tolerance", pa.float64()),
                            ("version", pa.string())])),
    ("has_props", pa.struct([(k, pa.bool_()) for k in
                             ("materials", "thermo", "dos", "magnetism", "elasticity")])),
])


def _crystal(r, i):
    n = int(r.integers(1, 9))
    mat = (np.diag(r.uniform(2.5, 9.0, 3)) + r.normal(scale=0.2, size=(3, 3))).round(6)
    frac = r.uniform(0, 1, (n, 3)).round(6)
    cart = (frac @ mat).round(6)
    elems = [ELEMENTS[j] for j in r.integers(0, len(ELEMENTS), n)]
    a, b, c = (float(x) for x in np.linalg.norm(mat, axis=1).round(6))
    sites = [{"species": [{"element": e, "occu": 1}], "abc": list(frac[k]), "xyz": list(cart[k]),
              "properties": {"magmom": float(round(r.normal(), 4)), "charge": 0.0,
                             "forces": list(r.normal(scale=0.1, size=3).round(6))},
              "label": e} for k, e in enumerate(elems)]
    lat = {"matrix": [list(row) for row in mat], "a": a, "b": b, "c": c,
           "alpha": float(round(r.uniform(60, 120), 4)), "beta": float(round(r.uniform(60, 120), 4)),
           "gamma": float(round(r.uniform(60, 120), 4)), "pbc": [True, True, True],
           "volume": float(round(abs(np.linalg.det(mat)), 6))}
    sysn = SYSTEMS[int(r.integers(0, len(SYSTEMS)))]
    return {
        "source_database": "alexandria" if i % 3 else "materials_project",
        "source_dataset": f"ds{i % 4}",
        "source_id": f"cr-{i:08d}",
        "species": elems,
        "cart_coords": [list(x) for x in cart],
        "frac_coords": [list(x) for x in frac],
        "lattice": lat,
        "structure": {"@module": "pymatgen.core.structure", "@class": "Structure",
                      "sites": sites, "charge": 0.0},
        "data": {"band_gap": float(round(r.exponential(1.5), 4)),
                 "energy_total": float(round(r.normal(-5.0 * n, 2.0), 6)),
                 "energy_above_hull": float(round(r.exponential(0.05), 6)),
                 "energy_formation": float(round(r.normal(-1.0, 0.8), 6)),
                 "total_magnetization": float(round(abs(r.normal(0, 1.5)), 4)),
                 "magnetic_ordering": ["NM", "FM", "AFM", "FiM"][int(r.integers(0, 4))],
                 "stress": [list(x) for x in r.normal(scale=0.5, size=(3, 3)).round(6)],
                 "is_stable": bool(r.random() < 0.2)},
        "symmetry": {"crystal_system": sysn, "symbol": f"P{int(r.integers(1, 7))}",
                     "number": int(r.integers(1, 231)), "point_group": "m-3m",
                     "symprec": 0.1, "angle_tolerance": 5.0, "version": "2.5.0"},
        "has_props": {k: bool(r.random() < 0.5) for k in
                      ("materials", "thermo", "dos", "magnetism", "elasticity")},
    }


def gen_crystal(seed, out):
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 3)
    sizes = []
    for bi in range(CRYSTAL_BATCHES):
        rows = [_crystal(r, bi * CRYSTAL_BATCH_ROWS + k) for k in range(CRYSTAL_BATCH_ROWS)]
        path = f"{out}/batch-{bi:03d}.parquet"
        _write(pa.Table.from_pylist(rows, schema=CRYSTAL_SCHEMA), path)
        sizes.append(os.path.getsize(path))
    return {"batches": CRYSTAL_BATCHES, "batch_rows": CRYSTAL_BATCH_ROWS,
            "input_bytes": sum(sizes)}


GENERATORS = {"llm-curation": gen_curation, "crystal-store": gen_crystal}
