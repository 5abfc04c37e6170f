"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): numpy's PCG64 stream is
the only source of randomness, so the same seed writes the same parquet.
Inputs are written once per (workload, seed, size) under the cache directory
and reused by later runs; generation is timed apart from set-up.

No Spark here: the program under test receives only the parquet files.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Files per table. Fixed rather than derived from the host's cores so that a
# seed produces byte-identical inputs everywhere; 4 files give every core of
# a 4-core host one scan task, and a call's many small jobs one task wave.
N_FILES = 4

# suite40 source-code table: same columns and defect rates as
# dq_suite_amsterdam_spark.sourcecode.build_sourcecode_df, which has no seed.
LANGS = ["python", "java", "go", "js", "rust", "sql", "md", "other"]
EXTS = {"python": "py", "java": "java", "go": "go", "js": "js", "rust": "rs",
        "sql": "sql", "md": "md", "other": "txt"}
N_REPOS = 50

# keys_write dimension sizes and planted defects
N_SUPPLIERS = 2_000
N_PRODUCTS = 20_000
N_STORES = 500
HOT_SUPPLIER = 7
STATUSES = ["open", "paid", "shipped", "returned"]

# corpus_neardup
DOC_WORDS = 60
VEC_DIM = 64


def _write(table: pa.Table, path: Path) -> None:
    path.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    step = -(-n // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:02d}.parquet")


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def gen_suite40(rng: np.random.Generator, seed: int, n: int) -> dict[str, pa.Table]:
    ids = np.arange(n)
    # ~1% of rows clone the previous row's identity -> duplicate key triples
    clone = (rng.random(n) < 0.01) & (ids > 0)
    b = np.where(clone, ids - 1, ids)
    # per-identity draws, indexed by b so clones share their key, language,
    # commit and content; the sha corruption draw is per row
    repo_u, lang_u, commit_u, sha_u = (rng.random(n) for _ in range(4))
    repo_idx = np.where(repo_u < 0.30, 0, rng.integers(1, N_REPOS, n))[b]
    lang_idx = rng.integers(0, len(LANGS), n)[b]
    d1, d2 = rng.integers(0, 100, n)[b], rng.integers(0, 100, n)[b]
    n_rep = rng.integers(1, 61, n)[b]
    lang_u, commit_u = lang_u[b], commit_u[b]

    repo, path, commit, lang, content, sha = [], [], [], [], [], []
    bad_sha = hashlib.sha256(b"corrupted").hexdigest()
    for i in range(n):
        bi = int(b[i])
        clean_lang = LANGS[lang_idx[i]]
        repo.append(f"org/repo_{repo_idx[i]}")
        path.append(f"src/dir_{d1[i]}/sub_{d2[i]}/file_{bi}.{EXTS[clean_lang]}")
        h = _md5(f"c{seed}:{bi}")
        c = h + h[:8]  # 40 hex chars
        u = commit_u[i]
        commit.append(c.upper() if u < 0.003 else c[:12] if u < 0.005 else c)
        u = lang_u[i]
        lang.append("klingon" if u < 0.003 else None if u < 0.023 else clean_lang)
        tok = _md5(f"t{seed}:{bi}")
        body = f"def fn_{bi}():\n    # {tok}\n    return '{tok[:16] * int(n_rep[i])}'\n"
        content.append(body)
        sha.append(bad_sha if sha_u[i] < 0.002 else hashlib.sha256(body.encode()).hexdigest())
    table = pa.table({"repo": repo, "path": path, "commit": commit, "lang": lang,
                      "content": content, "content_sha": sha})
    # reference table of the referential rule (sourcecode.build_lang_lookup_df)
    lookup = pa.table({"lang": LANGS, "family": ["dynamic", "static", "static", "dynamic",
                                                 "static", "query", "markup", "other"]})
    return {"sourcecode": table, "lang_lookup": lookup}


def gen_keys_write(rng: np.random.Generator, seed: int, n: int) -> dict[str, pa.Table]:
    # compound key (order_id, line_no); ~1% of rows repeat an earlier key
    order_id = np.arange(n, dtype=np.int64) // 4 + 1_000_000
    line_no = (np.arange(n) % 4 + 1).astype(np.int32)
    dup = np.flatnonzero(rng.random(n) < 0.01)
    dup = dup[dup > 0]
    src = rng.integers(0, dup, len(dup)) if len(dup) else dup
    order_id[dup], line_no[dup] = order_id[src], line_no[src]

    # one hot supplier carries ~20% of the rows (skewed join / group key)
    supplier = np.where(rng.random(n) < 0.20, HOT_SUPPLIER,
                        rng.integers(1, N_SUPPLIERS + 1, n)).astype(np.int32)
    product = rng.integers(1, N_PRODUCTS + 1, n).astype(np.int32)
    store = rng.integers(1, N_STORES + 1, n).astype(np.int32)
    # ~0.5% of rows reference a missing dimension key, spread over the 3 FKs
    orphan = np.flatnonzero(rng.random(n) < 0.005)
    which = rng.integers(0, 3, len(orphan))
    for col, k, hi in ((supplier, 0, N_SUPPLIERS), (product, 1, N_PRODUCTS), (store, 2, N_STORES)):
        rows = orphan[which == k]
        col[rows] = hi + 1 + rng.integers(0, 50, len(rows))

    qty = rng.integers(1, 51, n).astype(np.int32)
    qty[rng.random(n) < 0.003] = 0  # out-of-range quantity
    status = np.array(STATUSES, dtype=object)[rng.integers(0, len(STATUSES), n)]
    status[rng.random(n) < 0.002] = "lost"  # out-of-set status
    price = np.round(rng.gamma(2.0, 15.0, n), 2)

    fact = pa.table({"order_id": order_id, "line_no": line_no, "supplier_id": supplier,
                     "product_id": product, "store_id": store, "qty": qty,
                     "price": price, "status": status.tolist()})
    dims = {
        "suppliers": pa.table({"supplier_id": np.arange(1, N_SUPPLIERS + 1, dtype=np.int32),
                               "region": [f"r{i % 12}" for i in range(N_SUPPLIERS)]}),
        "products": pa.table({"product_id": np.arange(1, N_PRODUCTS + 1, dtype=np.int32),
                              "category": [f"c{i % 40}" for i in range(N_PRODUCTS)]}),
        "stores": pa.table({"store_id": np.arange(1, N_STORES + 1, dtype=np.int32),
                            "city": [f"city{i % 30}" for i in range(N_STORES)]}),
    }
    return {"orders": fact, **dims}


def gen_corpus_neardup(rng: np.random.Generator, seed: int, n: int) -> dict[str, pa.Table]:
    """``n`` documents and ``n // 2`` vectors, each with planted clusters.

    Documents: 80% are unrelated random 60-word texts; the rest are near
    copies of one of them with 1-3 words replaced, which keeps their exact
    8-char shingle Jaccard well above the 0.5 threshold. Vectors: random
    64-dim normals; 20% are a cluster base plus small noise (cosine > 0.97).
    """
    vocab = ["".join(chr(97 + x) for x in rng.integers(0, 26, rng.integers(3, 9)))
             for _ in range(4_000)]
    n_base = int(n * 0.8)
    words = rng.integers(0, len(vocab), (n, DOC_WORDS))
    parent = rng.integers(0, n_base, n - n_base)
    words[n_base:] = words[parent]
    for r in range(n_base, n):
        k = rng.integers(1, 4)
        words[r, rng.integers(0, DOC_WORDS, k)] = rng.integers(0, len(vocab), k)
    # shuffle so that planted copies are not contiguous
    order = rng.permutation(n)
    docs = pa.table({"doc_id": np.arange(n, dtype=np.int64),
                     "text": [" ".join(vocab[w] for w in words[i]) for i in order]})

    m = n // 2
    m_base = int(m * 0.8)
    vecs = rng.standard_normal((m, VEC_DIM))
    vparent = rng.integers(0, m_base, m - m_base)
    vecs[m_base:] = vecs[vparent] + rng.standard_normal((m - m_base, VEC_DIM)) * 0.03
    vecs = vecs[rng.permutation(m)]
    embed = pa.table({"vec_id": np.arange(m, dtype=np.int64),
                      "embedding": pa.array(list(vecs), type=pa.list_(pa.float64()))})
    return {"docs": docs, "vectors": embed}


def gen_keys_dedup(rng: np.random.Generator, seed: int, n: int) -> dict[str, pa.Table]:
    """The keys_write tables with an ``n``-row fact table, then the
    corpus_neardup tables with ``n // 20`` documents, from one stream."""
    return {**gen_keys_write(rng, seed, n), **gen_corpus_neardup(rng, seed, n // 20)}


GENERATORS = {
    "suite40": gen_suite40,
    "keys_dedup": gen_keys_dedup,
}


def ensure_inputs(cache_dir: Path, workload: str, seed: int, size: int) -> tuple[dict[str, str], float]:
    """Parquet paths of the workload's tables, generating them if absent.

    Returns ({table: path}, seconds spent generating; 0 on a cache hit).
    """
    root = cache_dir / f"{workload}-s{seed}-n{size}"
    done = root / "_DONE"
    t0 = time.perf_counter()
    gen_s = 0.0
    if not done.exists():
        if root.exists():
            shutil.rmtree(root)  # a generation cut short
        tables = GENERATORS[workload](np.random.default_rng(seed), seed, size)
        for name, table in tables.items():
            _write(table, root / name)
        done.write_text(",".join(sorted(tables)))
        gen_s = time.perf_counter() - t0
    names = done.read_text().split(",")
    return {name: str(root / name) for name in names}, gen_s

