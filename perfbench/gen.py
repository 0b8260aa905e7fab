#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files, another seed gives different ones. Nothing is read
from outside the output directory.

Corpus shape. The base corpus is shaped like the sf0.1 `documents` and
`embeddings` tables (TESTDATA.md): single-line texts of 10-100 words
from a small vocabulary, five languages, twenty sources, with planted
near-duplicates; 64-d vectors in ten loose clusters, with planted
near-duplicate vectors. `copies` > 1 applies the cross-copy scrambling
scheme of tools/make_scale10.py, with the seed choosing the permutations:

- documents: copy i maps [a-z0-9] through its own permutation (copy 0
  is the identity), so shingle sets stay isomorphic within a copy while
  cross-copy shingle overlap is ~0; doc_id += i * 10^7.
- embeddings: copy i permutes the 64 dims (norms and within-copy
  cosines preserved exactly, cross-copy cosines scrambled);
  vec_id += i * 10^7.

Usage:
  python3 perfbench/gen.py <workload> <seed> <out_dir>
  python3 perfbench/gen.py --self-test
"""
import hashlib
import json
import os
import string
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALPHA = string.ascii_lowercase + string.digits
VOCAB = (
    "a the data spark table query value key row column group sort scan "
    "filter join hash merge window stream batch line part order big small "
    "fast slow agg vector customer index shard token graph node edge rank "
    "score text doc page"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DIM = 64
COPY_STRIDE = 10_000_000

# Sizes per workload. curate_10x and ingest_serve read 10 scrambled
# copies of a base corpus; serve_lookup reads one base copy.
SIZES = {
    "curate_10x": dict(base_docs=500, base_vecs=200, copies=10),
    "dkv_facade": dict(pairs=200_000, keys=20_000, zipf_s=1.0),
    "serve_lookup": dict(base_docs=5000, base_vecs=2000, requests=4000),
    "ingest_serve": dict(base_docs=500, base_vecs=0, copies=10,
                         base_frac=0.9, batches=50, reads=4000),
}


def rng_for(seed, *stream):
    return np.random.default_rng([int(seed)] + [int(s) for s in stream])


def base_documents(seed, n):
    """sf0.1-shaped documents: (doc_id, text, lang, source, n_chars)."""
    rng = rng_for(seed, 1)
    weights = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.6
    weights /= weights.sum()
    word_order = rng.permutation(len(VOCAB))
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:
            # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.12:
            # near duplicate: a long earlier doc plus one word (Jaccard of
            # the 3-shingle sets >= 0.98, far above the 0.8 threshold)
            j = int(rng.integers(0, i))
            if len(texts[j].split()) >= 60:
                texts.append(texts[j] + " " + VOCAB[int(rng.integers(0, len(VOCAB)))])
                continue
        length = int(rng.integers(10, 101))
        words = rng.choice(len(VOCAB), size=length, p=weights)
        texts.append(" ".join(VOCAB[word_order[w]] for w in words))
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[k] for k in langs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def base_embeddings(seed, n):
    """(vec_id, embedding float32[64], label): ten loose clusters plus
    planted near-duplicates (cosine > 0.99 to an earlier vector)."""
    rng = rng_for(seed, 2)
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    vecs = 0.5 * centers[labels] + rng.normal(scale=0.5 / np.sqrt(DIM) * 1.7, size=(n, DIM))
    for i in range(10, n):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.004, size=DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": vecs.astype(np.float32),
        "label": labels,
    }


def char_perm(seed, copy):
    if copy == 0:
        return None
    chars = list(ALPHA)
    rng = rng_for(seed, 3, copy)
    return str.maketrans(ALPHA, "".join(chars[k] for k in rng.permutation(len(chars))))


def scale_documents(seed, base, copies):
    out = {k: [] for k in base}
    for i in range(copies):
        tr = char_perm(seed, i)
        out["doc_id"].append(base["doc_id"] + i * COPY_STRIDE)
        out["text"].append(base["text"] if tr is None else [t.translate(tr) for t in base["text"]])
        out["lang"].append(base["lang"])
        out["source"].append(base["source"])
        out["n_chars"].append(base["n_chars"])
    return {
        "doc_id": np.concatenate(out["doc_id"]),
        "text": sum(out["text"], []),
        "lang": sum(out["lang"], []),
        "source": sum(out["source"], []),
        "n_chars": np.concatenate(out["n_chars"]),
    }


def scale_embeddings(seed, base, copies):
    ids, vecs, labels = [], [], []
    for i in range(copies):
        perm = np.arange(DIM) if i == 0 else rng_for(seed, 4, i).permutation(DIM)
        ids.append(base["vec_id"] + i * COPY_STRIDE)
        vecs.append(base["embedding"][:, perm])
        labels.append(base["label"])
    return {"vec_id": np.concatenate(ids), "embedding": np.concatenate(vecs),
            "label": np.concatenate(labels)}


def doc_table(d, rows=None):
    rows = np.arange(len(d["text"])) if rows is None else rows
    return pa.table({
        "doc_id": pa.array(d["doc_id"][rows], pa.int64()),
        "text": pa.array([d["text"][i] for i in rows], pa.string()),
        "lang": pa.array([d["lang"][i] for i in rows], pa.string()),
        "source": pa.array([d["source"][i] for i in rows], pa.string()),
        "n_chars": pa.array(d["n_chars"][rows], pa.int64()),
    })


def emb_table(e):
    flat = pa.array(e["embedding"].reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, len(flat) + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(e["vec_id"], pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(e["label"], pa.int32()),
    })


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def df_ranked_vocab(texts):
    df = {}
    for t in texts:
        for w in set(t.split()):
            df[w] = df.get(w, 0) + 1
    return [w for w, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))]


def gen_curate(seed, out, s):
    docs = scale_documents(seed, base_documents(seed, s["base_docs"]), s["copies"])
    emb = scale_embeddings(seed, base_embeddings(seed, s["base_vecs"]), s["copies"])
    write(doc_table(docs), os.path.join(out, "documents.parquet"))
    write(emb_table(emb), os.path.join(out, "embeddings.parquet"))
    return {"docs": len(docs["text"]), "vecs": len(emb["vec_id"])}


def gen_dkv(seed, out, s):
    rng = rng_for(seed, 5)
    k = s["keys"]
    p = 1.0 / np.arange(1, k + 1) ** s["zipf_s"]
    p /= p.sum()
    ranks = rng.choice(k, size=s["pairs"], p=p)
    key_of_rank = rng.permutation(k).astype(np.int64)
    keys = key_of_rank[ranks]
    vals = rng.integers(0, 1_000_000, size=s["pairs"], dtype=np.int64)
    write(pa.table({"_1": pa.array(keys), "_2": pa.array(vals)}),
          os.path.join(out, "pairs.parquet"))
    dim_keys = np.arange(k, dtype=np.int64)
    weights = rng.integers(1, 100, size=k, dtype=np.int64)
    write(pa.table({"_1": pa.array(dim_keys), "_2": pa.array(weights)}),
          os.path.join(out, "dim.parquet"))
    return {"pairs": s["pairs"], "keys": k}


def gen_serve(seed, out, s):
    docs = base_documents(seed, s["base_docs"])
    emb = base_embeddings(seed, s["base_vecs"])
    write(doc_table(docs), os.path.join(out, "documents.parquet"))
    write(emb_table(emb), os.path.join(out, "embeddings.parquet"))
    rng = rng_for(seed, 6)
    top = df_ranked_vocab(docs["text"])[:30]

    def probe():
        return " ".join(top[k] for k in rng.choice(len(top), 3, replace=False))

    kinds = ["bm25", "bm25batch", "phrase", "ivf", "snapread"]
    reqs = []
    for _ in range(s["requests"]):
        kind = kinds[int(rng.integers(0, len(kinds)))]
        if kind == "bm25":
            reqs.append(f"bm25\t{probe()}")
        elif kind == "bm25batch":
            reqs.append("bm25batch\t" + "|".join(probe() for _ in range(8)))
        elif kind == "phrase":
            d = int(rng.integers(0, len(docs["text"])))
            words = docs["text"][d].split()
            at = int(rng.integers(0, len(words) - 2))
            reqs.append(f"phrase\t{' '.join(words[at:at + 3])}\t{d}")
        elif kind == "ivf":
            v = emb["embedding"][int(rng.integers(0, len(emb["vec_id"])))]
            q = v + rng.normal(scale=0.05, size=DIM)
            reqs.append("ivf\t" + ",".join(f"{x:.6f}" for x in q))
        else:
            reqs.append(f"snapread\t{int(rng.integers(1, 5))}")
    with open(os.path.join(out, "requests.txt"), "w") as f:
        f.write("\n".join(reqs) + "\n")
    return {"docs": len(docs["text"]), "vecs": len(emb["vec_id"]), "requests": len(reqs)}


def gen_ingest(seed, out, s):
    docs = scale_documents(seed, base_documents(seed, s["base_docs"]), s["copies"])
    n = len(docs["text"])
    order = rng_for(seed, 7).permutation(n)
    nbase = int(n * s["base_frac"])
    write(doc_table(docs, np.sort(order[:nbase])), os.path.join(out, "base.parquet"))
    rest = order[nbase:]
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    sizes = []
    for b, rows in enumerate(np.array_split(rest, s["batches"])):
        t = doc_table(docs, np.sort(rows)).select(["doc_id", "text"])
        write(t, os.path.join(out, "batches", f"batch-{b:05d}.parquet"))
        sizes.append(f"batch-{b:05d}.parquet\t{len(rows)}")
    with open(os.path.join(out, "batches.txt"), "w") as f:
        f.write("\n".join(sizes) + "\n")
    top = df_ranked_vocab(docs["text"][:s["base_docs"]])[:30]
    rng = rng_for(seed, 8)
    reads = ["bm25\t" + " ".join(top[k] for k in rng.choice(len(top), 3, replace=False))
             for _ in range(s["reads"])]
    with open(os.path.join(out, "reads.txt"), "w") as f:
        f.write("\n".join(reads) + "\n")
    return {"docs": n, "base_docs": nbase, "batches": s["batches"]}


GENERATORS = {"curate_10x": gen_curate, "dkv_facade": gen_dkv,
              "serve_lookup": gen_serve, "ingest_serve": gen_ingest}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    info = GENERATORS[workload](seed, out, SIZES[workload])
    info.update(workload=workload, seed=int(seed))
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    return info


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def shingles(text, n=3):
    ws = text.split()
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def self_test():
    small = {
        "curate_10x": dict(base_docs=300, base_vecs=100, copies=10),
        "dkv_facade": dict(pairs=20_000, keys=1000, zipf_s=1.0),
        "serve_lookup": dict(base_docs=300, base_vecs=100, requests=50),
        "ingest_serve": dict(base_docs=300, base_vecs=0, copies=10,
                             base_frac=0.9, batches=5, reads=20),
    }
    SIZES.update(small)
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        for w in GENERATORS:
            a, b, c = (os.path.join(tmp, w, x) for x in "abc")
            generate(w, 11, a)
            generate(w, 11, b)
            generate(w, 12, c)
            assert tree_digest(a) == tree_digest(b), f"{w}: same seed, different bytes"
            assert tree_digest(a) != tree_digest(c), f"{w}: other seed, same bytes"
            print(f"ok {w}: seed-stable and seed-sensitive")
        # 10x structure: within-copy shingle structure kept, cross-copy gone
        t = pq.read_table(os.path.join(tmp, "curate_10x", "a", "documents.parquet")).to_pydict()
        n = small["curate_10x"]["base_docs"]
        c0 = [shingles(x) for x in t["text"][:n]]
        c3 = [shingles(x) for x in t["text"][3 * n:4 * n]]
        assert [len(s) for s in c0] == [len(s) for s in c3]
        dup0 = {(i, j) for i in range(n) for j in range(i) if c0[i] and c0[i] == c0[j]}
        dup3 = {(i, j) for i in range(n) for j in range(i) if c3[i] and c3[i] == c3[j]}
        assert dup0 and dup0 == dup3, "within-copy duplicate structure changed"
        cross = sum(len(c0[i] & c3[i]) for i in range(n))
        assert cross == 0, f"cross-copy shingle overlap {cross}"
        e = pq.read_table(os.path.join(tmp, "curate_10x", "a", "embeddings.parquet")).to_pydict()
        m = small["curate_10x"]["base_vecs"]
        v = np.array(e["embedding"], dtype=np.float64)
        g0, g3 = v[:m] @ v[:m].T, v[3 * m:4 * m] @ v[3 * m:4 * m].T
        assert np.allclose(g0, g3, atol=1e-5), "within-copy cosines changed"
        x = np.abs(np.diag(v[:m] @ v[3 * m:4 * m].T))
        assert x.mean() < 0.5, f"cross-copy cosines not scrambled ({x.mean():.3f})"
        print("ok 10x copies: within-copy structure kept, cross-copy similarity destroyed")
    print("self-test passed")


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        self_test()
    elif len(sys.argv) == 4:
        print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))
    else:
        sys.exit(__doc__)
