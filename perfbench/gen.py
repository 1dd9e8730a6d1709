"""Seeded input generator for the benchmark.

Writes one directory of parquet files per family (the only thing the
engine reads) and returns the input shape of every family. The same seed gives the same files, byte for
byte; `shape[...]["sha256"]` is the digest of a family's parquet files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table, path):
    # One file, fixed row-group size and no wall-clock metadata, so the
    # bytes depend on the seed only.
    pq.write_table(table, path, row_group_size=1 << 16, compression="snappy")


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _vec_table(ids, vecs, id_name):
    flat = pa.array(vecs.reshape(-1), type=pa.float64())
    col = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float64()))
    return pa.table({id_name: pa.array(ids, type=pa.int64()), "vec": col})


def gen_vectors(rng, out, n, dim, clusters, n_queries):
    """Gaussian mixture: `clusters` centres, unit-variance spread around
    each. Queries are fresh draws from the same mixture."""
    centres = rng.normal(0.0, 2.0, size=(clusters, dim))
    def draw(m):
        c = rng.integers(0, clusters, size=m)
        return centres[c] + rng.normal(0.0, 1.0, size=(m, dim))
    base = draw(n)
    queries = draw(n_queries)
    os.makedirs(out, exist_ok=True)
    files = [os.path.join(out, "vectors.parquet"),
             os.path.join(out, "queries.parquet")]
    _write(_vec_table(np.arange(n), base, "id"), files[0])
    _write(_vec_table(np.arange(n_queries), queries, "qid"), files[1])
    return {"rows": n, "dim": dim, "clusters": clusters,
            "queries": n_queries, "bytes": sum(map(os.path.getsize, files)),
            "sha256": _digest(files)}


class _Text:
    """Documents over a Zipf-weighted synthetic vocabulary."""

    def __init__(self, rng, vocab=6000):
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.integers(3, 9, size=vocab)
        words = {"".join(rng.choice(letters, size=k)) for k in lens}
        self.words = np.array(sorted(words))
        w = 1.0 / np.arange(1, len(self.words) + 1) ** 0.9
        self.p = w / w.sum()
        self.rng = rng

    def doc(self, lo=40, hi=120):
        k = int(self.rng.integers(lo, hi))
        return list(self.rng.choice(self.words, size=k, p=self.p))

    def edit(self, toks, share):
        """Substitute `share` of the tokens with fresh vocabulary draws."""
        toks = list(toks)
        m = max(1, int(round(share * len(toks))))
        pos = self.rng.choice(len(toks), size=m, replace=False)
        for i, w in zip(pos, self.rng.choice(self.words, size=m, p=self.p)):
            toks[i] = w
        return toks


def gen_lifecycle(rng, out, n_ref, batches, batch_size, dup_share=0.2,
                  edit_share=0.05):
    """A reference corpus plus `batches` fresh batches; `dup_share` of
    each batch near-duplicates a reference doc (the probe's hits).
    `dup_of` names the reference doc a planted near-duplicate was made
    from, -1 for a fresh doc."""
    text = _Text(rng)
    ref = [" ".join(text.doc()) for _ in range(n_ref)]
    ids, bno, fresh, dup_of = [], [], [], []
    next_id = n_ref
    for b in range(batches):
        for _ in range(batch_size):
            if rng.random() < dup_share:
                src = int(rng.integers(0, n_ref))
                fresh.append(" ".join(text.edit(ref[src].split(" "),
                                                edit_share)))
                dup_of.append(src)
            else:
                fresh.append(" ".join(text.doc()))
                dup_of.append(-1)
            ids.append(next_id)
            bno.append(b)
            next_id += 1
    os.makedirs(out, exist_ok=True)
    files = [os.path.join(out, "ref.parquet"),
             os.path.join(out, "batches.parquet")]
    _write(pa.table({"id": pa.array(np.arange(n_ref), type=pa.int64()),
                     "text": pa.array(ref)}), files[0])
    _write(pa.table({"id": pa.array(ids, type=pa.int64()),
                     "batch": pa.array(bno, type=pa.int32()),
                     "text": pa.array(fresh),
                     "dup_of": pa.array(dup_of, type=pa.int64())}), files[1])
    return {"rows": n_ref, "batches": batches, "batch_rows": batch_size,
            "bytes": sum(map(os.path.getsize, files)),
            "text_bytes": sum(map(len, ref)) + sum(map(len, fresh)),
            "planted_dup_rate": dup_share, "sha256": _digest(files)}


def gen_corpus(rng, out, n_base, clusters, exact_copies, low_quality,
               edit_share=0.05):
    """A small raw corpus with planted truth for CorpusPipeline.prepare:
    `clusters` near-duplicate clusters (a base doc plus 1-4 members, each
    `edit_share` of its tokens substituted), `exact_copies` verbatim
    copies of base docs, and `low_quality` three-token rows the quality
    gate drops. Rows are shuffled before ids are given, so a copy's id
    can be below its source's. `kind` and `dup_of` (the source's id, -1
    for none) record the truth."""
    text = _Text(rng)
    rows = [(" ".join(text.doc()), "base", -1) for _ in range(n_base)]
    for src in rng.choice(n_base, size=clusters, replace=False):
        toks = rows[src][0].split(" ")
        for _ in range(int(rng.integers(1, 5))):
            rows.append((" ".join(text.edit(toks, edit_share)), "near",
                         int(src)))
    for src in rng.integers(0, n_base, size=exact_copies):
        rows.append((rows[src][0], "exact", int(src)))
    for _ in range(low_quality):
        rows.append((" ".join(text.doc(3, 4)), "low_quality", -1))
    order = rng.permutation(len(rows))
    new_id = np.empty(len(rows), dtype=np.int64)
    new_id[order] = np.arange(len(rows))
    rows = [rows[i] for i in order]
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "docs.parquet")
    _write(pa.table({
        "id": pa.array(np.arange(len(rows)), type=pa.int64()),
        "text": pa.array([r[0] for r in rows]),
        "kind": pa.array([r[1] for r in rows]),
        "dup_of": pa.array([int(new_id[r[2]]) if r[2] >= 0 else -1
                            for r in rows], type=pa.int64())}), path)
    return {"rows": len(rows), "near_dup_rows": sum(r[1] == "near" for r in rows),
            "exact_copies": exact_copies, "low_quality": low_quality,
            "planted_dup_rate": round(sum(r[1] in ("near", "exact")
                                          for r in rows) / len(rows), 4),
            "bytes": os.path.getsize(path), "sha256": _digest([path])}


def gen_graph(rng, out, nodes, edges, alpha=0.8):
    """A directed power-law graph: both endpoints drawn with weight
    rank^-alpha over a shuffled node order. Self-loops and repeated
    edges are kept; the engine's operators define what they do."""
    w = 1.0 / np.arange(1, nodes + 1) ** alpha
    w = rng.permutation(w / w.sum())
    src = rng.choice(nodes, size=edges, p=w)
    dst = rng.choice(nodes, size=edges, p=w)
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "edges.parquet")
    _write(pa.table({"src": pa.array(src, type=pa.int64()),
                     "dst": pa.array(dst, type=pa.int64())}), path)
    deg = np.bincount(np.concatenate([src, dst]), minlength=nodes)
    return {"nodes": nodes, "edges": edges,
            "degree_skew": round(float(deg.max() / deg.mean()), 2),
            "bytes": os.path.getsize(path), "sha256": _digest([path])}


FAMILIES = ["ann", "lifecycle", "corpus", "graph"]


def generate(out, seed, sizes):
    """Generate the inputs of every family in `sizes` under `out` from
    `seed`; `sizes` maps a family to its keyword arguments. Each family
    has its own stream, so one family's inputs do not depend on which
    others are made. Returns the input shapes."""
    root = np.random.SeedSequence(seed)
    rngs = dict(zip(FAMILIES, (np.random.default_rng(s)
                               for s in root.spawn(len(FAMILIES)))))
    makers = {"ann": gen_vectors, "lifecycle": gen_lifecycle,
              "corpus": gen_corpus, "graph": gen_graph}
    return {fam: makers[fam](rngs[fam], os.path.join(out, fam), **kw)
            for fam, kw in sizes.items()}
