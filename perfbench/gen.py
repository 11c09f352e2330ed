#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Writes the fixture tables (same names, schemas and column domains as the
parquet fixtures described in FIXTURES.md) that one workload reads into a
directory, so every registered query reads them unchanged through
`Tables.<name>(spark, dir)`. Multi-file tables are directories named
`<table>.parquet` holding `part-NNNNN.parquet` files, which both
`spark.read.parquet` and the streaming file source accept.

The same (workload, seed) gives byte-identical files. `generate` returns
a manifest: the content hash of every table and the realized workload
properties (gated/invalid shares, Zipf exponent, family shapes, file
counts), which run.py prints.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-workload sizes and shape knobs. Sizes trade per-call work against
# the time one benchmark run may take (see README.md, "Sizing").
WORKLOADS = {
    "ingest_features": dict(
        events=30_000, event_files=4, users=6_000, zipf_s=1.1,
        gated_share=0.40,      # purchase/view: the A6 rewrite's gate
        missing_share=0.03,    # rows with a required field nulled
        bad_props_share=0.05,  # malformed or non-numeric props
    ),
    "corpus_dedup": dict(
        singles=240, clique_families=30, clique_size=(2, 5),
        chain_families=2, chain_len=8, doc_files=4, vocab=3_000,
        doc_tokens=(30, 60), vectors=200, vector_families=20, dim=64,
        cc_chain=8, cc_cliques=30, cc_clique_size=(3, 6),
    ),
}

EVENT_TYPES_GATED = ["purchase", "view"]
EVENT_TYPES_OTHER = ["click", "error", "signup"]
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in µs

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def _write(table, path, files):
    """Write `table` as one file (`files == 0`) or as a directory of
    `files` row-contiguous parts. Returns the written file paths."""
    if files == 0:
        pq.write_table(table, path, compression="snappy")
        return [path]
    os.makedirs(path, exist_ok=True)
    out = []
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        p = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p,
                       compression="snappy")
        out.append(p)
    return out


def _hash_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def gen_events(rng, n, users, gated_share, missing_share, bad_props_share,
               zipf_s=None):
    """The event log. Returns (arrow table, realized properties)."""
    event_id = np.arange(n, dtype=np.int64)
    ts = T0_US + np.cumsum(rng.integers(1_000_000, 120_000_000, n))
    if zipf_s is None:
        user_id = rng.integers(0, users, n)
    else:
        p = np.arange(1, users + 1, dtype=np.float64) ** -zipf_s
        user_id = rng.choice(users, size=n, p=p / p.sum())
    gated = rng.random(n) < gated_share
    etype = np.where(
        gated,
        np.array(EVENT_TYPES_GATED, dtype=object)[rng.integers(0, 2, n)],
        np.array(EVENT_TYPES_OTHER, dtype=object)[rng.integers(0, 3, n)])
    value = np.round(rng.uniform(0.0, 500.0, n), 2)
    k = rng.integers(0, 100, n)
    props = np.array([f'{{"k": {x}}}' for x in k], dtype=object)
    bad = rng.random(n) < bad_props_share
    kind = rng.integers(0, 3, n)
    for i in np.flatnonzero(bad):
        props[i] = (f'{{"k": "x{k[i]}"}}', f'{{"k": {k[i]}', f"k={k[i]}")[kind[i]]
    # rows missing a required field: null one of user_id / event_type / ts
    miss = rng.random(n) < missing_share
    which = rng.integers(0, 3, n)
    uid_mask = miss & (which == 0)
    type_mask = miss & (which == 1)
    ts_mask = miss & (which == 2)
    table = pa.table({
        "event_id": event_id,
        "ts": pa.array(ts, pa.timestamp("us"), mask=ts_mask),
        "user_id": pa.array(user_id.astype(np.int64), pa.int64(), mask=uid_mask),
        "event_type": pa.array(etype, pa.string(), mask=type_mask),
        "value": value,
        "props": pa.array(props, pa.string()),
    }, schema=EVENTS_SCHEMA)
    # the envelope nulls Location for event_id % 97 == 0 and wherever
    # user_id is null, so a row is invalid if either holds
    invalid = miss | (event_id % 97 == 0)
    props_out = {
        "events": n,
        "gated_share": round(float(gated[~type_mask].mean()), 4),
        "missing_share": round(float(miss.mean()), 4),
        "invalid_share": round(float(invalid.mean()), 4),
        "valid_rows": int((~invalid).sum()),
        "bad_props_share": round(float(bad.mean()), 4),
    }
    if zipf_s is not None:
        props_out["zipf_exponent"] = round(_zipf_fit(user_id), 3)
        props_out["top_user_share"] = round(
            float(np.bincount(user_id).max() / n), 4)
    return table, props_out


def _zipf_fit(keys, ranks=100):
    """Least-squares slope of log(frequency) on log(rank) over the top
    `ranks` keys: the realized Zipf exponent."""
    freq = np.sort(np.bincount(keys))[::-1][:ranks]
    freq = freq[freq > 0]
    x = np.log(np.arange(1, len(freq) + 1))
    return float(-np.polyfit(x, np.log(freq), 1)[0])


def gen_corpus(rng, c):
    """Documents with planted near-duplicate families, embeddings with
    near-identical families, and two pair graphs for direct
    connected-component calls."""
    vocab = np.array([f"w{i}" for i in range(c["vocab"])], dtype=object)
    lo, hi = c["doc_tokens"]

    def fresh():
        return list(vocab[rng.integers(0, len(vocab), rng.integers(lo, hi + 1))])

    def edit(toks):
        t = list(toks)
        t[rng.integers(0, len(t))] = vocab[rng.integers(0, len(vocab))]
        return t

    docs, family_sizes = [], []
    for _ in range(c["singles"]):
        docs.append(fresh())
    for _ in range(c["clique_families"]):
        base = fresh()
        k = int(rng.integers(c["clique_size"][0], c["clique_size"][1] + 1))
        family_sizes.append(k)
        docs.extend([base] + [edit(base) for _ in range(k - 1)])
    for _ in range(c["chain_families"]):
        cur = fresh()
        for _ in range(c["chain_len"]):
            docs.append(cur)
            cur = edit(edit(cur))
    order = rng.permutation(len(docs))
    texts = [" ".join(docs[i]) for i in order]
    n = len(texts)
    langs = np.array(["en", "fr", "es", "zh", "de"], dtype=object)
    documents = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, 5, n)], pa.string()),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": rng.integers(40, 500, n).astype(np.int64)})
    # embeddings: unit-norm family centers plus tiny jitter
    nv, dim, fam = c["vectors"], c["dim"], c["vector_families"]
    centers = rng.normal(size=(nv, dim))
    members = rng.integers(0, fam, nv // 3)
    centers[: nv // 3] = centers[members + nv // 3]
    vec = centers + rng.normal(scale=0.01, size=(nv, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec[rng.permutation(nv)].astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    # the CC pair graph: one chain (diameter = its length) plus many
    # small cliques, node ids permuted so no id order leaks the structure
    L = c["cc_chain"]
    a, b = list(range(L)), list(range(1, L + 1))
    sizes, nxt = [], L + 1
    for _ in range(c["cc_cliques"]):
        k = int(rng.integers(c["cc_clique_size"][0], c["cc_clique_size"][1] + 1))
        sizes.append(k)
        for i in range(nxt, nxt + k):
            for j in range(i + 1, nxt + k):
                a.append(i); b.append(j)
        nxt += k
    relabel = rng.permutation(nxt).astype(np.int64)
    # the chain's smallest id sits at one end, so min-label propagation
    # must cross the whole chain whatever the seed
    lo = int(np.argmin(relabel[: L + 1]))
    relabel[[0, lo]] = relabel[[lo, 0]]
    graph = pa.table({"a_id": relabel[np.array(a)], "b_id": relabel[np.array(b)]})
    tables = dict(documents=documents, embeddings=embeddings, cc_graph=graph)
    props = {
        "documents": n,
        "doc_families": len(family_sizes) + c["chain_families"],
        "clique_family_sizes": {str(k): family_sizes.count(k) for k in sorted(set(family_sizes))},
        "chain_families": c["chain_families"], "chain_len": c["chain_len"],
        "vectors": nv, "cc_chain_nodes": L + 1, "cc_cliques": len(sizes),
        "cc_components": 1 + len(sizes), "cc_nodes": nxt,
    }
    return tables, props


def generate(workload, seed, out_dir):
    """Write `workload`'s tables for `seed` into `out_dir`; return the
    manifest {tables: {name: {hash, files, rows}}, properties: {...}}."""
    c = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    files = {}
    if workload == "ingest_features":
        ev, props = gen_events(rng, c["events"], c["users"], c["gated_share"],
                               c["missing_share"], c["bad_props_share"], c["zipf_s"])
        files["events"] = (ev, c["event_files"])
    if workload == "corpus_dedup":
        tables, props = gen_corpus(rng, c)
        files["documents"] = (tables["documents"], c["doc_files"])
        for name in ("embeddings", "cc_graph"):
            files[name] = (tables[name], 0)
    manifest = {"workload": workload, "seed": seed, "tables": {}, "properties": props}
    for name, (t, nfiles) in files.items():
        paths = _write(t, os.path.join(out_dir, f"{name}.parquet"), nfiles)
        manifest["tables"][name] = {
            "hash": _hash_files(paths), "files": len(paths), "rows": t.num_rows}
    props["arrival_files"] = manifest["tables"].get(
        "documents", manifest["tables"].get("events"))["files"]
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"usage: gen.py {{{','.join(WORKLOADS)}}} <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))
