"""Seeded input generators and independent reference answers.

Each workload's input is a pure function of (workload, seed): numpy's
PCG64 stream seeded with a per-workload salt. Inputs are written as
parquet with pyarrow next to `expected.json`, the answers an engine
must reproduce, computed here without Spark:

- `crawl_rank`: a Common-Crawl-style page table (url, html, text).
  Link targets are Zipf-distributed over hosts, so a few hub hosts take
  most in-links; a known set of near-duplicate page pairs is planted.
- `graph_supersteps`: an R-MAT edge table (Graph500 quadrants
  .57/.19/.19/.05) whose vertex ids are scrambled by a bijection onto a
  sparse 40-bit range, and a sample of its vertices as closeness
  sources, with the closeness estimate from those sources expected.

The engine receives only the parquet files; `expected.json` is read by
the output checks.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("crawl_rank", "graph_supersteps")

# Sizes. A pass costs mostly per-stage scheduling, not data, so these keep
# a run near one minute on a 4-core VM while every operator still takes
# its regime (see DESIGN.md).
CRAWL_PAGES = 3000
CRAWL_HOSTS = 30
CRAWL_OUT_MEAN = 5
CRAWL_WORDS = 32
CRAWL_VOCAB = 20000
CRAWL_PLANTED = 30
SUPERSTEPS_SCALE = 10
SUPERSTEPS_EDGE_FACTOR = 32
CLOSENESS_SOURCES = 16

_SALT = {"crawl_rank": 0x1C4A, "graph_supersteps": 0x5E9B}


def _rng(workload, seed):
    return np.random.Generator(np.random.PCG64([_SALT[workload], int(seed)]))


def rmat(rng, scale, edge_factor, a=0.57, b=0.19, c=0.19):
    """Raw R-MAT (src, dst) arrays: duplicates and self-loops included."""
    m = edge_factor << scale
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for _ in range(scale):
        r = rng.random(m)
        # quadrant a: (0,0); b: (0,1); c: (1,0); d: (1,1)
        s_bit = r >= a + b
        d_bit = ((r >= a) & (r < a + b)) | (r >= a + b + c)
        src = (src << 1) | s_bit
        dst = (dst << 1) | d_bit
    return src, dst


def scramble(rng, ids):
    """Bijection of [0, 2^40) onto itself: odd multiply, then xor."""
    mask = (1 << 40) - 1
    mul = int(rng.integers(1 << 20, 1 << 39)) | 1
    xor = int(rng.integers(0, 1 << 40))
    return ((ids.astype(np.uint64) * np.uint64(mul)) & np.uint64(mask)
            ^ np.uint64(xor)).astype(np.int64)


def canonical(src, dst):
    """Undirected edge set: (min, max), self-loops dropped, distinct."""
    lo = np.minimum(src, dst)
    hi = np.maximum(src, dst)
    keep = lo != hi
    pairs = np.unique(np.stack([lo[keep], hi[keep]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def component_count(src, dst):
    """Connected components of the canonical edge set (union-find)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    m = len(src)
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(inv[:m].tolist(), inv[m:].tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return sum(1 for x in range(len(ids)) if find(x) == x)


def triangle_count(src, dst):
    """Triangles of the canonical edge set: orient each edge from the
    lower (degree, id) endpoint, then intersect out-neighbour sets."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    m = len(src)
    u, v = inv[:m], inv[m:]
    deg = np.bincount(inv, minlength=len(ids))
    key = deg.astype(np.int64) * len(ids) + np.arange(len(ids))
    lo = np.where(key[u] < key[v], u, v)
    hi = np.where(key[u] < key[v], v, u)
    out = [set() for _ in range(len(ids))]
    for a, b in zip(lo.tolist(), hi.tolist()):
        out[a].add(b)
    return sum(len(out[a] & out[b]) for a, b in zip(lo.tolist(), hi.tolist()))


def closeness(src, dst, sources):
    """ApproxCloseness's sampled-source estimate, by plain BFS: with r
    sources reaching v at distance sum sd, n vertices and k sources,
    ((r n/k - 1) / (n - 1)) * ((r n/k - 1) / (sd n/k)), 0 where sd is 0.
    Returns (ids, values) over every vertex, ids ascending."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n, m = len(ids), len(src)
    adj = [[] for _ in range(n)]
    for a, b in zip(inv[:m].tolist(), inv[m:].tolist()):
        adj[a].append(b)
        adj[b].append(a)
    reach = [0] * n
    dsum = [0] * n
    for s in np.searchsorted(ids, sources).tolist():
        dist = {s: 0}
        frontier = [s]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        nxt.append(v)
            frontier = nxt
        for v, d in dist.items():
            reach[v] += 1
            dsum[v] += d
    ratio = n / len(sources)
    values = [((r * ratio - 1.0) / (n - 1)) * ((r * ratio - 1.0) / (sd * ratio)) if sd > 0
              else 0.0 for r, sd in zip(reach, dsum)]
    return ids, values


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def gen_crawl(rng, out_dir):
    n, hosts = CRAWL_PAGES, CRAWL_HOSTS
    host_of = np.arange(n) % hosts
    urls = [f"https://h{h}.example/p{i}" for i, h in enumerate(host_of.tolist())]
    # Zipf(1.2) host popularity: a handful of hub hosts take most in-links
    host_w = 1.0 / np.arange(1, hosts + 1) ** 1.2
    host_w /= host_w.sum()
    pages_of_host = [np.arange(h, n, hosts) for h in range(hosts)]
    outdeg = 1 + rng.poisson(CRAWL_OUT_MEAN - 1, n)
    targets = []
    for i in range(n):
        th = rng.choice(hosts, size=int(outdeg[i]), p=host_w)
        t = [int(pages_of_host[h][rng.integers(len(pages_of_host[h]))]) for h in th]
        targets.append([x for x in t if x != i] or [(i + 1) % n])
    words = rng.integers(0, CRAWL_VOCAB, size=(n, CRAWL_WORDS))
    # planted near-duplicates: page b copies page a's words with the last
    # one substituted (3-shingle Jaccard (w-3)/(w-1), 0.93 at 32 words, so
    # 8 LSH bands of 2 miss a pair with probability ~1e-7); each page is
    # in at most one pair
    perm = rng.permutation(n)[: 2 * CRAWL_PLANTED].reshape(-1, 2)
    for a, b in perm.tolist():
        words[b] = words[a]
        words[b, -1] = CRAWL_VOCAB + int(rng.integers(1000))
    texts = [" ".join(f"w{w}" for w in row) for row in words.tolist()]
    html = [
        (f"<html><head><title>p{i}</title></head><body><p>{texts[i]}</p>"
         + "".join(f'<a href="{urls[t]}">a</a>' for t in targets[i])
         + "</body></html>").encode()
        for i in range(n)
    ]
    _write(pa.table({"url": urls, "html": pa.array(html, pa.binary()), "text": texts}),
           os.path.join(out_dir, "pages.parquet"))
    src = np.repeat(np.arange(n), [len(t) for t in targets])
    dst = np.array([x for t in targets for x in t], dtype=np.int64)
    cs, cd = canonical(src, dst)
    planted = sorted(tuple(sorted((urls[a], urls[b]))) for a, b in perm.tolist())
    return cs, cd, {"links": int(len(src)), "planted_pairs": [list(p) for p in planted]}


def gen_rmat(rng, out_dir, scale, edge_factor):
    src, dst = rmat(rng, scale, edge_factor)
    both = scramble(rng, np.concatenate([src, dst]))
    src, dst = both[: len(src)], both[len(src):]
    _write(pa.table({"src": src, "dst": dst}), os.path.join(out_dir, "edges.parquet"))
    cs, cd = canonical(src, dst)
    verts = np.unique(np.concatenate([cs, cd]))
    sources = np.sort(rng.choice(verts, size=CLOSENESS_SOURCES, replace=False))
    _write(pa.table({"s": sources}), os.path.join(out_dir, "sources.parquet"))
    ids, values = closeness(cs, cd, sources)
    return cs, cd, {"raw_edges": int(len(src)),
                    "closeness": [[int(i), v] for i, v in zip(ids.tolist(), values)]}


def generate(workload, seed, out_dir):
    """Materialise the input and expected answers for (workload, seed)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(workload, seed)
    if workload == "crawl_rank":
        cs, cd, extra = gen_crawl(rng, out_dir)
    elif workload == "graph_supersteps":
        cs, cd, extra = gen_rmat(rng, out_dir, SUPERSTEPS_SCALE, SUPERSTEPS_EDGE_FACTOR)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    expected = {
        "workload": workload,
        "seed": int(seed),
        "vertices": int(len(np.unique(np.concatenate([cs, cd])))),
        "edges": int(len(cs)),
        "components": component_count(cs, cd),
        "triangles": triangle_count(cs, cd),
        **extra,
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def ensure(workload, seed, inputs_root):
    """Generate once per (workload, seed) and version of this file; later
    runs reuse the files."""
    out_dir = os.path.join(inputs_root, f"{workload}-{seed}")
    done = os.path.join(out_dir, "DONE")
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()
    if os.path.exists(done):
        with open(done) as f:
            if f.read() == version:
                return out_dir
        shutil.rmtree(out_dir)
    generate(workload, seed, out_dir)
    with open(done, "w") as f:
        f.write(version)
    return out_dir
