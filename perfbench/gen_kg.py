"""Seeded NELL-shaped knowledge graph in the reference text format.

* labels form a two-level hierarchy: ``n_top`` top types with ``n_sub``
  subtypes each; a node carries its subtype and its top type, and a share
  of nodes one extra cross label, so nodes are multi-labelled;
* every predicate has a signature (domain type, range type), drawn at the
  top or the sub level; regular edges respect it;
* node popularity is zipfian within each type (hubs), predicate frequency
  zipfian over predicates;
* ``CORRUPT_SHARE`` of the edges are injected with a random predicate
  between random nodes (type signature ignored) and recorded as the
  anomalies.

Files: ``<name>.txt`` (``s p o`` per line, edge id = line number) and
``<name>_labels.txt`` (``node l1 l2 ...``), as ``sources.edgelist`` reads
them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np


@dataclass
class RefKG:
    edges: list           # [(s, p, o)] in file order
    labels: dict          # node -> tuple of labels (order preserved)
    corrupt: set          # injected (s, p, o)


def _zipf_cdf(n: int, a: float) -> np.ndarray:
    w = np.cumsum(1.0 / np.arange(1, n + 1) ** a)
    return w / w[-1]


#: share of nodes with a cross label; share of edges injected as anomalies
CROSS_SHARE, CORRUPT_SHARE = 0.2, 0.05


def generate(seed: int, n_edges: int, n_top: int, n_sub: int, n_preds: int,
             nodes_per_sub: int) -> RefKG:
    rng = np.random.RandomState(seed)
    tops = [f"t{i}" for i in range(n_top)]
    subs = [(f"t{i}_s{j}", f"t{i}") for i in range(n_top) for j in range(n_sub)]
    nodes_of: dict = {}
    labels: dict = {}
    for sub, top in subs:
        for k in range(nodes_per_sub):
            node = f"concept:{sub}:n{k}"
            labs = [sub, top]
            if rng.rand() < CROSS_SHARE:
                other = subs[rng.randint(len(subs))][0]
                if other != sub:
                    labs.append(other)
            labels[node] = tuple(labs)
            nodes_of.setdefault(sub, []).append(node)
            nodes_of.setdefault(top, []).append(node)

    def pick_type():
        # half the signatures name a top type, half a subtype
        return tops[rng.randint(n_top)] if rng.rand() < 0.5 else subs[rng.randint(len(subs))][0]

    sigs = [(pick_type(), pick_type()) for _ in range(n_preds)]
    n_corrupt = int(round(n_edges * CORRUPT_SHARE))
    n_regular = n_edges - n_corrupt

    edges, seen = [], set()
    pred_cdf = _zipf_cdf(n_preds, 0.8)
    hub_cdf = {n: _zipf_cdf(n, 1.1) for n in {len(v) for v in nodes_of.values()}}
    while len(edges) < n_regular:
        p = int(np.searchsorted(pred_cdf, rng.rand()))
        dom, rng_t = sigs[p]
        s_pool, o_pool = nodes_of[dom], nodes_of[rng_t]
        s = s_pool[int(np.searchsorted(hub_cdf[len(s_pool)], rng.rand()))]
        o = o_pool[rng.randint(len(o_pool))]
        t = (s, f"p{p}", o)
        if s != o and t not in seen:
            seen.add(t)
            edges.append(t)
    all_nodes = list(labels)
    corrupt = set()
    while len(corrupt) < n_corrupt:
        s = all_nodes[rng.randint(len(all_nodes))]
        o = all_nodes[rng.randint(len(all_nodes))]
        t = (s, f"p{rng.randint(n_preds)}", o)
        if s != o and t not in seen:
            seen.add(t)
            corrupt.add(t)
    # corrupt edges are interleaved at random file positions
    merged = edges + sorted(corrupt)
    order = rng.permutation(len(merged))
    edges = [merged[k] for k in order]
    return RefKG(edges, labels, corrupt)


def write(kg: RefKG, out_dir: str, name: str) -> tuple:
    os.makedirs(out_dir, exist_ok=True)
    ep = os.path.join(out_dir, f"{name}.txt")
    lp = os.path.join(out_dir, f"{name}_labels.txt")
    with open(ep, "w") as f:
        f.write("".join(f"{s} {p} {o}\n" for s, p, o in kg.edges))
    with open(lp, "w") as f:
        f.write("".join(f"{n} {' '.join(ls)}\n" for n, ls in kg.labels.items()))
    return ep, lp
