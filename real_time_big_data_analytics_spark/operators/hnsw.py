"""HNSW graph kernels (Malkov & Yashunin 2016): one shard's graph
build, search, insert, audit and compaction, in plain numpy/pandas.

These functions run inside ``applyInPandas`` / cogrouped
``applyInPandas`` on executor Python workers, which cannot import this
package when the driver runs from a foreign cwd. So the module
registers itself with cloudpickle at import: every function here, and
every function it calls, is pickled BY VALUE into the UDF payload, on
any session and from any cwd. The rule that keeps that working: this
module imports only stdlib, numpy, pandas and pyspark's cloudpickle,
never the rest of the package. ``similarity.py`` holds the Spark side
(shard exchange, staging, re-scoring) and wraps each kernel in a thin
closure over its plain-list/int arguments.

Determinism: insertion order is ascending vec_id (appended nodes after
the base), a node's level is a hash of its vec_id (not RNG state),
distances are rounded to 9 dp with index tie-breaks, and adjacency
lists are kept sorted, so every shard's graph and search results are
bit-identical across runs and engines' partitionings.

Distances are vectorized per query/insertion: ONE einsum row
``np.round(1.0 - einsum(unit, qu), 9)``, which equals the scalar
``round(1.0 - float(unit[i] @ qu), 9)`` for every distance the corpus
produces (pinned in tests/test_hnsw_vectorized_rounding.py). Above
``FULL_DOT_MAX`` rows the search falls back to the scalar
per-neighbor distance: a full O(n) row per insertion would not be
scale-safe on RAM-sized shards, while the beam search touches
O(ef·deg·log n) nodes. einsum, not BLAS matmul, on purpose: gemv
engages OpenBLAS threading, which under concurrent Spark tasks
measured 6x slower than the scalar loop; einsum is single-threaded
regardless of worker env.
"""

from __future__ import annotations

import heapq
import math
import sys
from bisect import bisect_left
from collections import deque

import numpy as np
import pandas as pd
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

FULL_DOT_MAX = 8192  # full-row distance precompute pays below this n


def unit_vectors(pdf, order):
    """(ids, unit): ``pdf``'s vec_ids and L2-normalized float64
    embeddings, rows taken in ``order``."""
    ids = pdf["vec_id"].to_numpy()[order]
    vecs = np.stack(pdf["embedding"].to_numpy())[order].astype(np.float64)
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    return ids, vecs / np.maximum(norms, 1e-12)[:, None]


def levels(ids, m):
    """Deterministic "uniform" level draw from each vector id."""
    m_l = 1.0 / math.log(m)
    level_of = []
    for vid in ids:
        h = (int(vid) * 2654435761 + 97) % (1 << 32)
        u = (h + 1) / float((1 << 32) + 1)
        level_of.append(min(int(-math.log(u) * m_l), 8))
    return level_of


def entry_point(level_of, n):
    """A fresh build's entry among the first ``n`` nodes: highest level,
    first inserted among equals (the entry only moves on a STRICTLY
    higher level). (None, -1) when ``n`` is 0."""
    entry, top = None, -1
    for i in range(n):
        if level_of[i] > top:
            entry, top = i, level_of[i]
    return entry, top


def adjacency(ids, level_of, edge_pdf=None):
    """Per node, {layer: sorted neighbor indexes} for every layer up to
    its level, filled from persisted (node_id, layer, neighbor_id) rows
    when ``edge_pdf`` is given."""
    adj = [{layer: set() for layer in range(lv + 1)} for lv in level_of]
    if edge_pdf is not None:
        idx_of = {int(v): i for i, v in enumerate(ids)}
        for node, layer, nb in zip(
            edge_pdf["node_id"], edge_pdf["layer"], edge_pdf["neighbor_id"]
        ):
            adj[idx_of[int(node)]][int(layer)].add(idx_of[int(nb)])
    return [{layer: sorted(nbrs) for layer, nbrs in pl.items()} for pl in adj]


def dist_row(unit, qu):
    """Rounded cosine distances from ``qu`` to every row of ``unit``."""
    return np.round(1.0 - np.einsum("ij,j->i", unit, qu), 9).tolist()


def search_layer(adj, unit, qu, dv, eps, ef, layer):
    """Beam search from ``eps``: returns [(dist, idx)] ascending,
    <= ef. ``dv`` is the precomputed distance row, or None for the
    scalar per-neighbor path."""
    if dv is not None:
        dq = dv.__getitem__
    else:
        def dq(i):
            return round(1.0 - float(unit[i] @ qu), 9)
    visited = set(eps)
    cand = [(dq(e), e) for e in eps]
    heapq.heapify(cand)
    res = [(-d, e) for d, e in cand]
    heapq.heapify(res)
    while cand:
        d, c = heapq.heappop(cand)
        if res and d > -res[0][0]:
            break
        for nb in adj[c].get(layer, ()):
            if nb in visited:
                continue
            visited.add(nb)
            dn = dq(nb)
            if len(res) < ef or dn < -res[0][0]:
                heapq.heappush(cand, (dn, nb))
                heapq.heappush(res, (-dn, nb))
                if len(res) > ef:
                    heapq.heappop(res)
    return sorted(((-d, e) for d, e in res), key=lambda t: (t[0], t[1]))


def prune(unit, node, nbrs, mmax):
    """The M-bound rule: keep ``node``'s ``mmax`` closest of ``nbrs``
    (rounded distance, tie on index), returned sorted by index."""
    ds = np.round(1.0 - np.einsum("ij,j->i", unit[nbrs], unit[node]), 9)
    return sorted(x for _, x in sorted(zip(ds.tolist(), nbrs))[:mmax])


def _insert_sorted(lst, x):
    p = bisect_left(lst, x)
    if p == len(lst) or lst[p] != x:
        lst.insert(p, x)


def insert_nodes(unit, level_of, adj, start, m, ef_c):
    """Link nodes ``start..n-1`` into ``adj`` in index order (greedy
    descent from the entry point, beam with ``ef_c``, bidirectional
    M-bounded links with overflow pruning); nodes below ``start`` are
    the existing graph. Returns the final (entry, top)."""
    n = len(unit)
    entry, top = entry_point(level_of, start)
    for i in range(start, n):
        li = level_of[i]
        if entry is None:
            entry, top = i, li
            continue
        qu = unit[i]
        dv = dist_row(unit, qu) if n <= FULL_DOT_MAX else None
        ep = [entry]
        for layer in range(top, li, -1):
            ep = [search_layer(adj, unit, qu, dv, ep, 1, layer)[0][1]]
        for layer in range(min(top, li), -1, -1):
            cands = search_layer(adj, unit, qu, dv, ep, ef_c, layer)
            mmax = m if layer > 0 else 2 * m
            for _, e in cands[:m]:
                _insert_sorted(adj[i][layer], e)
                lst_e = adj[e][layer]
                _insert_sorted(lst_e, i)
                if len(lst_e) > mmax:
                    adj[e][layer] = prune(unit, e, lst_e, mmax)
            ep = [e for _, e in cands]
        if li > top:
            entry, top = i, li
    return entry, top


def search(unit, ids, adj, entry, top, queries, k, efs, excluded=frozenset()):
    """Every query at every beam width in ``efs``: (query_ids,
    vec_ids, efs) lists of at most ``k`` hits each, nearest first. A
    query never returns itself; ``excluded`` ids (tombstones) are
    traversed but never returned."""
    out_q, out_v, out_ef = [], [], []
    if entry is None:
        return out_q, out_v, out_ef
    qrows: dict = {}  # per-query distance row, shared across efs
    for ef in efs:
        for qi, (qid, qvec) in enumerate(queries):
            qu = np.asarray(qvec, dtype=np.float64)
            qu = qu / max(math.sqrt(float(qu @ qu)), 1e-12)
            if qi not in qrows:
                qrows[qi] = dist_row(unit, qu) if len(ids) <= FULL_DOT_MAX else None
            dv = qrows[qi]
            ep = [entry]
            for layer in range(top, 0, -1):
                ep = [search_layer(adj, unit, qu, dv, ep, 1, layer)[0][1]]
            # beam width IS ef (+1 covers self-exclusion): an ef below
            # k legitimately returns fewer than k hits, which is
            # exactly what the recall sweep measures
            taken = 0
            for _d, e in search_layer(adj, unit, qu, dv, ep, ef + 1, 0):
                vid = int(ids[e])
                if vid == qid or vid in excluded:
                    continue
                out_q.append(qid)
                out_v.append(vid)
                out_ef.append(ef)
                taken += 1
                if taken >= k:
                    break
    return out_q, out_v, out_ef


def edge_frame(ids, adj, nodes):
    """(node_id, layer, neighbor_id) rows of ``nodes``' adjacency."""
    rows_n, rows_l, rows_nb = [], [], []
    for i in nodes:
        for layer, nbrs in adj[i].items():
            for nb in sorted(nbrs):
                rows_n.append(int(ids[i]))
                rows_l.append(layer)
                rows_nb.append(int(ids[nb]))
    return pd.DataFrame({"node_id": rows_n, "layer": rows_l, "neighbor_id": rows_nb})


def build_and_search(pdf, queries, k, efs, m, ef_c, emit="candidates"):
    """Build one shard's graph, then search every query at each ef
    -> (query_id, vec_id, ef); ``emit="edges"`` returns the graph's
    edge rows instead (levels and the entry point derive from the ids,
    so edges are the whole persisted index)."""
    ids, unit = unit_vectors(pdf, np.argsort(pdf["vec_id"].to_numpy()))
    level_of = levels(ids, m)
    adj = adjacency(ids, level_of)
    entry, top = insert_nodes(unit, level_of, adj, 0, m, ef_c)
    if emit == "edges":
        return edge_frame(ids, adj, range(len(ids)))
    q, v, e = search(unit, ids, adj, entry, top, queries, k, efs)
    return pd.DataFrame({"query_id": q, "vec_id": v, "ef": e})


def search_edges(vec_pdf, edge_pdf, queries, k, ef, m, excluded=frozenset()):
    """Search one shard's PERSISTED graph -> (query_id, vec_id): the
    same descent and beam as a fresh build's search."""
    ids, unit = unit_vectors(vec_pdf, np.argsort(vec_pdf["vec_id"].to_numpy()))
    level_of = levels(ids, m)
    adj = adjacency(ids, level_of, edge_pdf)
    entry, top = entry_point(level_of, len(ids))
    q, v, _ = search(unit, ids, adj, entry, top, queries, k, (ef,), excluded)
    return pd.DataFrame({"query_id": q, "vec_id": v})


def insert_edges(vec_pdf, edge_pdf, m, ef_c):
    """Insert the ``is_new`` vectors into one shard's persisted base
    graph (ascending vec_id, after every base node) -> the updated
    full edge set. No base-base distance is recomputed."""
    is_new = vec_pdf["is_new"].to_numpy()
    ids, unit = unit_vectors(
        vec_pdf, np.lexsort((vec_pdf["vec_id"].to_numpy(), is_new))
    )
    level_of = levels(ids, m)
    adj = adjacency(ids, level_of, edge_pdf)
    insert_nodes(unit, level_of, adj, int((~is_new).sum()), m, ef_c)
    return edge_frame(ids, adj, range(len(ids)))


def graph_stats(vec_pdf, edge_pdf, m):
    """One shard's structural audit -> one row: node count, ``is_new``
    count, ``is_new`` nodes reachable from the entry point by layer-0
    BFS, and (node, layer) lists over the M bound."""
    ids = np.sort(vec_pdf["vec_id"].to_numpy())
    is_new = {int(r.vec_id): bool(r.is_new) for r in vec_pdf.itertuples()}
    idx_of = {int(v): i for i, v in enumerate(ids)}
    n = len(ids)
    adj0: list[set] = [set() for _ in range(n)]
    per_layer: dict[tuple[int, int], int] = {}
    for node, layer, nbr in zip(
        edge_pdf["node_id"], edge_pdf["layer"], edge_pdf["neighbor_id"]
    ):
        i, j, la = idx_of[int(node)], idx_of[int(nbr)], int(layer)
        per_layer[(i, la)] = per_layer.get((i, la), 0) + 1
        if la == 0:
            adj0[i].add(j)
    deg_viol = sum(
        1 for (_i, la), deg in per_layer.items() if deg > (2 * m if la == 0 else m)
    )
    entry, _top = entry_point(levels(ids, m), n)
    reach = set()
    if entry is not None:
        q = deque([entry])
        reach.add(entry)
        while q:
            c = q.popleft()
            for nb in adj0[c]:
                if nb not in reach:
                    reach.add(nb)
                    q.append(nb)
    n_new = sum(1 for v in ids if is_new[int(v)])
    new_connected = sum(1 for v in ids if is_new[int(v)] and idx_of[int(v)] in reach)
    return pd.DataFrame(
        {
            "n_vectors": [n],
            "n_new": [n_new],
            "n_new_connected": [new_connected],
            "degree_violations": [deg_viol],
        }
    )


def compact_edges(vec_pdf, edge_pdf, m):
    """One shard's graph minus its ``is_deleted`` nodes -> the
    survivor-only edge set. Per layer, each deleted node's surviving
    neighbors are linked pairwise (the one-hop repair), then every
    survivor drops deleted targets and re-prunes to the M bound."""
    order = np.argsort(vec_pdf["vec_id"].to_numpy())
    ids, unit = unit_vectors(vec_pdf, order)
    is_del = [bool(x) for x in vec_pdf["is_deleted"].to_numpy()[order]]
    idx_of = {int(v): i for i, v in enumerate(ids)}
    adj: dict[int, dict[int, set]] = {}
    for node, layer, nb in zip(
        edge_pdf["node_id"], edge_pdf["layer"], edge_pdf["neighbor_id"]
    ):
        adj.setdefault(idx_of[int(node)], {}).setdefault(int(layer), set()).add(
            idx_of[int(nb)]
        )
    for la in sorted({la for pl in adj.values() for la in pl}):
        for d, pl in adj.items():
            if not is_del[d] or la not in pl:
                continue
            surv = sorted(u for u in pl[la] if not is_del[u])
            for a in surv:
                for b in surv:
                    if a != b:
                        adj.setdefault(a, {}).setdefault(la, set()).add(b)
                        adj.setdefault(b, {}).setdefault(la, set()).add(a)
        mmax = 2 * m if la == 0 else m
        for u, pl in adj.items():
            if is_del[u] or la not in pl:
                continue
            keep = {x for x in pl[la] if not is_del[x]}
            if len(keep) > mmax:
                keep = set(prune(unit, u, sorted(keep), mmax))
            pl[la] = keep
    return edge_frame(ids, adj, (u for u in sorted(adj) if not is_del[u]))
