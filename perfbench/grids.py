"""Seeded input generators: task grids and the corpus job order.

Everything here is pure data derived from the seed; the program only ever
sees the generated inputs. Grid sizes are drawn by stratified sampling of a
log-uniform range — one draw per stratum, strata shuffled — so each pass
covers the whole range continuously and the pass total barely moves between
seeds, instead of jumping between discrete size modes.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# taskgrid_expand: instance pairs the expansion visits per grid, nodes per grid
EXPAND_GRIDS = 48
EXPAND_PAIRS = (400, 40_000)
EXPAND_NODES = (5, 30)
EXPAND_NODE_STRIDE = 17  # coprime with EXPAND_GRIDS: pairs node strata with pair strata
EXPAND_DIMS = (1, 2, 2, 3)


# -- taskgrid_expand ----------------------------------------------------------


@dataclass
class Dim:
    name: str          # the dim name cyclebane assigns to this map
    kind: str          # 'list' | 'numpy' | 'pandas'
    source: str        # mapped value node
    label: str | None  # pandas label column (groupby target), else None
    values: object     # list / ndarray / DataFrame handed to Graph.map
    coords: list       # coords after slicing
    expected: dict     # node -> {coord: value} after slicing


@dataclass
class ExpandGrid:
    dims: list[Dim]
    computes: list[tuple[str, tuple[str, ...]]]
    slicing: tuple | None          # (method, dim name, slice)
    surgery: str | None            # compute node whose branch is got and set back
    sinks: list[tuple]             # ('reduce_dim', key, dim) / ('reduce_all', key) / ('groupby', key, label, inner dim)
    n_nodes: int = 0
    n_edges: int = 0
    dims_of: dict = field(default_factory=dict)


def _expand_grid(
    design: random.Random, rng: random.Random, target_pairs: float, n_nodes: int, k: int
) -> ExpandGrid:
    """One grid with ``k`` mapped dims. Its shape (input kinds, wiring,
    slice, sinks) comes from ``design``; its dim sizes are then scaled so
    the expansion's instance-pair count (``expansion_pairs``) lands on
    ``target_pairs``; values, labels and the slice offset come from
    ``rng``."""
    kinds = [design.choice(('list', 'numpy', 'pandas')) for _ in range(k)]
    weights = [design.random() + 0.5 for _ in range(k)]
    names = [f'p{j}' if kind == 'pandas' else f'dim_{j}' for j, kind in enumerate(kinds)]
    sources = [f's{j}' for j in range(k)]
    labels = [f'lab{j}' if kind == 'pandas' else None for j, kind in enumerate(kinds)]

    # optional slice of one dim, applied before any fan-in
    sliced = design.randrange(k) if design.random() < 0.5 else None
    keep_frac, start_frac = design.uniform(0.6, 0.95), rng.random()
    by_label = sliced is not None and kinds[sliced] == 'pandas' and design.random() < 0.5

    sinks_planned = design.choice((1, 2, 2, 3))
    n_sources = k + sum(1 for lab in labels if lab)
    m = max(1, n_nodes - n_sources - sinks_planned)
    dims_of: dict[str, frozenset] = {s: frozenset({n}) for s, n in zip(sources, names, strict=True)}
    pool = list(sources)
    computes: list[tuple[str, tuple[str, ...]]] = []
    for i in range(m):
        name = f'c{i}'
        parents = {design.choice(pool[-3:])}
        if design.random() < 0.4:
            parents.add(design.choice(pool))
        if i == m - 1:  # the last compute node carries every dim
            covered = frozenset().union(*(dims_of[p] for p in parents))
            parents |= {s for s, n in zip(sources, names, strict=True) if n not in covered}
        ps = tuple(sorted(parents))
        computes.append((name, ps))
        dims_of[name] = frozenset().union(*(dims_of[p] for p in ps))
        pool.append(name)

    last = computes[-1][0]
    surgery = design.choice([c for c, _ in computes]) if design.random() < 0.5 else None
    options = [('reduce_dim', last, design.choice(names)), ('reduce_all', design.choice(pool[k:]))]
    labelled = [j for j in range(k) if labels[j]]
    if labelled:
        j = design.choice(labelled)
        options.append(('groupby', last, labels[j], names[j]))
    design.shuffle(options)
    sinks = options[:sinks_planned]

    def sizes_at(log_branches: float) -> list[tuple[int, int]]:
        """(full, kept) size per dim when the branch count is e**log_branches."""
        out = []
        for j, w in enumerate(weights):
            full = max(2, round(math.exp(log_branches * w / sum(weights))))
            kept = max(2, math.ceil(full * keep_frac)) if j == sliced else full
            out.append((full, min(full, kept)))
        return out

    def pairs_at(log_branches: float) -> int:
        kept = {n: s[1] for n, s in zip(names, sizes_at(log_branches), strict=True)}
        return expansion_pairs(computes, sinks, dims_of, kept)

    lo, hi = math.log(2) * k, math.log(1e6)
    for _ in range(40):
        mid = (lo + hi) / 2
        lo, hi = (mid, hi) if pairs_at(mid) < target_pairs else (lo, mid)

    dims: list[Dim] = []
    slicing = None
    for j, (full, kept) in enumerate(sizes_at(hi)):
        ints = [rng.randrange(-1000, 1000) for _ in range(full)]
        if kinds[j] == 'pandas':
            n_groups = min(full, design.randrange(2, 8))
            labs = [f'g{rng.randrange(n_groups)}' for _ in range(full)]
            index = pd.Index([10 + 3 * i for i in range(full)], name=names[j])
            values = pd.DataFrame({sources[j]: ints, labels[j]: labs}, index=index)
            coords = list(index)
        else:
            values = ints if kinds[j] == 'list' else np.array(ints, dtype=np.int64)
            coords = list(range(full))
        if j == sliced:
            start = min(full - kept, int(start_frac * (full - kept + 1)))
            if by_label:
                stop = coords[start + kept] if start + kept < full else coords[-1] + 1
                slicing = ('loc', names[j], slice(coords[start], stop))
            else:
                slicing = ('by_position', names[j], slice(start, start + kept))
            coords = coords[start:start + kept]
        if kinds[j] == 'pandas':
            df = values.loc[coords]
            expected = {sources[j]: dict(df[sources[j]].items()), labels[j]: dict(df[labels[j]].items())}
        else:
            expected = {sources[j]: {c: values[c] for c in coords}}
        dims.append(Dim(names[j], kinds[j], sources[j], labels[j], values, coords, expected))

    grid = ExpandGrid(dims, computes, slicing, surgery, sinks, dims_of=dims_of)
    grid.n_nodes, grid.n_edges = expected_counts(grid)
    return grid


def expansion_pairs(computes, sinks, dims_of, size: dict[str, int]) -> int:
    """Instance pairs an all-pairs edge expansion visits: |u| * |v| summed
    over the compact DAG's edges (a fan-in output counts as its input size,
    an upper bound)."""

    def count(node) -> int:
        return math.prod(size[x] for x in dims_of[node])

    pairs = sum(count(p) * count(c) for c, ps in computes for p in ps)
    return pairs + sum(count(s[1]) ** 2 for s in sinks)


def expected_counts(grid: ExpandGrid) -> tuple[int, int]:
    """Closed-form instance node and edge counts of the expanded grid.

    A family with dims D has prod(|d|) instances. A compute node's dims
    contain each parent's, so every instance has exactly one instance edge
    per parent; a fan-in (reduce over one or all dims, groupby-reduce)
    receives exactly one edge from every instance of its input family."""
    size = {d.name: len(d.coords) for d in grid.dims}

    def count(ds) -> int:
        return math.prod(size[x] for x in ds)

    nodes = sum(count([d.name]) * (2 if d.label else 1) for d in grid.dims)
    edges = 0
    for name, parents in grid.computes:
        nodes += count(grid.dims_of[name])
        edges += len(parents) * count(grid.dims_of[name])
    for sink in grid.sinks:
        inputs = count(grid.dims_of[sink[1]])
        edges += inputs
        if sink[0] == 'reduce_all':
            nodes += 1
        elif sink[0] == 'reduce_dim':
            nodes += count(grid.dims_of[sink[1]] - {sink[2]})
        else:
            d = next(d for d in grid.dims if d.label == sink[2])
            n_groups = len(set(d.expected[d.label].values()))
            nodes += count(grid.dims_of[sink[1]] - {d.name}) * n_groups
            # Reference parity: the grouped fan-in keys its input instances
            # with the inner axis moved last; unless it already is last in
            # map order, that is a second copy of the input family.
            order = [x.name for x in grid.dims if x.name in grid.dims_of[sink[1]]]
            if order[-1] != d.name:
                nodes += inputs
    return nodes, edges


def expand_grids(seed: int, n: int = EXPAND_GRIDS) -> list[ExpandGrid]:
    """``n`` grids in seeded job order.

    Grid ``i`` has a fixed shape: stratum ``i`` of the pair range, a fixed
    node count from another stratum, a fixed dim count, and wiring, input
    kinds, slice and sinks from a design generator keyed by ``i``. The seed
    draws the pair count within the stratum (so sizes stay continuous),
    every value and label, the slice offset and the job order. A pass
    therefore does the same mix of work under every seed. When the seed
    also drew the shapes, the median job time ranged 1.9x over ten seeds."""
    rng = random.Random(f'taskgrid_expand:{seed}')
    lp, hp = map(math.log, EXPAND_PAIRS)
    ln, hn = map(math.log, EXPAND_NODES)
    out = []
    for i in range(n):
        design = random.Random(f'taskgrid_expand:design:{i}')
        pairs = math.exp(lp + (hp - lp) * (i + rng.random()) / n)
        j = (i * EXPAND_NODE_STRIDE) % n
        nodes = round(math.exp(ln + (hn - ln) * (j + design.random()) / n))
        out.append(_expand_grid(design, rng, pairs, nodes, EXPAND_DIMS[i % len(EXPAND_DIMS)]))
    rng.shuffle(out)
    return out


# -- corpus_pipeline --------------------------------------------------------------


def corpus_order(seed: int, units: list[str]) -> list[str]:
    order = list(units)
    random.Random(f'corpus_pipeline:{seed}').shuffle(order)
    return order
