"""taskgrid_expand: build seeded grids with the plan algebra and expand them
with ``Graph.to_networkx()``. No Spark session; loads the ``plan`` layer
alone."""

from __future__ import annotations

import time

from .grids import ExpandGrid, expand_grids

WARMUP_SEED = -1  # fixed, so every run warms up on the same grids
WARMUP_GRIDS = 3


class Expand:
    name = 'taskgrid_expand'
    # set-up is about a second, mostly imports: a run sets up this many
    # times, each in a fresh interpreter, and reports the median
    setup_rounds = 5
    spark = None
    scaled = True  # times at the reference speed (speed.py)
    # a pass takes 1.3-2.3 s with its probes: ten fill a 20 s run, and
    # job_tail_s is over exactly ten, so its rank always sits among the
    # runs of the three largest grids
    min_passes = 10
    own_s = 0.0  # the benchmark's own work inside setup()

    def __init__(self, seed: int, tracer, work: str):
        self.tracer = tracer
        self.grids = expand_grids(seed)
        self.warmup = expand_grids(WARMUP_SEED, WARMUP_GRIDS)
        self.jobs = [f'grid{i}' for i in range(len(self.grids))]
        self.query_jobs = self.jobs

    def setup(self) -> None:
        import networkx  # noqa: F401

        import cyclebane_spark  # noqa: F401

        for grid in self.warmup:
            self.build(grid).to_networkx()

    def build(self, grid: ExpandGrid):
        import networkx as nx

        import cyclebane_spark as cb

        tr = self.tracer
        edges = [(p, c) for c, parents in grid.computes for p in parents]
        with tr.span('plan.algebra'):
            g = cb.Graph(nx.DiGraph(edges))
        for d in grid.dims:
            with tr.span('plan.algebra'):
                g = g.map(d.values if d.kind == 'pandas' else {d.source: d.values})
        if grid.slicing is not None:
            method, dim, sl = grid.slicing
            with tr.span('plan.algebra'):
                g = getattr(g, method)(dim)[sl]
        if grid.surgery is not None:
            with tr.span('plan.algebra'):
                branch = g[grid.surgery]
            with tr.span('plan.algebra'):
                g[grid.surgery] = branch
        for i, sink in enumerate(grid.sinks):
            name = f'r{i}'
            if sink[0] == 'reduce_dim':
                with tr.span('plan.algebra'):
                    g = g.reduce(sink[1], index=sink[2], name=name)
            elif sink[0] == 'reduce_all':
                with tr.span('plan.algebra'):
                    g = g.reduce(sink[1], name=name)
            else:
                with tr.span('plan.algebra'):
                    grouped = g.groupby(sink[2])
                with tr.span('plan.algebra'):
                    g = grouped.reduce(sink[1], name=name)
        return g

    def run_job(self, i: int) -> tuple[float, bool]:
        return self.run_grid(self.grids[i])

    def run_grid(self, grid: ExpandGrid) -> tuple[float, bool]:
        t0 = time.perf_counter()
        g = self.build(grid)
        with self.tracer.span('plan.expand'):
            expanded = g.to_networkx()
        dt = time.perf_counter() - t0
        self.tracer.count('plan.expand_nodes', expanded.number_of_nodes())
        self.tracer.count('plan.expand_edges', expanded.number_of_edges())
        return dt, check(grid, expanded)

    def verify(self) -> set[str]:
        """Every job was checked as it ran."""
        return set()

    def stop(self) -> None:
        pass


def check(grid: ExpandGrid, expanded) -> bool:
    """Node/edge counts against the closed form, and every source instance's
    attached value against the generated array."""
    from cyclebane_spark import IndexValues, NodeName

    if (expanded.number_of_nodes(), expanded.number_of_edges()) != (grid.n_nodes, grid.n_edges):
        return False
    nodes = expanded.nodes
    for d in grid.dims:
        for node, values in d.expected.items():
            for coord, value in values.items():
                key = NodeName(node, IndexValues((d.name,), (coord,)))
                if key not in nodes or nodes[key].get('value') != value:
                    return False
    return True
