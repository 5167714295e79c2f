"""Seeded inputs, output checks, and failure accounting."""

import dataclasses

import pytest

from perfbench import grids, run, speed
from perfbench.corpus import QUERIES, Corpus
from perfbench.expand import Expand, check
from perfbench.spans import Tracer


def _grid_key(g):
    d = dataclasses.asdict(g)
    for dim in d['dims']:
        v = dim['values']
        dim['values'] = v.to_dict('list') if hasattr(v, 'to_dict') else list(v)
    return repr(d)


def test_seed_determines_expand_grids():
    a, b, c = grids.expand_grids(7), grids.expand_grids(7), grids.expand_grids(8)
    assert [_grid_key(g) for g in a] == [_grid_key(g) for g in b]
    assert [_grid_key(g) for g in a] != [_grid_key(g) for g in c]


def test_seed_determines_corpus_job_order():
    a, b = Corpus(3, Tracer(), 'unused'), Corpus(3, Tracer(), 'unused')
    assert a.jobs == b.jobs
    assert Corpus(4, Tracer(), 'unused').jobs != a.jobs
    assert set(QUERIES) <= set(a.jobs) and len(a.jobs) == len(QUERIES) + 6
    for write in ('write:compact_sorted', 'write:write_zordered'):
        i = a.jobs.index(write)
        assert all(j.startswith('readback:') for j in a.jobs[i + 1:i + 3])


def test_sizes_cover_their_ranges():
    expand = grids.expand_grids(1)
    pairs = [
        grids.expansion_pairs(g.computes, g.sinks, g.dims_of, {d.name: len(d.coords) for d in g.dims})
        for g in expand
    ]
    lo, hi = grids.EXPAND_PAIRS
    assert min(pairs) >= 0.8 * lo and max(pairs) <= 1.25 * hi


@pytest.mark.parametrize('seed', [1, 2])
def test_closed_form_matches_expansion(seed):
    wl = Expand(seed, Tracer(), 'unused')
    for i in range(len(wl.jobs)):
        dt, ok = wl.run_job(i)
        assert ok, f'grid {i}'


def test_expand_check_catches_wrong_results():
    wl = Expand(1, Tracer(), 'unused')
    grid = wl.grids[0]
    expanded = wl.build(grid).to_networkx()
    assert check(grid, expanded)
    node = next(n for n, v in expanded.nodes(data='value') if v is not None)
    expanded.nodes[node]['value'] = 'wrong'
    assert not check(grid, expanded)
    fresh = wl.build(grid).to_networkx()
    fresh.remove_edge(*next(iter(fresh.edges)))
    assert not check(grid, fresh)


@pytest.fixture(autouse=True)
def _reference_speed(monkeypatch):
    """The host runs at the reference speed, so job times are not scaled."""
    monkeypatch.setattr(speed, 'probe', lambda: speed.NOMINAL_S)


class _Flaky:
    spark = None
    scaled = True
    min_passes = 4
    jobs = ['good', 'wrong', 'raises']

    def run_job(self, i):
        if i == 2:
            raise RuntimeError('boom')
        return 0.01 * (i + 1), i == 0


def test_failures_are_counted_not_fatal():
    passes = run.measure(_Flaky(), 0, False, Tracer())
    assert len(passes) == _Flaky.min_passes
    attempted, failed = run.tally(passes)
    assert (attempted, failed) == (3 * _Flaky.min_passes, 2 * _Flaky.min_passes)
    metrics, details = run.end_to_end(passes, setup_s=1.0, query_jobs=_Flaky.jobs, tail_passes=4)
    assert metrics['pass_s'][0] > 0 and details['job_samples'] == 3 * _Flaky.min_passes


def test_traced_run_alternates_passes():
    passes = run.measure(_Flaky(), 0, True, Tracer())
    assert [p['traced'] for p in passes] == [i % 2 == 1 for i in range(_Flaky.min_passes)]


def test_wrong_outputs_found_after_the_passes_fail_every_run_of_the_job():
    passes = run.measure(_Flaky(), 0, False, Tracer())
    run.mark_wrong(passes, {'good'})
    assert run.tally(passes) == (3 * _Flaky.min_passes, 3 * _Flaky.min_passes)


def test_query_geomean_is_over_query_jobs_only():
    passes = run.measure(_Flaky(), 0, False, Tracer())
    metrics, _ = run.end_to_end(passes, setup_s=1.0, query_jobs=['good', 'wrong'], tail_passes=4)
    assert metrics['query_geomean_s'][0] == pytest.approx((0.01 * 0.02) ** 0.5)


class _Steady(_Flaky):
    def run_job(self, i):
        return 0.1, True


def test_job_times_are_scaled_by_the_median_of_nearby_probes(monkeypatch):
    n = speed.NOMINAL_S
    probes = [2 * n] * 6
    probes[2] = 100 * n  # one disturbed probe
    assert speed.scaled([0.1] * 5, probes) == pytest.approx([0.05] * 5)  # half the reference speed
    monkeypatch.setattr(speed, 'probe', lambda: 2 * n)
    for p in run.measure(_Steady(), 0, False, Tracer()):
        assert len(p['probes']) == len(_Steady.jobs) + 1
        assert [(j['wall_s'], j['s']) for j in p['jobs']] == pytest.approx([(0.1, 0.05)] * 3)
    monkeypatch.setattr(_Steady, 'scaled', False)
    assert {j['s'] for p in run.measure(_Steady(), 0, False, Tracer()) for j in p['jobs']} == {0.1}


def test_tail_is_over_a_fixed_number_of_passes():
    def pass_of(s):
        jobs = [{'job': f'j{i}', 's': s * (i + 1), 'wall_s': s * (i + 1), 'ok': True} for i in range(12)]
        return {'traced': False, 'probes': [speed.NOMINAL_S], 'jobs': jobs}

    passes = [pass_of(1.0) for _ in range(4)]
    metrics, details = run.end_to_end(passes + [pass_of(100.0)] * 3, setup_s=1.0, query_jobs=['j0'], tail_passes=4)
    assert (details['job_tail_percentile'], details['job_samples']) == (79, 48)
    assert metrics['job_tail_s'][0] == run.end_to_end(passes, 1.0, ['j0'], 4)[0]['job_tail_s'][0]
