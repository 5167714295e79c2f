"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload taskgrid_expand --seed 1 --seconds 20 --trace 0

Prints a human-readable report (every metric with its unit, run metadata)
and, as the last line of stdout, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here
SETUP_PROBES = 5  # host-speed probes before and after one set-up (speed.py)

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, 'perfbench', '.work')
sys.path.insert(0, ROOT)

WORKLOADS = ('taskgrid_expand', 'corpus_pipeline')


def make_workload(name: str, seed: int, tracer):
    if name == 'taskgrid_expand':
        from perfbench.expand import Expand as cls
    else:
        from perfbench.corpus import Corpus as cls
    return cls(seed, tracer, WORK)


def measure(wl, seconds: float, trace: bool, tracer) -> list[dict]:
    """Closed loop over the fixed job list: at least ``wl.min_passes``
    passes, then more until ``seconds`` have elapsed (the pass in progress
    is finished). With tracing, passes alternate untraced / traced. The
    host-speed probe runs before every job and after the last. On a
    ``wl.scaled`` workload job times are scaled to the reference speed by
    the probes near them (speed.py). Wall times are kept as ``wall_s``."""
    from perfbench import sparkrt, speed

    passes: list[dict] = []
    t0 = time.perf_counter()
    while True:
        traced_pass = trace and len(passes) % 2 == 1
        tracer.enabled = traced_pass
        if wl.spark is not None:
            sparkrt.set_group(wl.spark, traced_pass)
        jobs = []
        probes = [speed.probe()]
        for i, job in enumerate(wl.jobs):
            tracer.job = f'{len(passes)}:{i}:{job}'
            j0 = time.perf_counter()
            try:
                dt, ok = wl.run_job(i)
            except Exception:
                dt, ok = time.perf_counter() - j0, False
                traceback.print_exc(file=sys.stderr)
            if not ok:
                print(f'FAILED job {tracer.job}', file=sys.stderr)
            jobs.append({'job': job, 'id': tracer.job, 's': dt, 'ok': ok})
            probes.append(speed.probe())
        tracer.enabled = False
        tracer.job = None
        walls = [j['s'] for j in jobs]
        for j, wall, s in zip(jobs, walls, speed.scaled(walls, probes) if wl.scaled else walls):
            j['wall_s'], j['s'] = wall, s
        passes.append({'traced': traced_pass, 'jobs': jobs, 'probes': probes})
        if len(passes) >= wl.min_passes and time.perf_counter() - t0 >= seconds:
            return passes


def mark_wrong(passes: list[dict], wrong: set[str]) -> None:
    """Fail every timed run of the jobs whose output a check after the
    passes found wrong."""
    for p in passes:
        for j in p['jobs']:
            if j['job'] in wrong:
                j['ok'] = False


def tally(passes: list[dict]) -> tuple[int, int]:
    """(attempted, failed) over every timed pass; a job that raised or
    returned a wrong result is failed."""
    jobs = [j for p in passes for j in p['jobs']]
    return len(jobs), sum(not j['ok'] for j in jobs)


def end_to_end(passes: list[dict], setup_s: float, query_jobs, tail_passes: int) -> tuple[dict, dict]:
    """End-to-end metrics over the untraced passes, plus their details.
    ``query_geomean_s`` is over the medians of the ``query_jobs`` only.
    ``job_tail_s`` is over the jobs of the first ``tail_passes`` untraced
    passes: a fixed sample count puts the tail's rank on the same place in
    the job mix in every run, where a count that grows with the passes
    that fit in ``--seconds`` moves it from one job to the next."""
    from perfbench import sparkrt
    from perfbench.stats import geomean, median, tail

    plain = [p for p in passes if not p['traced']]
    times = [j['s'] for p in plain for j in p['jobs']]
    per_job: dict[str, list[float]] = {}
    for p in plain:
        for j in p['jobs']:
            per_job.setdefault(j['job'], []).append(j['s'])
    tail_s, pct, n = tail([j['s'] for p in plain[:tail_passes] for j in p['jobs']])
    metrics = {
        'setup_s': (setup_s, 's'),
        'pass_s': (median([sum(j['s'] for j in p['jobs']) for p in plain]), 's'),
        'job_tail_s': (tail_s, 's'),
        'query_geomean_s': (geomean([median(per_job[q]) for q in query_jobs]), 's'),
        'driver_rss_mb': (sparkrt.peak_rss_mb(os.getpid()), 'MB'),
    }
    details = {
        # reported, not a BENCHMARK.json metric: on the corpus mix the
        # median lands between query types and jumps with them
        'job_p50_s': median(times),
        'job_tail_percentile': pct,
        'job_samples': n,
        'pass_job_s': [sum(j['s'] for j in p['jobs']) for p in plain],
        # wall-clock seconds before the host-speed scaling
        'raw_pass_s': median([sum(j['wall_s'] for j in p['jobs']) for p in plain]),
        'probe_s': median([x for p in plain for x in p['probes']]),
        'per_job_median_s': {k: median(v) for k, v in per_job.items()},
    }
    return metrics, details


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    # one more set-up round in a fresh interpreter (see fresh_setups)
    ap.add_argument('--setup-only', action='store_true', help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    from perfbench import layers, speed, sparkrt
    from perfbench.spans import Tracer
    from perfbench.stats import median

    load = {'start': os.getloadavg()[0]}
    cores = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    os.environ['TMPDIR'] = os.path.join(WORK, 'tmp')
    sparkrt.configure_env(WORK, bool(args.trace), cores)

    tracer = Tracer()
    tracer.enabled = bool(args.trace)  # set-up spans (session start) too
    t0 = time.perf_counter()
    setup_probes = [speed.probe() for _ in range(SETUP_PROBES)]
    wl = make_workload(args.workload, args.seed, tracer)
    gen_s = time.perf_counter() - t0  # the probes and input generation
    try:
        if args.trace and args.workload != 'taskgrid_expand':
            sparkrt.instrument(tracer)
        wl.setup()
        # setup_s counts from process start to the first timed job, less
        # the benchmark's own work in between: host-speed probes, input
        # generation and the read-back predicates. It is the median of
        # setup_rounds set-ups. Where job times are scaled to the reference
        # speed, so is set-up, by probes taken before it and after it.
        setup_wall = time.perf_counter() - T_START - gen_s - wl.own_s
        setup_probes += [speed.probe() for _ in range(SETUP_PROBES)]
        setups = [setup_wall * speed.factor(setup_probes) if wl.scaled else setup_wall]
        if args.setup_only:
            print(json.dumps({'setup_s': setups[0], 'wall_s': setup_wall}))
            return 0
        fresh = fresh_setups(args.workload, wl.setup_rounds - 1)
        setups += [s for s, _ in fresh]
        setup_walls = [setup_wall] + [w for _, w in fresh]
        tracer.enabled = False
        tracer.counts.clear()  # set-up (warm-up jobs) is not a pass
        setup_s = median(setups)
        load['before'] = os.getloadavg()[0]
        # driver_rss_mb is the peak over the timed passes: set-up checks
        # outputs with DuckDB and pandas in this process
        sparkrt.reset_peak_rss(os.getpid())
        # Set-up's objects (imports, generated inputs, check data) move to
        # the permanent generation: a full collection during a job then
        # scans what the program allocates, not the benchmark's own heap.
        # Unfrozen, the expansion's full collections cost 50-75 ms each,
        # about 8 % of a pass, and fell on whichever job was running.
        gc.collect()
        gc.freeze()
        passes = measure(wl, args.seconds, bool(args.trace), tracer)
        load['after'] = os.getloadavg()[0]
        # before verify(): its oracle work is not the program's footprint
        metrics, details = end_to_end(passes, setup_s, wl.query_jobs, wl.min_passes)
        jvm_rss = sparkrt.peak_rss_mb(sparkrt.jvm_pid(wl.spark)) if wl.spark is not None else None
        per_layer = {}
        if args.trace:
            counters = sparkrt.traced_counters(wl.spark) if wl.spark is not None else None
            per_layer = layers.per_layer(tracer, passes, counters, cores, jvm_rss)
        vers = sparkrt.versions(wl.spark) if wl.spark is not None else {}
        t0 = time.perf_counter()
        mark_wrong(passes, wl.verify())
        verify_s = time.perf_counter() - t0
    finally:
        wl.stop()

    attempted, failed = tally(passes)
    meta = {
        'setup_rounds_s': setups,
        'setup_rounds_wall_s': setup_walls,
        'input_generation_s': gen_s,
        'setup_own_s': wl.own_s,
        'verify_s': verify_s,
        'workload': args.workload,
        'seed': args.seed,
        'seconds': args.seconds,
        'trace': args.trace,
        'loadavg_1m': load,
        'nproc': os.cpu_count(),
        'cores_used': cores,
        'python': platform.python_version(),
        'spark': vers.get('spark', _pkg_version('pyspark')),
        'java': vers.get('java', 'not started'),
        'error_rate': failed / attempted,
        'jvm_rss_mb': jvm_rss,
        **details,
    }
    if args.trace:
        meta['trace_overhead_s'] = per_layer['trace.overhead_s'][0]
    report(metrics, per_layer, meta)
    spans_path = os.path.join(WORK, f'spans-{args.workload}-{args.seed}.jsonl')
    if args.trace:
        tracer.write(spans_path)
    chosen = per_layer if args.trace else metrics
    print(json.dumps({
        'correct': failed == 0,
        'attempted': attempted,
        'failed': failed,
        'metrics': {k: {'value': v, 'unit': u} for k, (v, u) in chosen.items()},
    }))
    return 0


def fresh_setups(workload: str, n: int) -> list[tuple[float, float]]:
    """(set-up, its wall time) of ``n`` more set-ups, each in a fresh
    interpreter running this script with ``--setup-only``, so each one pays
    the imports as a user does."""
    out = []
    for _ in range(n):
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), '--workload', workload,
             '--seed', '0', '--seconds', '0', '--setup-only'],
            capture_output=True, text=True, timeout=120, check=True,
        )
        res = json.loads(r.stdout.splitlines()[-1])
        out.append((res['setup_s'], res['wall_s']))
    return out


def _pkg_version(name: str) -> str:
    from importlib.metadata import version

    return version(name)


def report(metrics: dict, per_layer: dict, meta: dict) -> None:
    print(f"== {meta['workload']} seed={meta['seed']} trace={meta['trace']}")
    for k, (v, u) in metrics.items():
        print(f'{k:<40} {v:14.6f} {u}')
    print(f"{'error_rate':<40} {meta['error_rate']:14.6f} ratio")
    if meta['jvm_rss_mb'] is not None:
        print(f"{'jvm_rss_mb':<40} {meta['jvm_rss_mb']:14.6f} MB")
    print(f"{'job_p50_s':<40} {meta['job_p50_s']:14.6f} s")
    print(f"job_tail_s is p{meta['job_tail_percentile']} of {meta['job_samples']} jobs")
    for k, (v, u) in per_layer.items():
        print(f'{k:<40} {v:14.6f} {u}')
    print(json.dumps({'meta': meta}))


if __name__ == '__main__':
    sys.exit(main())
