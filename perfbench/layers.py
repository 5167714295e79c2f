"""Per-layer metrics of the traced run.

Times are span self times and counts are tracer counters, both summed over
the traced passes and divided by their number: per pass of the fixed job
list, comparable with ``pass_s``. A layer a workload leaves idle reads 0.
"""

from __future__ import annotations

from .corpus import QUERIES
from .spans import self_times
from .stats import median

SPARK_COUNTERS = (
    ('jobs', 'count'),
    ('stages', 'count'),
    ('tasks', 'count'),
    ('executor_run_s', 's'),
    ('executor_cpu_s', 's'),
    ('gc_s', 's'),
    ('input_mb', 'MB'),
    ('shuffle_read_mb', 'MB'),
    ('shuffle_write_mb', 'MB'),
    ('spill_mb', 'MB'),
)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer, passes: list[dict], spark: dict | None, cores: int, jvm_rss_mb: float | None) -> dict:
    traced = [p for p in passes if p['traced']]
    plain = [p for p in passes if not p['traced']]
    n = len(traced)
    # a job's spans are scaled to the reference speed with the job (speed.py)
    scale = {j['id']: j['s'] / j['wall_s'] for p in passes for j in p['jobs']}
    selfs = self_times([s for s in tracer.spans if s.job is not None], scale)
    setup = self_times([s for s in tracer.spans if s.job is None])
    c = tracer.counts

    def t(name: str) -> float:
        return selfs.get(name, 0.0) / n

    def k(name: str) -> float:
        return c.get(name, 0) / n

    def pass_s(ps):
        return median([sum(j['s'] for j in p['jobs']) for p in ps])

    expand_s, edges = t('plan.expand'), k('plan.expand_edges')
    m = {
        'plan.expand_s': (expand_s, 's'),
        'plan.expand_nodes': (k('plan.expand_nodes'), 'count'),
        'plan.expand_edges': (edges, 'count'),
        'plan.expand_us_per_edge': (_ratio(expand_s * 1e6, edges), 'us'),
        'plan.algebra_s': (t('plan.algebra'), 's'),
        'plan.algebra_calls': (sum(1 for s in tracer.spans if s.job and s.name == 'plan.algebra') / n, 'count'),
        'sources.to_long_s': (t('sources.to_long'), 's'),
        'sources.rows_shipped': (k('sources.rows_shipped'), 'count'),
        'operators.compile_s': (t('operators.compile') + t('operators.frame'), 's'),
        'operators.frames_built': (k('operators.frames_built'), 'count'),
        'functions.session_s': (setup.get('functions.session', 0.0), 's'),
        'functions.consume_s': (t('functions.consume'), 's'),
        'queries.build_s': (t('queries.build'), 's'),
    }
    for q in QUERIES:
        times = [j['s'] for p in traced for j in p['jobs'] if j['job'] == q]
        m[f'queries.{q}.p50_s'] = (median(times) if times else 0.0, 's')
    m.update({
        'tables.table_calls': (k('tables.table_calls'), 'count'),
        'tables.parquet_opens': (k('tables.parquet_opens'), 'count'),
        'tables.cache_hit_ratio': (
            _ratio(c['tables.table_calls'] - c['tables.parquet_opens'], c['tables.table_calls']), 'ratio'),
        'tables.spread_applied_ratio': (_ratio(c['tables.spread_applied'], c['tables.spread_calls']), 'ratio'),
        'tables.provably_small_s': (t('tables.provably_small'), 's'),
        'sinks.write_s': (t('sinks.write'), 's'),
        'sinks.files_written': (k('sinks.files_written'), 'count'),
        'sinks.bytes_written_per_input_byte': (_ratio(c['sinks.bytes_written'], c['sinks.input_bytes']), 'ratio'),
        'sinks.readback_s': (t('sinks.readback'), 's'),
    })
    spark = spark or {}
    for name, unit in SPARK_COUNTERS:
        m[f'spark.{name}'] = (spark.get(name, 0) / n, unit)
    m['spark.stages_per_job'] = (_ratio(spark.get('stages', 0), spark.get('jobs', 0)), 'ratio')
    busy = sum(j['s'] for p in traced for j in p['jobs']) * cores
    m['spark.busy_ratio'] = (_ratio(spark.get('executor_run_s', 0), busy), 'ratio')
    m['spark.jvm_rss_mb'] = (jvm_rss_mb or 0.0, 'MB')
    m['trace.overhead_s'] = (pass_s(traced) - pass_s(plain), 's')
    return m
