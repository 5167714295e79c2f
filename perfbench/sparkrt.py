"""Spark session lifecycle, process metrics, layer instrumentation for the
traced run, and the execution counters read from Spark's status REST API."""

from __future__ import annotations

import json
import os
import urllib.request

from .spans import rebind, traced

TRACED_GROUP = 'perfbench-traced'
UNTRACED_GROUP = 'perfbench-untraced'


def configure_env(work: str, trace: bool, cores: int) -> None:
    """Environment the JVMs are launched with: every scratch file inside the
    checkout (no hsperfdata in /tmp either), no console progress bar, and
    (traced run only) status retention raised so the counters of a whole
    pass survive Spark's default 1000-stage window."""
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    os.environ['SPARK_GRAFT_CPUS'] = str(cores)
    os.environ['SPARK_LOCAL_DIRS'] = tmp
    os.environ['JAVA_TOOL_OPTIONS'] = f'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'
    args = ['--conf', 'spark.ui.showConsoleProgress=false']
    if trace:
        args += ['--conf', 'spark.ui.retainedJobs=100000', '--conf', 'spark.ui.retainedStages=100000']
    os.environ['PYSPARK_SUBMIT_ARGS'] = ' '.join([*args, 'pyspark-shell'])


def start(tracer, app: str):
    from cyclebane_spark.functions import bench_session

    with tracer.span('functions.session'):
        spark = bench_session(f'perfbench-{app}')
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin pipe closes)."""
    if spark is None:
        return
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def reset_peak_rss(pid: int) -> None:
    """Restart the process's peak RSS (VmHWM) from its current RSS."""
    with open(f'/proc/{pid}/clear_refs', 'w') as f:
        f.write('5')


def peak_rss_mb(pid: int) -> float:
    with open(f'/proc/{pid}/status') as f:
        for line in f:
            if line.startswith('VmHWM:'):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f'no VmHWM for pid {pid}')


def versions(spark) -> dict:
    return {
        'spark': spark.version,
        'java': spark.sparkContext._jvm.java.lang.System.getProperty('java.version'),
    }


def set_group(spark, traced_pass: bool) -> None:
    group = TRACED_GROUP if traced_pass else UNTRACED_GROUP
    spark.sparkContext.setJobGroup(group, group)


# -- traced run: wrap the layer functions the workloads reach indirectly ------


def instrument(tracer) -> None:
    """Spans and counters around ``sources`` array shipping, the
    ``operators`` compiler (also when a registry query calls it), the
    ``tables`` catalog and parquet opens. Installed only in the traced run;
    the wrappers fall through when the tracer is disabled (untraced
    passes)."""
    from pyspark.sql.readwriter import DataFrameReader

    from cyclebane_spark import Graph, SparkPlan, queries, tables
    from cyclebane_spark.sources import arrays

    queries.registry()  # import every query module before rebinding names

    Graph.compile = traced(tracer, 'operators.compile', Graph.compile)
    SparkPlan.frame = traced(tracer, 'operators.frame', SparkPlan.frame)
    build = SparkPlan._build

    def counted_build(self, key):
        tracer.count('operators.frames_built')
        return build(self, key)

    SparkPlan._build = counted_build

    def shipped(args, result):
        tracer.count('sources.rows_shipped', len(result))

    for cls in (arrays.SeqArray, arrays.NdArray, arrays.SeriesArray):
        cls.to_pandas_long = traced(tracer, 'sources.to_long', cls.to_pandas_long, shipped)

    def table_call(args, result):
        tracer.count('tables.table_calls')

    def spread_call(args, result):
        tracer.count('tables.spread_calls')
        tracer.count('tables.spread_applied', result is not args[0])

    for fn, after in (
        (tables.table, table_call),
        (tables.spread_small, spread_call),
        (tables.provably_small, None),
    ):
        rebind(fn, traced(tracer, f'tables.{fn.__name__}', fn, after), 'cyclebane_spark')

    parquet = DataFrameReader.parquet

    def counted_parquet(self, *paths, **options):
        if tracer.enabled:
            layer = (tracer.innermost() or 'other').split('.')[0]
            tracer.count(f'{layer}.parquet_opens')
        return parquet(self, *paths, **options)

    DataFrameReader.parquet = counted_parquet


# -- status REST API --------------------------------------------------------------

_STAGE_SUMS = {
    'executor_run_s': ('executorRunTime', 1e-3),
    'executor_cpu_s': ('executorCpuTime', 1e-9),
    'gc_s': ('jvmGcTime', 1e-3),
    'input_mb': ('inputBytes', 2**-20),
    'shuffle_read_mb': ('shuffleReadBytes', 2**-20),
    'shuffle_write_mb': ('shuffleWriteBytes', 2**-20),
    'spill_mb': ('diskBytesSpilled', 2**-20),
}


def _get(base: str, path: str):
    # an opener without proxy handlers: the UI is on this host
    opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
    with opener.open(base + path, timeout=60) as r:
        return json.load(r)


def traced_counters(spark) -> dict[str, float]:
    """Totals over the jobs of the traced passes (job group TRACED_GROUP):
    job, stage and task counts and the executor-side stage metrics."""
    import time

    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(':', 1)[1]
    base = f'http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}'
    for _ in range(50):  # the status store is updated asynchronously
        jobs = [j for j in _get(base, '/jobs') if j.get('jobGroup') == TRACED_GROUP]
        if all(j['status'] != 'RUNNING' for j in jobs):
            break
        time.sleep(0.2)
    stage_ids = {s for j in jobs for s in j['stageIds']}
    stages = [
        s for s in _get(base, '/stages?status=complete') if s['stageId'] in stage_ids
    ]
    out = {
        'jobs': len(jobs),
        'stages': len(stages),
        'tasks': sum(s['numCompleteTasks'] for s in stages),
    }
    for name, (key, scale) in _STAGE_SUMS.items():
        out[name] = sum(s.get(key, 0) for s in stages) * scale
    return out
