#!/usr/bin/env python3
"""Graft benchmark: one seeded workload in one fresh JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the harness
(perfbench/harness, an sbt build that depends on the graft build at the
root) into `.bench_build/`; later runs reuse it while no source changes.

Each run generates the workload's inputs from the seed, starts one JVM
running `local[N]` with N = the processors this process may use, and acts
as a single closed-loop client: each query is submitted after the
previous result is complete. The JVM runs a cold pass over the
workload's queries, then whole warm passes for S seconds. Every result is
checked: the cold result against DuckDB evaluating graft's own oracle
SQL on the same inputs, every warm result against the cold one.

Output: a table of the metrics with units and a run record, then as the
last line one JSON object {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and a profile artifact (per-layer self time per
query, counters, spans, tracing overhead) is written under
`.bench_build/profiles/`.

heap_live_peak_mb is the largest live heap read after any query: the old
generation after a full collection, taken while the query's result is
still referenced and after Spark's cleaner has dropped what the query let
go. It counts what the session and each result hold (checkpointed and
cached stage blocks, broadcasts, state), not memory a query uses only
while it runs.

Workloads (why each exists):
  query_mix       Cascalog DSL queries, a light pipeline query and a
                  structured-streaming replay (p89) on small tables:
                  per-query planner, Catalyst and job-scheduling fixed costs
                  dominate, and the replay adds re-planning per micro-batch,
                  staging parquet and state-store and checkpoint commits.
  curation_batch  curation (p48), similarity-graph (p51) and vector-index
                  (p34, p42) queries on the documents/embeddings corpus: library
                  stages, kernels, shuffle and Stage.materialize dominate,
                  and planning is negligible.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build')
HARNESS = os.path.join(HERE, 'harness')
HEAP = '3g'
RUN_LIMIT_S = 170

WORKLOADS = {
    'query_mix': {
        'corpus': 1,
        'queries': [
            'q01_multi_agg', 'q03_join_agg', 'q13_topk_pergroup', 'q17_wordcount',
            'q29_full_outer', 'q34_sessionize', 'q44_japi_agg', 'p69_data_card',
            'p89_stream_cms'],
    },
    'curation_batch': {
        'corpus': 0.7,
        'queries': ['p48_curate_modern', 'p51_similarity_rank', 'p34_ivf_knn',
                    'p42_ivfpq_refine'],
    },
}

END_TO_END = [('setup_s', 's'), ('cold_wall_s', 's'), ('wall_s', 's'),
              ('query_p50_s', 's'), ('query_p90_s', 's'),
              ('heap_live_peak_mb', 'MB')]

JDK_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke',
    'java.base/java.lang.reflect', 'java.base/java.io', 'java.base/java.net',
    'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs',
    'java.base/sun.security.action', 'java.base/sun.util.calendar']


def fail(msg):
    print(f'benchmark error: {msg}', file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every input of the build: graft's sources and build files
    and the harness's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, 'src', 'main'), os.path.join(ROOT, 'build.sbt'),
             os.path.join(ROOT, 'project', 'build.properties'), HARNESS]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if 'target' not in os.path.relpath(d, r).split(os.sep)
            and 'project/project' not in os.path.relpath(d, r))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, 'rb') as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness (once per source state); returns
    the harness classpath."""
    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt'))
            and os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala', 'graft'))):
        fail(f'no graft sources under {ROOT}: run from the root of a graft checkout')
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, 'classpath.json')
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached['stamp'] == stamp and all(
                os.path.exists(p) for p in cached['classpath'].split(os.pathsep)):
            return cached['classpath']
    sbt = shutil.which('sbt')
    if sbt is None:
        fail('sbt not found on PATH')
    os.makedirs(os.path.join(BUILD, 'tmp'), exist_ok=True)
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    repos = os.path.expanduser(os.path.join('~', '.sbt', 'repositories'))
    opts = env.get('SBT_OPTS') or (
        f'-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} '
        '-Dsbt.offline=true -Xmx4g')
    env['SBT_OPTS'] = opts + f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"
    log('building graft and the benchmark harness (sbt)...')
    t0 = time.time()
    with open(os.path.join(BUILD, 'build.log'), 'w') as out:
        r = subprocess.run(
            [sbt, '--batch', '-Dsbt.log.noformat=true', '-Dsbt.server.autostart=false',
             'compile', 'export Runtime/fullClasspath'],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(os.path.join(BUILD, 'build.log')) as f:
        lines = f.read().splitlines()
    if r.returncode != 0:
        fail('build failed:\n' + '\n'.join(lines[-30:]))
    cps = [ln for ln in lines if ln.startswith('/') and 'classes' in ln]
    if not cps:
        fail('build printed no classpath:\n' + '\n'.join(lines[-30:]))
    with open(cp_file, 'w') as f:
        json.dump({'stamp': stamp, 'classpath': cps[-1]}, f)
    log(f'build done in {time.time() - t0:.0f} s')
    return cps[-1]


# ------------------------------------------------------------------ run

def run_jvm(classpath, args, log_path, deadline):
    java = shutil.which('java') or os.path.join(os.environ.get('JAVA_HOME', ''), 'bin', 'java')
    if not os.path.exists(java):
        fail('java not found')
    opens = [x for p in JDK_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')]
    cmd = [java, *opens, f'-Xmx{HEAP}', f"-Djava.io.tmpdir={args['tmp']}",
           '-cp', classpath, 'graftbench.Harness'] + [f'{k}={v}' for k, v in args.items()]
    with open(log_path, 'w') as out:
        launch_ms = time.time() * 1000.0
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return rc, launch_ms


def quantile(xs, q):
    """Quantile by linear interpolation between order statistics, so a
    percentile of few samples does not jump between neighbours."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=int, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and deletes its scratch inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.seconds < 1:
        fail('--seconds must be at least 1')
    start = time.time()
    # local[N] uses every processor this process may run on; the harness
    # refuses an N above what its JVM sees
    nproc = len(os.sched_getaffinity(0))
    cores = nproc
    classpath = build()
    # the limit covers the run, not a first build
    deadline = time.time() + RUN_LIMIT_S
    free_gb = shutil.disk_usage(ROOT).free / 2**30
    if free_gb < 2:
        fail(f'only {free_gb:.1f} GB free under {ROOT}; need 2 GB')

    w = WORKLOADS[a.workload]
    work = os.path.join(BUILD, 'runs', f'{a.workload}-{a.seed}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, 'data')
        sizes = gen.generate(data, a.seed, w['corpus'])
        for sub in ('tmp', 'spark'):
            os.makedirs(os.path.join(work, sub))
        out = os.path.join(work, 'out')
        rc, launch_ms = run_jvm(classpath, {
            'data': data, 'queries': ','.join(w['queries']),
            'seconds': a.seconds, 'trace': a.trace, 'cores': cores,
            'tmp': os.path.join(work, 'tmp'), 'out': out},
            os.path.join(work, 'jvm.log'), deadline)
        res_path = os.path.join(out, 'result.json')
        if rc != 0 or not os.path.exists(res_path):
            kept = os.path.join(BUILD, f'failed-{a.workload}-{a.seed}.log')
            shutil.copy(os.path.join(work, 'jvm.log'), kept)
            fail(f'harness JVM exited with {rc}; its log is {os.path.relpath(kept, ROOT)}')
        with open(res_path) as f:
            res = json.load(f)
        cache = os.path.join(BUILD, 'oracle-cache',
                             f'{a.workload}-{a.seed}-gen{gen.VERSION}.json')
        expected = oracle.expected(data, res['oracle_sql'], os.path.join(work, 'duck'), cache)
        report(a, res, sizes, expected, os.path.join(out, 'rows'), launch_ms,
               cores, nproc, time.time() - start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, res, sizes, expected, rows_dir, launch_ms, cores, nproc, elapsed):
    w = WORKLOADS[a.workload]
    # ---- correctness: cold result vs oracle, warm results vs cold
    verdict = {}
    for e in res['cold']:
        n = e['name']
        if 'error' in e:
            verdict[n] = 'error: ' + e['error']
        elif n not in expected:
            verdict[n] = 'no oracle'
        elif oracle.actual(rows_dir, n) != expected[n]:
            verdict[n] = 'output differs from oracle'
        else:
            verdict[n] = 'ok'
    execs = res['cold'] + res['warm']
    bad = [e for e in execs if verdict[e['name']] != 'ok' or not e['same_as_cold']]
    attempted, failed = len(execs), len(bad)
    for n, v in verdict.items():
        if v != 'ok':
            print(f'FAILED {n}: {v}')
    for e in res['warm']:
        if verdict[e['name']] == 'ok' and not e['same_as_cold']:
            print(f"FAILED {e['name']} pass {e['pass']}: "
                  f"{e.get('error', 'warm result differs from cold result')}")

    # ---- end-to-end metrics, from untraced executions only
    warm = [e for e in res['warm'] if not e['traced']]
    walls = [p['wall_s'] for p in res['pass_walls'] if not p['traced']]
    lat = [e['latency_s'] for e in warm]
    e2e = {
        'setup_s': (res['ready_ms'] - launch_ms) / 1000.0,
        'cold_wall_s': sum(e['latency_s'] for e in res['cold']),
        'wall_s': statistics.median(walls),
        'query_p50_s': quantile(lat, 0.5),
        'query_p90_s': quantile(lat, 0.9),
        'heap_live_peak_mb': res['heap_live_peak_mb'],
    }
    batch = sorted(res.get('batch_ms', []))
    record = {
        'workload': a.workload, 'seed': a.seed, 'seconds': a.seconds, 'trace': a.trace,
        'nproc': nproc, 'master': f'local[{cores}]', 'xmx': HEAP,
        'jdk': res['java_version'], 'spark': res['spark_version'],
        'source': source_commit(), 'queries': w['queries'],
        'warm_passes': len(walls), 'latency_samples': len(lat),
        'inputs': sizes, 'run_s': round(elapsed, 1),
    }

    print(f'workload {a.workload} seed {a.seed}: {attempted} executions, {failed} failed')
    print(f"  {'failed_frac':18s} {failed / attempted:12.4f} ratio")
    for k, unit in END_TO_END:
        print(f'  {k:18s} {e2e[k]:12.4f} {unit}')
    if batch:
        print(f"  {'batch_p50_ms':18s} {quantile(batch, 0.5):12.4f} ms")
        print(f"  {'batch_p90_ms':18s} {quantile(batch, 0.9):12.4f} ms   ({len(batch)} batches)")
    print(f'  latency samples {len(lat)} over {len(walls)} warm passes')
    for e in res['cold']:
        ws = [x['latency_s'] for x in warm if x['name'] == e['name']]
        med = f'{statistics.median(ws):8.3f}' if ws else '       -'
        print(f"  {e['name']:26s} cold {e['latency_s']:8.3f} s  warm median {med} s  "
              f"rows {e['rows']:7d}  {verdict[e['name']]}")
    print('run record: ' + json.dumps(record))

    if a.trace:
        t = res['trace']
        traced_walls = [p['wall_s'] for p in res['pass_walls'] if p['traced']]
        # the first warm pass still carries JIT warm-up, so the untraced
        # side of the comparison is the untraced passes after it
        base = statistics.median(walls[1:] or walls)
        overhead = statistics.median(traced_walls) - base
        metrics = dict(t['metrics'])
        metrics.update(res.get('probes', {}))
        metrics['trace.overhead_s'] = overhead
        metrics['trace.overhead_frac'] = overhead / base
        profile = {
            'record': record, 'end_to_end_untraced': e2e,
            'wall_s_traced': statistics.median(traced_walls),
            'tracing_overhead_s': overhead,
            'per_layer': metrics, 'queries': t['queries'], 'spans': t['spans'],
            'notes': PROFILE_NOTES,
        }
        pdir = os.path.join(BUILD, 'profiles')
        os.makedirs(pdir, exist_ok=True)
        ppath = os.path.join(pdir, f'{a.workload}-seed{a.seed}.json')
        with open(ppath, 'w') as f:
            json.dump(profile, f, indent=1)
        print(f'profile: {os.path.relpath(ppath, ROOT)}')
        print_breakdown(t['queries'])
        out = {k: {'value': v, 'unit': layer_unit(k)} for k, v in metrics.items()}
    else:
        out = {k: {'value': e2e[k], 'unit': u} for k, u in END_TO_END}
    print(json.dumps({'correct': failed == 0, 'attempted': attempted,
                      'failed': failed, 'metrics': out}))


PROFILE_NOTES = (
    'queries.<name>.self_ms: exclusive ms per execution and layer; planner = '
    'time inside the call that builds the result (the DSL and planner, plus '
    'planning of eagerly run intermediate stages) minus the jobs it '
    'ran, streaming work and the final plan analysis; '
    'catalyst = analysis + optimisation + physical planning; streaming = '
    'micro-batch time outside jobs; stage / pipeline.<module> / exec = time '
    'covered by the jobs attributed to each by call site; collect = result '
    'collection outside jobs; '
    'total = latency. per_layer values are per traced pass.')


def print_breakdown(queries):
    print('per-query self time (ms per execution):')
    for n, q in queries.items():
        parts = ', '.join(f'{k} {v:.0f}' for k, v in q['self_ms'].items() if k != 'total' and v >= 0.5)
        print(f"  {n:26s} {q['latency_ms']:8.0f}  {parts}")


def layer_unit(name):
    suffix = name.rsplit('_', 1)[-1]
    return {'ms': 'ms', 's': 's', 'ns': 'ns', 'mb': 'MB', 'frac': 'ratio',
            'yield': 'ratio'}.get(suffix, 'count')


def source_commit():
    """git commit when the checkout is a repository, else a hash of the
    sources the harness was built from."""
    try:
        r = subprocess.run(['git', 'rev-parse', 'HEAD'], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return 'sources-' + source_stamp()[:16]


if __name__ == '__main__':
    main()
