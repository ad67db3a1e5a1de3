#!/usr/bin/env python3
"""ETL and query benchmark.

Usage (from the repository root):
    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 18 --trace 0

Builds the repository's main sources together with the harness in
perfbench/src (sbt, once per source state), runs one workload in a fresh
JVM on local[N] with every file it touches under perfbench/.run/, checks
every op's outcome, and prints one JSON line as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones in BENCHMARK.json, with
--trace 1 the per-layer ones; a traced run also prints the untraced
figures of the same run as a table above that line.
"""
import argparse
import glob
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = os.path.join(ROOT, 'src', 'main', 'scala')
CLASSES = os.path.join(HERE, 'target', 'scala-2.13', 'classes')
STAMP = os.path.join(HERE, 'target', 'perfbench.stamp')
WORKLOADS = ('etl_bulk', 'etl_incremental', 'query_mix')
DEADLINE_S = 175
ADD_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar',
]


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, 'build.sbt'), os.path.join(HERE, 'project', 'build.properties')]
    for base in (SOURCES, os.path.join(HERE, 'src')):
        files += sorted(glob.glob(os.path.join(base, '**', '*.scala'), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, out_path, env=None):
    """Runs cmd in its own process group and waits for it; the group is
    killed on timeout or when this process is told to stop. Returns the
    exit code (None on timeout)."""
    with open(out_path, 'wb') as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for s, h in old.items():
                signal.signal(s, h)


def tail(path, n=40):
    try:
        with open(path, errors='replace') as f:
            return ''.join(f.readlines()[-n:])
    except OSError:
        return ''


def build():
    if not os.path.isdir(os.path.join(SOURCES, 'graft')):
        sys.exit('perfbench: no program sources at src/main/scala/graft; '
                 'run from the repository root')
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log('building (sbt compile)')
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    env.setdefault('SBT_OPTS', '-Dsbt.override.build.repos=true -Dsbt.offline=true')
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    build_log = os.path.join(HERE, 'target', 'build.log')
    rc = run_bounded(['sbt', '--batch', '-Dsbt.log.noformat=true', 'compile'], HERE, 850,
                     build_log, env)
    if rc != 0:
        sys.stderr.write(tail(build_log))
        sys.exit(f'perfbench: build failed (exit {rc})')
    with open(STAMP, 'w') as f:
        f.write(stamp)


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0)) - 1))


def java_cmd(args, run_dir, n):
    spark_home = os.environ.get('SPARK_HOME')
    if not spark_home:
        sys.exit('perfbench: SPARK_HOME is not set')
    java = os.path.join(os.environ['JAVA_HOME'], 'bin', 'java') \
        if os.environ.get('JAVA_HOME') else 'java'
    opens = [x for p in ADD_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')]
    return [java, *opens, '-Xmx3g', '-Xss4m', f'-XX:ActiveProcessorCount={n + 1}',
            '-Duser.timezone=UTC', '-Dfile.encoding=UTF-8',
            f'-Djava.io.tmpdir={os.path.join(run_dir, "tmp")}',
            f'-Dderby.system.home={run_dir}', '-Dderby.system.durability=test',
            '-Dspark.ui.enabled=false',
            '-cp', f'{CLASSES}:{os.path.join(spark_home, "jars", "*")}',
            'perfbench.Main', *args]


def run_jvm(args, run_dir, timeout):
    os.makedirs(os.path.join(run_dir, 'tmp'), exist_ok=True)
    jvm_log = os.path.join(run_dir, 'jvm.log')
    rc = run_bounded(java_cmd(args, run_dir, cpus()), run_dir, timeout, jvm_log)
    if rc != 0:
        sys.stderr.write(tail(jvm_log))
        raise RuntimeError(f'benchmark JVM {"timed out" if rc is None else f"exited {rc}"}')


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def oracle_failures(res):
    """Compares each query's output with its DuckDB oracle SQL; returns
    {query: reason} for the mismatches."""
    from oracle import mismatches
    return mismatches(res['data_dir'],
                      {q: (spec['out'], spec['sql']) for q, spec in res['queries'].items()})


def summarize(res, spec, trace):
    ops = res['ops']
    bad_queries = oracle_failures(res) if 'queries' in res else {}
    failed_ops = [o for o in ops if not o['ok'] or o['name'] in bad_queries]
    if res.get('final_error'):
        failed_ops = ops
    for o in failed_ops[:5]:
        log(f"op {o['name']} (cycle {o['cycle']}) failed: "
            f"{o.get('error') or bad_queries.get(o['name']) or res.get('final_error')}")
    for q, why in bad_queries.items():
        log(f'oracle mismatch {q}: {why}')
    failed_names = {id(o) for o in failed_ops}
    untraced = [o for o in ops if not o['traced']]
    good = [o['s'] for o in untraced if id(o) not in failed_names]
    setup = res['session_s'] + statistics.median(res['gen_s']) + res['warm_s'] + res['load_s']
    e2e = {
        'setup_s': setup,
        'wall_s': sum(o['s'] for o in untraced),
        'op_p50_s': statistics.median(good) if good else float('nan'),
        'op_geomean_s': geomean(good) if good else float('nan'),
    }
    units = {m['name']: m['unit'] for m in spec['end_to_end'] + spec['per_layer']}
    if trace:
        layers = dict(res['layers'])
        t_cycles = {o['cycle'] for o in ops if o['traced']}
        u_cycles = {o['cycle'] for o in untraced}
        t_wall = sum(o['s'] for o in ops if o['traced']) / max(1, len(t_cycles))
        u_wall = sum(o['s'] for o in untraced) / max(1, len(u_cycles))
        layers['trace.overhead_s'] = t_wall - u_wall
        print(f"untraced ({res['workload']}, {len(u_cycles)} of {res['cycles']} cycles):")
        for k, v in e2e.items():
            print(f'  {k:<40} {v:14.4f} {units.get(k, "")}')
        print(f"traced layers ({len(t_cycles)} cycles):")
        for m in spec['per_layer']:
            print(f"  {m['name']:<40} {layers.get(m['name'], 0.0):14.4f} {m['unit']}")
        metrics = {m['name']: layers.get(m['name'], 0.0) for m in spec['per_layer']}
    else:
        metrics = {m['name']: e2e[m['name']] for m in spec['end_to_end']}
    return {
        'correct': not failed_ops,
        'attempted': len(ops),
        'failed': len(failed_ops),
        'metrics': {k: {'value': v, 'unit': units[k]} for k, v in metrics.items()},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--scale', type=float, default=1.0,
                    help='input size relative to the defaults (tests use small values)')
    a = ap.parse_args()
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    build()
    t0 = time.time()
    run_dir = os.path.join(HERE, '.run', f'{a.workload}-{a.seed}-{os.getpid()}')
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run_jvm([a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir,
                 str(cpus()), str(a.scale)], run_dir, DEADLINE_S - (time.time() - t0))
        with open(os.path.join(run_dir, 'result.json')) as f:
            res = json.load(f)
        sys.path.insert(0, HERE)
        out = summarize(res, spec, a.trace == 1)
    except Exception as e:
        sys.exit(f'perfbench: {e}')
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == '__main__':
    main()
