#!/usr/bin/env python3
"""Self-test of the benchmark, at a tiny scale.

Usage (from the repository root): python3 perfbench/selftest.py [--quick]

1. The same seed gives byte-identical inputs (parquet tables: identical
   schema and values); another seed gives different ones.
2. The benchmark's expected outcome of an upsert matches a hand-checked
   case, and so do the loader's reported counts and final table.
3. The benchmark command prints every metric named in BENCHMARK.json, with
   its unit, for every workload, traced and untraced (--quick: one
   workload).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

import run

FAILURES = []


def check(ok, what):
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        FAILURES.append(what)


def tree_digest(d):
    """sha256 per file: of its bytes for text inputs, of its schema and
    values for parquet (the writer lists column encodings in no fixed
    order, so equal tables can differ in a few metadata bytes)."""
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            if f.endswith('.parquet'):
                t = pq.read_table(p)
                data = (str(t.schema) + repr(t.to_pydict())).encode()
            else:
                with open(p, 'rb') as fh:
                    data = fh.read()
            out[os.path.relpath(p, d)] = hashlib.sha256(data).hexdigest()
    return out


def jvm(mode, seed, d):
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    run.run_jvm([mode, str(seed), '0', '0', d, '1', '1'], d, 170)


FIXED = ('tables/region.parquet', 'tables/nation.parquet')


def determinism(work):
    digests = {}
    for name, seed in (('a', 1), ('b', 1), ('c', 2)):
        d = os.path.join(work, f'gen-{name}')
        jvm('selftest_gen', seed, d)
        os.remove(os.path.join(d, 'jvm.log'))
        shutil.rmtree(os.path.join(d, 'tmp'), ignore_errors=True)
        digests[name] = tree_digest(d)
    check(len(digests['a']) >= 13, f"generator wrote {len(digests['a'])} files")
    check(digests['a'] == digests['b'], 'same seed gives byte-identical inputs')
    # region and nation are the fixed TPC-H dimension tables; every other
    # input is drawn from the seed
    seeded = [f for f in digests['a'] if f not in FIXED]
    same = [f for f in seeded if digests['a'][f] == digests['c'].get(f)]
    check(not same, f'another seed changes every seeded input file {same or ""}')
    check(all(digests['a'][f] == digests['c'][f] for f in FIXED),
          'the fixed region and nation tables do not depend on the seed')


HAND_TABLE = {
    '1': ['1', '11', 'F', '101.0100', '1704175200', '5-LOW', 'd'],
    '3': ['3', '30', 'P', None, '1704276000', None, 'c'],
    '4': ['4', '40', 'O', '400.0400', '1704412801', '3-MEDIUM', 'e'],
    '5': ['5', '55', 'O', '500.0500', '1704067200', '2-HIGH', 'y'],
}
COLS = ['o_orderkey', 'o_custkey', 'o_orderstatus', 'o_totalprice', 'o_orderdate',
        'o_orderpriority', 'o_comment']


def hand_case(work):
    d = os.path.join(work, 'case')
    jvm('selftest_case', 0, d)
    with open(os.path.join(d, 'case.json')) as f:
        res = json.load(f)
    # by hand: good keys 1 (its second row wins), 3, 4; key 2 breaks NOT NULL
    hand = [4, 2, 1, 1]
    table = {k: dict(zip(COLS, v)) for k, v in HAND_TABLE.items()}
    check(res['expected'] == hand, f"benchmark expects read/ins/upd/err {res['expected']} == {hand}")
    check(res['expected_table'] == table, 'benchmark expects the hand-checked final table')
    check(res['outcome'] == hand, f"loader reported {res['outcome']} == {hand}")
    check(res['status'] == 'CompletedWithErrors', f"status {res['status']}")
    check(res['error_rows'] == 1, f"error ledger rows {res['error_rows']} == 1")
    check(res['table'] == table, 'loaded table equals the hand-checked table')


def metrics(workloads):
    with open(os.path.join(run.ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    for w in workloads:
        for trace, key in ((0, 'end_to_end'), (1, 'per_layer')):
            p = subprocess.run([sys.executable, os.path.join(run.HERE, 'run.py'), '--workload', w,
                                '--seed', '3', '--seconds', '1', '--trace', str(trace),
                                '--scale', '0.05'], capture_output=True, text=True, cwd=run.ROOT)
            what = f'{w} --trace {trace}'
            if p.returncode != 0:
                check(False, f'{what} exited {p.returncode}: {p.stderr[-800:]}')
                continue
            out = json.loads(p.stdout.strip().splitlines()[-1])
            check(set(out) == {'correct', 'attempted', 'failed', 'metrics'}, f'{what} result keys')
            check(out['correct'] and out['failed'] == 0 and out['attempted'] >= 1,
                  f"{what} correct with {out['attempted']} ops, {out['failed']} failed")
            want = {m['name']: m['unit'] for m in spec[key]}
            got = {k: v['unit'] for k, v in out['metrics'].items()}
            check(got == want, f'{what} prints every {key} metric with its unit')
            nums = all(isinstance(v['value'], (int, float)) for v in out['metrics'].values())
            positive = trace == 1 or all(v['value'] > 0 for v in out['metrics'].values())
            check(nums and positive, f'{what} values are numbers' + ('' if trace else ' above 0'))


def main():
    run.build()
    work = os.path.join(run.HERE, '.run', f'selftest-{os.getpid()}')
    try:
        determinism(work)
        hand_case(work)
        metrics(run.WORKLOADS[:1] if '--quick' in sys.argv else run.WORKLOADS)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f'{len(FAILURES)} failures' if FAILURES else 'all self-tests passed')
    sys.exit(1 if FAILURES else 0)


if __name__ == '__main__':
    main()
