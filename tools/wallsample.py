#!/usr/bin/env python3
"""Summarize the folded stacks that tools/wallsample/WallSample.java writes.

Usage:
    python3 tools/wallsample.py /tmp/ws.*.folded [--top 40]

Each sample is attributed to its innermost `graft.` frame (the program
method closest to the leaf) and to one category, decided by the innermost
frame that matches one of the patterns below, so a metastore call made
while analyzing a plan counts as metastore. The table lists each
(graft frame, category) pair's share of all samples, largest first, and
then each category's total.
"""
import argparse
import collections
import re
import sys

# (category, frame substrings); the innermost matching frame decides
CATEGORIES = [
    ('spark-job wait', ('DAGScheduler.runJob', 'JobWaiter.awaitResult', 'SparkContext.runJob',
                        'LinkedBlockingQueue.take', 'ThreadUtils.awaitResult')),
    ('metastore', ('org.apache.hadoop.hive.', 'org.apache.spark.sql.hive.client.',
                   'HiveExternalCatalog.', 'ExternalCatalogWithListener.')),
    ('hadoop shell fork', ('org.apache.hadoop.util.Shell', 'java.lang.ProcessBuilder.',
                           'java.lang.ProcessImpl.')),
    ('codegen', ('org.codehaus.janino.', 'org.codehaus.commons.compiler.',
                 'expressions.codegen.CodeGenerator', 'WholeStageCodegenExec.doCodeGen')),
    ('analysis', ('catalyst.analysis.', 'QueryExecution.assertAnalyzed',
                  'QueryExecution.analyzed')),
    ('optimize', ('catalyst.optimizer.', 'QueryExecution.optimizedPlan',
                  'QueryExecution.withCachedData')),
    ('physical plan', ('QueryExecution.sparkPlan', 'QueryExecution.executedPlan',
                       'QueryExecution$.prepareForExecution', 'SparkStrategies',
                       'catalyst.planning.QueryPlanner', 'adaptive.AdaptiveSparkPlanExec')),
]


def categorize(frames):
    for frame in reversed(frames):
        for name, patterns in CATEGORIES:
            if any(p in frame for p in patterns):
                return name
    return 'other'


def innermost_graft(frames):
    """The innermost `graft.` frame as class.method, with Scala's object
    `$` and lambda and local-def decorations removed."""
    for frame in reversed(frames):
        if frame.startswith('graft.'):
            cls, _, method = frame.rpartition('.')
            method = re.sub(r'^\$anonfun\$|(\$\d+)?(\$adapted)?$', '', method)
            return cls.rstrip('$') + '.' + method
    return '(no graft frame)'


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('files', nargs='+')
    ap.add_argument('--top', type=int, default=40)
    args = ap.parse_args()

    pairs = collections.Counter()
    totals = collections.Counter()
    n = 0
    for path in args.files:
        with open(path) as fh:
            for line in fh:
                stack, _, count = line.rstrip('\n').rpartition(' ')
                if not stack:
                    continue
                frames = stack.split(';')
                k = int(count)
                cat = categorize(frames)
                pairs[(innermost_graft(frames), cat)] += k
                totals[cat] += k
                n += k
    if n == 0:
        sys.exit('no samples')
    print(f'{n} samples ({n * 5 / 1000:.1f} s at 5 ms)')
    print(f'{"share":>6}  {"samples":>7}  {"category":<18} graft frame')
    for (frame, cat), k in pairs.most_common(args.top):
        print(f'{100 * k / n:5.1f}%  {k:7d}  {cat:<18} {frame}')
    print()
    for cat, k in totals.most_common():
        print(f'{100 * k / n:5.1f}%  {k:7d}  {cat}')


if __name__ == '__main__':
    main()
