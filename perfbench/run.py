#!/usr/bin/env python3
"""CDC benchmark: live replication lag and catch-up of graft.tools.Main.

    python3 perfbench/run.py --workload wal2json_live|pgoutput_live \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the repository's
sources together with the benchmark's own (perfbench/build.sbt) into
.bench_build/; later runs reuse that build while no source changed.

Each run starts a fake PostgreSQL walsender (perfbench.Walsender) that
serves a WAL generated from the seed, launches the deployment binary
graft.tools.Main against it as its own process (CDC_SOURCE=socket,
parquet sink, every other setting at Main's defaults), measures set-up,
catch-up of a backlog and the ack lag of a fixed-rate live phase, then
checks the sink against the generated WAL. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. --trace 0
reports the end-to-end metrics; --trace 1 attaches the benchmark's Spark
listeners to Main and reports the per-layer metrics instead. The exit code
is non-zero when any output check fails.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
from datetime import datetime

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, '.bench_build')

# Live commits per second (one every 75 ms), the same for both workloads.
# Chosen at no more than half the slower workload's (pgoutput's) catch-up
# rate on a 4-core host, so the live phase runs below saturation; a 15 s
# window then holds 200 commits, two of them large (WalGen.LargeEvery).
LIVE_RATE = 40 / 3
# Changes that sit in the slot before Main connects.
BACKLOG_CHANGES = 12000

WORKLOADS = {'wal2json_live': 'wal2json', 'pgoutput_live': 'pgoutput'}

END_TO_END = [
    ('setup_s', 's'),
    ('catchup_events_per_s', '1/s'),
    ('ack_lag_p50_ms', 'ms'),
    ('ack_lag_p95_ms', 'ms'),
    ('peak_rss_mb', 'MB'),
]


def fail(msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(2)


def sources():
    files = [os.path.join(BENCH, 'build.sbt'),
             os.path.join(BENCH, 'project', 'build.properties')]
    for d in (os.path.join(ROOT, 'src', 'main'), os.path.join(BENCH, 'src', 'main')):
        files += sorted(glob.glob(os.path.join(d, '**', '*.scala'), recursive=True))
    return files


def spark_home():
    """SPARK_HOME, or else the first spark-submit on PATH that belongs to a
    full install (a bin/ beside a jars/ directory)."""
    if os.environ.get('SPARK_HOME'):
        return os.environ['SPARK_HOME']
    for d in os.environ.get('PATH', '').split(os.pathsep):
        submit = os.path.join(d, 'spark-submit')
        if os.access(submit, os.X_OK):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, 'jars')):
                return home
    fail('no Spark install found: set SPARK_HOME or put spark-submit on PATH')


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, 'src', 'main', 'scala', 'graft',
                                       'tools', 'Main.scala')):
        fail('graft sources not found: run from a checkout of the repository')
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, 'stamp')
    cp_file = os.path.join(BUILD, 'classpath.txt')
    classes = os.path.join(BENCH, 'target', 'scala-2.13', 'classes', 'perfbench')
    if os.path.exists(stamp) and os.path.exists(cp_file) and os.path.isdir(classes) \
            and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    os.makedirs(os.path.join(BUILD, 'tmp'), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE='offline', SPARK_HOME=spark_home())
    # offline, with sbt's own state kept inside the checkout
    env['SBT_OPTS'] = ' '.join([
        '-Dsbt.override.build.repos=true', '-Dsbt.offline=true',
        '-Dsbt.server.autostart=false', '-Xmx2g',
        '-Dsbt.global.base=' + os.path.join(BUILD, 'sbt-global'),
        '-Djava.io.tmpdir=' + os.path.join(BUILD, 'tmp')] + (
        ['-Dsbt.repository.config=' + os.path.expanduser('~/.sbt/repositories')]
        if os.path.exists(os.path.expanduser('~/.sbt/repositories')) else []))
    log = os.path.join(BUILD, 'build.log')
    with open(log, 'w') as out:
        r = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true',
                            'compile', 'writeClasspath'],
                           cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail('build failed')
    shutil.copy(os.path.join(BENCH, 'target', 'classpath.txt'), cp_file)
    with open(stamp, 'w') as fh:
        fh.write(h.hexdigest())
    return open(cp_file).read().strip()


# ---------------------------------------------------------------- checks

def image(m):
    """A sink row image (parquet map, read as key/value pairs) as a dict."""
    return None if m is None else dict(m)


def check_sink(work):
    """Compare the parquet sink with the generated WAL.

    Every change of an acked commit must appear exactly once, under the
    event_id Transform.eventId composes, with the right row images; each
    subject's rows must follow commit order; changes of the transaction that
    never commits must not appear, nor must anything that was never sent.
    Returns (attempted, failures by kind).
    """
    import pyarrow.parquet as pq
    expected = {}
    committed = 0
    with open(os.path.join(work, 'expected.jsonl'), encoding='utf-8') as fh:
        for line in fh:
            eid, subject, txi, seq, before, after, status = json.loads(line)
            expected[eid] = (subject, txi, seq, before, after, status)
            if status in 'AS':
                committed += 1
    fails = dict(missing=0, duplicate=0, wrong_image=0, out_of_order=0,
                 uncommitted=0, unexpected=0)
    seen = set()
    last = {}
    batches = [d for d in glob.glob(os.path.join(work, 'out', 'batch_id=*'))
               if os.path.exists(os.path.join(d, '_SUCCESS'))]
    for d in sorted(batches, key=lambda p: int(p.rsplit('=', 1)[1])):
        for f in sorted(glob.glob(os.path.join(d, 'part-*.parquet'))):
            t = pq.read_table(f, columns=['event_id', 'subject', 'before', 'after'])
            cols = [t.column(c).to_pylist() for c in ('event_id', 'subject', 'before', 'after')]
            for eid, subject, before, after in zip(*cols):
                e = expected.get(eid)
                if e is None or e[5] == 'N':
                    fails['unexpected'] += 1
                    continue
                if e[5] == 'U':
                    fails['uncommitted'] += 1
                    continue
                if eid in seen:
                    fails['duplicate'] += 1
                    continue
                seen.add(eid)
                if subject != e[0] or image(before) != e[3] or image(after) != e[4]:
                    fails['wrong_image'] += 1
                pos = (e[1], e[2])
                if last.get(subject, (-1, -1)) >= pos:
                    fails['out_of_order'] += 1
                last[subject] = pos
    fails['missing'] = sum(1 for eid, e in expected.items()
                           if e[5] == 'A' and eid not in seen)
    return committed, fails


# ---------------------------------------------------------------- layers

def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(work, res):
    """Per-layer numbers from the trace Main wrote (progress, jobs, stages)."""
    tdir = os.path.join(work, 'trace')

    def lines(name):
        p = os.path.join(tdir, name)
        return [json.loads(x) for x in open(p) if x.strip()] if os.path.exists(p) else []
    progress, jobs, stages = lines('progress.jsonl'), lines('jobs.jsonl'), lines('stages.jsonl')
    if not progress:
        raise RuntimeError('traced run left no trigger progress')
    off = res['wall_epoch_offset_ns']

    def wall_ms(ns):
        return (ns + off) / 1e6

    def start_ms(p):
        return datetime.fromisoformat(p['timestamp'].replace('Z', '+00:00')).timestamp() * 1e3

    busy = [p for p in progress if p['numInputRows'] > 0]

    def dur(k):
        return median([p['durationMs'].get(k, 0) for p in busy])
    ws, we = wall_ms(res['window_start_ns']), wall_ms(res['window_end_ns'])
    cs, ce = wall_ms(res['start_replication_ns']), wall_ms(res['catchup_done_ns'])

    def covered(lo, hi):
        tot = 0.0
        for p in progress:
            s = start_ms(p)
            e = s + p['durationMs'].get('triggerExecution', 0)
            tot += max(0.0, min(e, hi) - max(s, lo))
        return tot / (hi - lo) if hi > lo else 0.0

    # stage attribution by RDD scope: the stateful operators' stages, the
    # ordered sink's write stage, everything before state (scan, decode);
    # jobs after the write are the `published` count's
    def kind(stage):
        sc = ' '.join(stage['scopes'])
        if 'WriteFiles' in sc:
            return 'sink'
        if 'FlatMapGroupsWithState' in sc or 'TransformWithState' in sc or 'StateStore' in sc:
            return 'state'
        return 'pre_state'

    stage_by_id = {s['stage']: s for s in stages}
    batch_jobs = {}
    for j in jobs:
        if j['batch'] != '':
            batch_jobs.setdefault(j['batch'], []).append(j)
    kinds = dict(pre_state=0, state=0, sink=0, other=0)
    tasks = shuffle = out_bytes = gc = 0
    for js in batch_jobs.values():
        after_sink = False
        for j in sorted(js, key=lambda j: j['start']):
            ss = [stage_by_id[i] for i in j['stages'] if i in stage_by_id]
            for s in ss:
                kinds['other' if after_sink else kind(s)] += s['run_ms']
                tasks += s['tasks']
                shuffle += s['shuffle_write_bytes']
                out_bytes += s['output_bytes']
                gc += s['gc_ms']
            after_sink = after_sink or any(kind(s) == 'sink' for s in ss)
    nb = max(1, len(batch_jobs))

    def state_op(idx, key):
        vals = [p['stateOperators'][idx].get(key, 0) for p in busy
                if len(p.get('stateOperators', [])) > idx]
        return median(vals)

    m = {
        'sources.latest_offset_ms': dur('latestOffset'),
        'sources.get_batch_ms': dur('getBatch'),
        'sources.rows_per_trigger_p50': median([p['numInputRows'] for p in busy]),
        'streaming.triggers': len(progress),
        'streaming.trigger_ms_p50': dur('triggerExecution'),
        'streaming.query_planning_ms': dur('queryPlanning'),
        'streaming.wal_commit_ms': dur('walCommit'),
        'streaming.commit_offsets_ms': dur('commitOffsets'),
        'streaming.idle_share': 1.0 - covered(ws, we),
        'streaming.catchup_trigger_share': covered(cs, ce),
        'streaming.add_batch_ms': dur('addBatch'),
        'streaming.jobs_per_trigger': sum(len(js) for js in batch_jobs.values()) / nb,
        'streaming.tasks_per_trigger': tasks / nb,
        'streaming.pre_state_task_ms': kinds['pre_state'] / nb,
        'streaming.state_task_ms': kinds['state'] / nb,
        'streaming.sink_task_ms': kinds['sink'] / nb,
        'streaming.publish_count_task_ms': kinds['other'] / nb,
        'streaming.shuffle_bytes': shuffle / nb,
        'streaming.sink_bytes': out_bytes / nb,
        'streaming.gc_ms': gc / nb,
    }
    # stateOperators lists the plan top-down: assembly first, then (pgoutput
    # only) the decoder's relation registry
    src = dict(rows_total='numRowsTotal', rows_removed='numRowsRemoved',
               memory_bytes='memoryUsedBytes', commit_ms='commitTimeMs',
               updates_ms='allUpdatesTimeMs', removals_ms='allRemovalsTimeMs')
    for name, idx, keys in (('assembly', 0, ('rows_total', 'rows_removed', 'memory_bytes',
                                               'commit_ms', 'updates_ms', 'removals_ms')),
                            ('decode', 1, ('rows_total', 'memory_bytes', 'commit_ms',
                                           'updates_ms'))):
        for k in keys:
            m[f'streaming.state.{name}.{k}'] = state_op(idx, src[k])
    return m


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, 'run', a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ['java', '-Xmx768m', '-cp', cp, 'perfbench.LiveBench',
           '--plugin', WORKLOADS[a.workload], '--seed', str(a.seed),
           '--seconds', str(a.seconds), '--trace', str(a.trace), '--work', work,
           '--rate', str(LIVE_RATE), '--backlog', str(BACKLOG_CHANGES), '--cp', cp]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail('LiveBench failed')
    res = json.load(open(os.path.join(work, 'result.json')))
    if res['error']:
        err = open(os.path.join(work, 'main.err')).read()[-3000:]
        sys.stderr.write(err)
        fail(f"run failed: {res['error']}")

    attempted, fails = check_sink(work)
    # a window commit that was never acked is a failure too
    fails['never_acked'] = res['window_unacked_changes']
    failed = sum(fails.values())
    lags = res['ack_lag_ms']
    late = res['lateness_ms']
    summary = {
        'setup_s': res['setup_s'],
        'catchup_events_per_s': res['backlog_changes'] / res['catchup_s'],
        'ack_lag_p50_ms': quantile(lags, 0.50),
        'ack_lag_p95_ms': quantile(lags, 0.95),
        'peak_rss_mb': res['peak_rss_mb'],
    }
    print(json.dumps({
        'workload': a.workload, 'seed': a.seed, 'trace': a.trace,
        'window_commits': res['window_commits'], 'lag_samples': len(lags),
        'large_tx_change_share': {'backlog': res['backlog_large_share'],
                                  'window': res['window_large_share']},
        'generator_lateness_p99_ms': quantile(late, 0.99),
        'unacked_commits_first_half': res['unacked_first_half'],
        'unacked_commits_second_half': res['unacked_second_half'],
        'failures': fails, 'end_to_end': summary,
        'host': {'calib_st_ops': res['host_calib_st_ops'],
                 'calib_mt_ops': res['host_calib_mt_ops']}}), file=sys.stderr)
    if a.trace:
        metrics = {k: {'value': v, 'unit': LAYER_UNITS[k]}
                   for k, v in layer_metrics(work, res).items()}
        metrics['host.calib_st_ops'] = {'value': res['host_calib_st_ops'], 'unit': '1/s'}
        metrics['host.calib_mt_ops'] = {'value': res['host_calib_mt_ops'], 'unit': '1/s'}
        metrics['generator.lateness_p99_ms'] = {'value': quantile(late, 0.99), 'unit': 'ms'}
        metrics['generator.unacked_growth'] = {
            'value': res['unacked_second_half'] - res['unacked_first_half'], 'unit': 'count'}
    else:
        metrics = {k: {'value': summary[k], 'unit': u} for k, u in END_TO_END}
    ok = failed == 0
    print(json.dumps({'correct': ok, 'attempted': attempted, 'failed': failed,
                      'metrics': metrics}))
    shutil.rmtree(os.path.join(work, 'out'), ignore_errors=True)
    shutil.rmtree(os.path.join(work, 'checkpoint'), ignore_errors=True)
    shutil.rmtree(os.path.join(work, 'tmp'), ignore_errors=True)
    sys.exit(0 if ok else 1)


LAYER_UNITS = {
    'sources.latest_offset_ms': 'ms', 'sources.get_batch_ms': 'ms',
    'sources.rows_per_trigger_p50': 'count', 'streaming.triggers': 'count',
    'streaming.trigger_ms_p50': 'ms', 'streaming.query_planning_ms': 'ms',
    'streaming.wal_commit_ms': 'ms', 'streaming.commit_offsets_ms': 'ms',
    'streaming.idle_share': 'ratio', 'streaming.catchup_trigger_share': 'ratio',
    'streaming.add_batch_ms': 'ms', 'streaming.jobs_per_trigger': 'count',
    'streaming.tasks_per_trigger': 'count', 'streaming.pre_state_task_ms': 'ms',
    'streaming.state_task_ms': 'ms', 'streaming.sink_task_ms': 'ms',
    'streaming.publish_count_task_ms': 'ms',
    'streaming.shuffle_bytes': 'bytes', 'streaming.sink_bytes': 'bytes',
    'streaming.gc_ms': 'ms',
    'streaming.state.assembly.rows_total': 'count',
    'streaming.state.assembly.rows_removed': 'count',
    'streaming.state.assembly.memory_bytes': 'bytes',
    'streaming.state.assembly.commit_ms': 'ms',
    'streaming.state.assembly.updates_ms': 'ms',
    'streaming.state.assembly.removals_ms': 'ms',
    'streaming.state.decode.rows_total': 'count',
    'streaming.state.decode.memory_bytes': 'bytes',
    'streaming.state.decode.commit_ms': 'ms',
    'streaming.state.decode.updates_ms': 'ms',
}

if __name__ == '__main__':
    main()
