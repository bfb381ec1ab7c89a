#!/usr/bin/env python3
"""The fraud benchmark: one command per run.

    python3 benchmark/run.py --workload fraud_live|fraud_catchup --seed N \\
        --seconds S --trace 0|1 [--size full|tiny]

It builds the program from source (see build.py), runs the workload in one
JVM with `local[<cores>]`, checks the program's outputs and prints every
metric by name with its unit. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones. With --trace 1 the
metrics are the per-layer ones of a traced run; the log above the last line
shows self time per layer and, when the run budget leaves room for an
untraced twin with the same seed, the tracing overhead: the change from the
untraced to the traced end-to-end numbers.

Each JVM gets its own java.io.tmpdir, Spark local dir and checkpoint root
under benchmark/.run/, deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ('fraud_live', 'fraud_catchup')
RUN_DIR = os.path.join(BENCH, '.run')
# Everything after the build must end within this many seconds.
RUN_BUDGET_S = 170
# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# spark-submit passes (the program's build.sbt sets the same list).
ADD_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar',
]


class RunError(Exception):
    pass


def run_jvm(classes, args, deadline):
    """Runs the JVM side once; returns (raw record, launch epoch ms, peak RSS MB)."""
    os.makedirs(RUN_DIR, exist_ok=True)
    run_dir = os.path.join(RUN_DIR, f'{os.getpid()}-{time.monotonic_ns()}')
    tmp = os.path.join(run_dir, 'tmp')
    os.makedirs(tmp)
    out = os.path.join(run_dir, 'raw.json')
    cmd = ['java'] + [x for p in ADD_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')] + [
        # a fixed heap, so peak RSS does not follow the collector's resizing;
        # no perf-data file, which the JVM would write to /tmp
        '-Xms2g', '-Xmx2g', '-XX:-UsePerfData', f'-Djava.io.tmpdir={tmp}',
        '-cp', classes + os.pathsep + os.path.join(build.spark_jars(), '*'),
        'graftbench.BenchMain', '--out', out] + args
    log_path = os.path.join(run_dir, 'jvm.log')
    proc = None
    try:
        with open(log_path, 'w') as log:
            launch_ms = time.time() * 1000.0
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            while True:
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    proc.returncode = os.waitstatus_to_exitcode(status)
                    break
                if time.monotonic() > deadline:
                    raise RunError('the JVM did not finish within the run budget')
                time.sleep(0.05)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log_path) as log:
                sys.stderr.write(log.read()[-6000:])
            raise RunError(f'the JVM failed with exit code {proc.returncode}')
        with open(out) as fh:
            raw = json.load(fh)
        return raw, launch_ms, usage.ru_maxrss / 1024.0
    finally:
        if proc is not None and proc.returncode is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def show(title, values, extra=None):
    print(f'== {title}')
    for name, (value, unit) in values.items():
        suffix = f'  ({extra[name]})' if extra and name in extra else ''
        print(f'  {name:34s} {value:14.4f} {unit}{suffix}')


def check_report(raw):
    ok = True
    for c in raw['checks']:
        ok &= c['ok']
        print(f'  [{"ok" if c["ok"] else "FAIL"}] {c["name"]}: {c["detail"]}')
    return ok and raw['failed'] == 0


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', required=True, type=int)
    ap.add_argument('--seconds', required=True, type=float)
    ap.add_argument('--trace', required=True, type=int, choices=(0, 1))
    ap.add_argument('--size', default='full', choices=('full', 'tiny'),
                    help='tiny: a few seconds of input, for smoke tests')
    a = ap.parse_args(argv)

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f'benchmark: build failed: {e}', file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_BUDGET_S
    jvm_args = ['--workload', a.workload, '--seed', str(a.seed), '--seconds', str(a.seconds),
                '--size', a.size]
    try:
        started = time.monotonic()
        raw, launch, rss = run_jvm(classes, jvm_args + ['--trace', str(a.trace)], deadline)
        print(f'== {a.workload} seed {a.seed}, {raw["cores"]} cores, {raw["cards"]} cards, '
              f'{a.seconds:g} s measured{", traced" if a.trace else ""}')
        correct = check_report(raw)
        e2e, notes = metrics.end_to_end(raw, launch, rss)
        for n in notes:
            print(f'  {n}')
        show('end to end', e2e)
        attempted, failed = raw['attempted'], raw['failed']
        result = e2e
        if a.trace:
            layers, lnotes = metrics.per_layer(raw)
            for n in lnotes:
                print(f'  {n}')
            print(f'== self time per layer over the timed window ({len(raw["spans"])} spans)')
            print(f'  {"span":28s} {"count":>7s} {"total ms":>12s} {"self ms":>12s}')
            for name, row in sorted(metrics.self_times(raw['spans']).items()):
                print(f'  {name:28s} {row["count"]:7d} {row["total_ms"]:12.1f} '
                      f'{row["self_ms"]:12.1f}')
            show('per layer (-> the end-to-end metric it should move)', layers,
                 {k: f'-> {metrics.moves(k)}' for k in layers})
            result = layers
            # the untraced twin, same seed, when the run budget still allows it;
            # without it the traced result still stands
            twin = None
            if deadline - time.monotonic() > 1.3 * (time.monotonic() - started):
                try:
                    twin = run_jvm(classes, jvm_args + ['--trace', '0'], deadline)
                except RunError as e:
                    print(f'benchmark: untraced twin: {e}', file=sys.stderr)
            if twin:
                uraw, ulaunch, urss = twin
                print('== untraced twin')
                correct &= check_report(uraw)
                attempted += uraw['attempted']
                failed += uraw['failed']
                ue2e, _ = metrics.end_to_end(uraw, ulaunch, urss)
                overhead = {k: (e2e[k][0] - ue2e[k][0], e2e[k][1]) for k in e2e}
                show('tracing overhead (traced - untraced)', overhead,
                     {k: f'{100.0 * overhead[k][0] / ue2e[k][0]:+.1f} %'
                      for k in e2e if ue2e[k][0]})
            else:
                print('== tracing overhead: not measured, no untraced twin in the run budget')
    except RunError as e:
        print(f'benchmark: {e}', file=sys.stderr)
        return 1
    print(json.dumps({
        'correct': bool(correct),
        'attempted': int(attempted),
        'failed': int(failed),
        'metrics': {k: {'value': float(v), 'unit': u} for k, (v, u) in result.items()},
    }))
    return 0


if __name__ == '__main__':
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main(sys.argv[1:]))
