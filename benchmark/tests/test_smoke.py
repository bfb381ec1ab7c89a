"""Tiny-size smoke runs of each workload through the one command, checking
the result line against BENCHMARK.json, and the refusal to run without the
program's sources. Each run builds first if needed and takes about a minute:

    python3 -m unittest discover -s benchmark/tests -p 'test_smoke.py'
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def spec():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as fh:
        return json.load(fh)


def run(workload, trace, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, 'run.py'), '--workload', workload, '--seed', '7',
         '--seconds', '8', '--trace', str(trace), '--size', 'tiny'],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


class Smoke(unittest.TestCase):

    def check(self, workload, trace, group):
        rc, out, err = run(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        result = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(result), {'correct', 'attempted', 'failed', 'metrics'})
        self.assertTrue(result['correct'], out)
        self.assertEqual(result['failed'], 0)
        self.assertGreater(result['attempted'], 0)
        want = {m['name']: m['unit'] for m in spec()[group]}
        got = {k: v['unit'] for k, v in result['metrics'].items()}
        self.assertEqual(got, want)
        return result['metrics'], out

    def test_fraud_live(self):
        m, _ = self.check('fraud_live', 0, 'end_to_end')
        self.assertGreater(m['alert_p50_ms']['value'], 0)
        self.assertGreater(m['setup_s']['value'], 0)

    def test_fraud_live_traced(self):
        m, out = self.check('fraud_live', 1, 'per_layer')
        self.assertGreater(m['parse.dead_letters']['value'], 0)
        self.assertGreater(m['microbatch.batches']['value'], 0)
        self.assertIn('self time per layer', out)

    def test_fraud_catchup(self):
        m, _ = self.check('fraud_catchup', 0, 'end_to_end')
        self.assertGreater(m['alert_p99_ms']['value'], 0)

    def test_fraud_catchup_traced(self):
        m, out = self.check('fraud_catchup', 1, 'per_layer')
        self.assertGreater(m['catchup.eps']['value'], 0)
        self.assertGreater(m['score.kernel_eps']['value'], 0)
        self.assertIn('tracing overhead', out)

    def test_fails_without_the_program_sources(self):
        bare = os.path.join(BENCH, '.run', 'bare')
        shutil.rmtree(bare, ignore_errors=True)
        try:
            shutil.copytree(BENCH, os.path.join(bare, 'benchmark'),
                            ignore=shutil.ignore_patterns('.build', '.run', '__pycache__'))
            shutil.copy(os.path.join(ROOT, 'BENCHMARK.json'), bare)
            p = subprocess.run(
                [sys.executable, 'benchmark/run.py', '--workload', 'fraud_live', '--seed', '1',
                 '--seconds', '4', '--trace', '0'],
                cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == '__main__':
    unittest.main()
