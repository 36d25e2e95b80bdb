#!/usr/bin/env python3
"""The benchmark's own checks. Run from the root of a checkout:

    python3 perfbench/test_bench.py

The traced corpus_mix case builds the program if needed and takes about a
minute.
"""
import hashlib
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = ROOT / '.bench_build' / 'test'
sys.path.insert(0, str(HERE))
import gen_tree  # noqa: E402


def digest(tree):
    h = hashlib.sha256()
    for p in sorted(tree.rglob('*')):
        if p.is_file():
            h.update(str(p.relative_to(tree)).encode() + p.read_bytes())
    return h.hexdigest()


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, str(Path(cwd) / 'perfbench' / 'run.py'), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=1200)


class TreeGenerator(unittest.TestCase):
    def tree(self, name, seed):
        out = SCRATCH / name
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        return out, gen_tree.generate(out, seed)

    def test_same_seed_same_tree(self):
        a, ta = self.tree('a', 5)
        b, tb = self.tree('b', 5)
        c, tc = self.tree('c', 6)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(ta, tb)
        self.assertNotEqual(ta['batches'], tc['batches'])

    def test_truth_counts(self):
        _, t = self.tree('a', 5)
        self.assertEqual(t['ready'], t['repetitions'] - gen_tree.INCOMPLETE)
        beamless = [b for b in t['batches'] if not b['beam']]
        self.assertEqual(len(beamless), 1)
        self.assertEqual(t['quarantined'], beamless[0]['ready'])


class Runs(unittest.TestCase):
    def test_traced_corpus_mix_rebuilds_d02_checkpoint(self):
        """Each pass releases the shared checkpoints, so d02 runs the same
        jobs in its first and second traced pass (a reused checkpoint would
        show fewer)."""
        r = run('--workload', 'corpus_mix', '--seed', '1', '--seconds', '1', '--trace', '1')
        self.assertEqual(r.returncode, 0, r.stderr)
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(result['correct'], r.stdout)
        trace = json.loads((ROOT / '.bench_build/trace/corpus_mix-seed1-trace1.json').read_text())
        jobs = [s['counters'].get('jobs', 0) for s in trace['spans'] if s['name'] == 'queries.d02']
        self.assertGreaterEqual(len(jobs), 2)
        self.assertGreater(jobs[0], 0)
        self.assertEqual(jobs[0], jobs[1])

    def test_refuses_without_the_program(self):
        bare = SCRATCH / 'bare'
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / 'BENCHMARK.json', bare)
        shutil.copytree(HERE, bare / 'perfbench',
                        ignore=shutil.ignore_patterns('target'))
        r = run('--workload', 'sql_mix', '--seed', '1', '--seconds', '1', cwd=bare)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


if __name__ == '__main__':
    unittest.main()
