#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload saxs_tree --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM code with sbt (the classpath is cached under .bench_build/ until a source
file changes); saxs_tree then generates its tree for the seed (cached, never
timed). The benchmark JVM runs the workload and writes its result; this script
prints a few note lines and, last, one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json, or with --trace 1 its per-layer metrics, whose spans go to a
side file under .bench_build/trace/).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / '.bench_build'
WORKLOADS = ('saxs_tree', 'sql_mix', 'corpus_mix')
TABLES = HERE / 'tables' / 'sf0.01'
# The throughput collector with fixed generation sizes: the JVM's resident
# peak (peak_rss_mb) then follows the work done, not GC timing, which under
# the default adaptive collector moved it by a third between identical runs.
JVM_HEAP = ['-XX:+UseParallelGC', '-XX:-UseAdaptiveSizePolicy',
            '-Xms3g', '-Xmx3g', '-Xmn512m']
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170  # the whole run, build excluded, must end within 180 s


def die(msg, code=2):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [ROOT / 'build.sbt', ROOT / 'project' / 'build.properties',
             ROOT / 'src' / 'main', HERE / 'build.sbt',
             HERE / 'project' / 'build.properties', HERE / 'src']
    for r in roots:
        for p in sorted([r] if r.is_file() else r.rglob('*')):
            if p.is_file():
                h.update(str(p.relative_to(ROOT)).encode() + b'\0' + p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark JVM code; returns the JVM options and classpath."""
    for need in (ROOT / 'build.sbt', ROOT / 'src' / 'main' / 'scala',
                 ROOT / 'scripts' / 'make_h5_fixtures.py'):
        if not need.exists():
            die(f'{need.relative_to(ROOT)} not found: run from a checkout of the repository')
    launch = HERE / 'target' / 'launch.txt'
    stamp_file = BUILD / 'build.stamp'
    stamp = source_stamp()
    if not (launch.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        BUILD.mkdir(exist_ok=True)
        env = dict(os.environ)
        env.setdefault('COURSIER_MODE', 'offline')
        with open(BUILD / 'build.log', 'w') as log:
            r = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true',
                                '-Dsbt.offline=true', 'launcher'],
                               cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0 or not launch.exists():
            die('build failed, see .bench_build/build.log')
        stamp_file.write_text(stamp)
    lines = launch.read_text().splitlines()
    return lines[:-1], lines[-1]


def tree_for(seed):
    """The generated tree for `seed`, made once per checkout and generator."""
    sys.path.insert(0, str(HERE))
    import gen_tree
    gen = hashlib.sha256()
    for f in (HERE / 'gen_tree.py', ROOT / 'scripts' / 'make_h5_fixtures.py'):
        gen.update(f.read_bytes())
    tree = BUILD / 'trees' / f'{gen.hexdigest()[:12]}-seed{seed}'
    if not (tree / 'truth.json').exists():
        tmp = tree.with_name(tree.name + '.tmp')
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        gen_tree.generate(tmp, seed)
        shutil.rmtree(tree, ignore_errors=True)
        tmp.rename(tree)
    return tree


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / 'BENCHMARK.json'
    if not spec_file.exists():
        die('BENCHMARK.json not found: run from the root of a checkout')
    spec = json.loads(spec_file.read_text())
    jvm_opts, classpath = build()
    t_built = time.monotonic()

    run_id = f'{a.workload}-seed{a.seed}-trace{a.trace}'
    work = BUILD / 'work' / run_id
    shutil.rmtree(work, ignore_errors=True)
    (work / 'tmp').mkdir(parents=True)
    (BUILD / 'trace').mkdir(exist_ok=True)
    result = work / 'result.json'
    trace_file = BUILD / 'trace' / f'{run_id}.json'
    args = ['--workload', a.workload, '--seconds', str(a.seconds),
            '--trace', str(a.trace), '--work', str(work),
            '--result', str(result), '--trace-file', str(trace_file)]
    if a.workload == 'saxs_tree':
        args += ['--tree', str(tree_for(a.seed)),
                 '--pipe', str(ROOT / 'src/test/resources/h5/pipe'),
                 '--golden', str(ROOT / 'src/test/resources/golden')]
    else:
        args += ['--tables', str(TABLES), '--expected', str(HERE / 'expected_rows.json')]

    cmd = ['java', *jvm_opts, *JVM_HEAP,
           f'-Dlog4j2.configurationFile={HERE / "log4j2.properties"}',
           f'-Djava.io.tmpdir={work / "tmp"}', '-cp', classpath, 'perfbench.Main', *args]
    budget = RUN_TIMEOUT_S - (time.monotonic() - t_built)
    log_path = work / 'jvm.log'
    with open(log_path, 'w') as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f'benchmark JVM exceeded the run budget, see {log_path.relative_to(ROOT)}', 1)
    if code != 0 or not result.exists():
        sys.stderr.write(log_path.read_text()[-4000:])
        die(f'benchmark JVM exited with {code}', 1)

    res = json.loads(result.read_text())
    declared = spec['per_layer'] if a.trace else spec['end_to_end']
    metrics, missing = {}, []
    for m in declared:
        v = res['metrics'].get(m['name'])
        if v is None:
            if not a.trace:
                die(f"end-to-end metric {m['name']} was not measured", 1)
            missing.append(m['name'])  # a layer this workload does not use
            v = 0.0
        metrics[m['name']] = {'value': v, 'unit': m['unit']}
    notes = res['notes']
    passes = notes['passes']
    times = ', '.join(f"{p['seconds']:.2f}s" + ('*' if p['traced'] else '') for p in passes)
    print(f'# {a.workload} seed={a.seed}: {len(passes)} passes ({times}; * = traced), '
          f'set-up {notes["setup_s"]:.2f}s')
    if not a.trace:
        print(f'# op_tail_s is p{notes["op_tail_percentile"]:.1f} of '
              f'{notes["op_samples"]} warm op samples')
    print(f'# output checks: {res["attempted"] - res["failed"]}/{res["attempted"]} ops correct')
    for e in notes.get('errors', []):
        print(f'# FAILED {e}')
    if a.trace:
        print(f'# tracing overhead {notes["trace_overhead_s"]:.3f} s per pass; spans in '
              f'{trace_file.relative_to(ROOT)}; not exercised here: {", ".join(missing) or "none"}')
    print(f'# run took {time.monotonic() - t_start:.1f} s')
    print(json.dumps({'correct': bool(res['correct']), 'attempted': int(res['attempted']),
                      'failed': int(res['failed']), 'metrics': metrics}))


if __name__ == '__main__':
    main()
