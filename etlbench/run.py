#!/usr/bin/env python3
"""Block-follower benchmark entry point (see etlbench/README.md).

    python3 etlbench/run.py --workload follow --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (output under .bench_build/etlbench/);
later runs reuse that build while the sources are unchanged. The
benchmark itself runs in one JVM launched with plain `java`; its last
stdout line is the result JSON, which this script checks and prints last.
Exits non-zero, printing no result, if the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, '.bench_build', 'etlbench')
SOURCES = [os.path.join(ROOT, 'src', 'main', 'scala'),
           os.path.join(ROOT, 'build.sbt'),
           os.path.join(BENCH, 'src', 'main'),
           os.path.join(BENCH, 'build.sbt'),
           os.path.join(BENCH, 'project', 'build.properties')]
BUILD_TIMEOUT_S = 800
# follow and backfill runs take under a minute; the sweep takes minutes
RUN_TIMEOUT_S = {'sweep': 1500}
RESULT_KEYS = {'correct', 'attempted', 'failed', 'metrics'}


def fail(msg):
    print(f'etlbench: {msg}', file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of every source file's path, size and mtime."""
    h = hashlib.sha256()
    for src in SOURCES:
        if not os.path.exists(src):
            fail(f'missing {os.path.relpath(src, ROOT)}: run from a full '
                 'checkout of the repository')
        paths = [src] if os.path.isfile(src) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f'{os.path.relpath(p, ROOT)}:{st.st_size}:'
                     f'{st.st_mtime_ns}\n'.encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and always wait for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Build if a source changed; return the classpath and JVM options
    the build recorded."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, 'stamp')
    cp_file = os.path.join(BUILD, 'classpath.txt')
    opts_file = os.path.join(BUILD, 'jvmopts.txt')

    def recorded():
        with open(cp_file) as f, open(opts_file) as g:
            return f.read().strip(), g.read().split()

    if all(map(os.path.exists, (cp_file, opts_file, stamp_file))):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return recorded()
    os.makedirs(BUILD, exist_ok=True)
    # sbt's global base (server sockets, the compiler bridge) under the
    # build directory too; its launcher and the dependency cache are read
    # from the toolchain's home
    cmd = ['sbt', '--batch', '-Dsbt.log.noformat=true',
           '-Dsbt.server.autostart=false',
           f'-Dsbt.global.base={os.path.join(BUILD, "sbt-global")}',
           'compile', 'writeClasspath']
    try:
        code, _ = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH,
                            stdout=sys.stderr, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f'build timed out after {BUILD_TIMEOUT_S} s')
    if code != 0 or not (os.path.exists(cp_file) and
                         os.path.exists(opts_file)):
        fail(f'build failed (sbt exit {code})')
    with open(stamp_file, 'w') as f:
        f.write(stamp)
    return recorded()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=int, default=16)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath, jvm_opts = build()
    work = os.path.join(BUILD, 'work', args.workload)
    tmp = os.path.join(BUILD, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    if args.trace:
        # processBatch prints its phase legs under this flag
        env['GRAFT_INGEST_TIMING'] = '1'
    else:
        env.pop('GRAFT_INGEST_TIMING', None)
    # a fixed heap (reserved, not pre-touched), a fixed young generation
    # and a fixed marking threshold: the collector then never sizes the
    # heap or starts marking by how long its pauses take, so the pages the
    # run touches, its peak resident set, follow what the program keeps
    cmd = ['java', *jvm_opts, '-Xms2g', '-Xmx2g', '-Xmn512m',
           '-XX:-G1UseAdaptiveIHOP', f'-Djava.io.tmpdir={tmp}',
           '-Dspark.ui.enabled=false', '-cp', classpath, 'etlbench.Main',
           '--workload', args.workload, '--seed', str(args.seed),
           '--seconds', str(args.seconds), '--trace', str(args.trace),
           '--work', work]
    try:
        timeout = RUN_TIMEOUT_S.get(args.workload, 170)
        code, out = run_group(cmd, timeout, cwd=ROOT, env=env,
                              stdout=subprocess.PIPE, text=True,
                              stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f'run timed out after {timeout} s')
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        fail(f'benchmark exited with {code}')
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(f'last line is not a result: {lines[-1][:200]}')
    if set(result) != RESULT_KEYS:
        fail(f'result keys {sorted(result)}')
    if args.workload == 'sweep':
        check_sweep(result, os.path.join(work, 'out'))
    print(json.dumps(result), flush=True)


def check_sweep(result, out_dir):
    """The sweep's output check: every listed query's result must digest
    to its committed oracle digest. A query that failed has no result, so
    failed = the number of listed queries without a matching result."""
    sys.path.insert(0, os.path.join(BENCH, 'sweep'))
    import digest
    with open(os.path.join(BENCH, 'sweep', 'queries.tsv')) as f:
        names = [line.split('\t')[0] for line in f if line.strip()]
    expected = digest.load_expected(
        os.path.join(BENCH, 'sweep', 'expected.json'))
    bad = digest.check(out_dir, names, expected)
    for name, why in bad:
        print(f'# wrong answer: {name}: {why}')
    result['failed'] = len(bad)
    result['correct'] = not bad


if __name__ == '__main__':
    main()
