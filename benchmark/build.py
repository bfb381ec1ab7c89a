#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's JVM side (`benchmark/src`)
using the Scala compiler that ships in Spark's `jars` directory, the same jars
the program's sbt build compiles against.

The classes land in `benchmark/.build/<source hash>/classes` and are reused
while no source changes. Run it on its own to build ahead of a run:

    python3 benchmark/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, 'src', 'main', 'scala')
BENCH_SRC = os.path.join(BENCH, 'src')
BUILD = os.path.join(BENCH, '.build')


class BuildError(Exception):
    pass


def spark_jars():
    """The directory holding Spark's jars: `$SPARK_HOME/jars`, else the
    `unmanagedBase` the program's build.sbt compiles against."""
    if 'SPARK_HOME' in os.environ:
        jars = os.path.join(os.environ['SPARK_HOME'], 'jars')
    else:
        try:
            with open(os.path.join(ROOT, 'build.sbt')) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError('set SPARK_HOME: no unmanagedBase in build.sbt')
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, 'spark-sql_*.jar')):
        raise BuildError(f'no Spark jars in {jars}; set SPARK_HOME')
    return jars


def sources():
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith('.scala')]
    if not any(f.startswith(PROGRAM_SRC + os.sep) for f in found):
        raise BuildError(f'no program sources under {PROGRAM_SRC}')
    return sorted(found)


def build():
    """Returns the classes directory, compiling first if the sources changed."""
    srcs = sources()
    digest = hashlib.sha1()
    for f in srcs:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            digest.update(fh.read())
    out = os.path.join(BUILD, digest.hexdigest()[:16])
    classes = os.path.join(out, 'classes')
    if os.path.exists(os.path.join(out, 'ok')):
        return classes
    jars = spark_jars()
    tmp = f'{out}.tmp{os.getpid()}'
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, 'classes'))
    cp = os.path.join(jars, '*')
    cmd = ['java', '-Xss8m', '-Xmx2g', '-XX:-UsePerfData', '-cp', cp, 'scala.tools.nsc.Main',
           '-nowarn', '-d', os.path.join(tmp, 'classes'), '-classpath', cp] + srcs
    log_path = os.path.join(tmp, 'compile.log')
    with open(log_path, 'w') as log:
        rc = subprocess.call(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        with open(log_path) as log:
            tail = log.read()[-4000:]
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f'scalac failed ({rc}):\n{tail}')
    for old in glob.glob(os.path.join(BUILD, '*')):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, 'ok'), 'w').close()
    return classes


if __name__ == '__main__':
    try:
        print(build())
    except BuildError as e:
        sys.exit(f'build failed: {e}')
