#!/usr/bin/env python3
"""Run the benchmark's own tests from the repository root:

    python3 perfbench/tests/run_tests.py

Python tests (tail helper, generators) run under unittest; the Scala
self-test (payload determinism, emulator protocol against the production
HTTP fetchers, call-site attribution) is compiled against the same build
run.py uses and run in a small local Spark session.
"""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import run  # noqa: E402


def main():
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    py_ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()

    root = os.getcwd()
    jars = run.spark_jars(root)
    classpath = run.build(root, jars)
    out = os.path.join(os.path.dirname(classpath[0]), "tests")
    run.scalac(jars, classpath, out, [os.path.join(HERE, "SelfTest.scala")])
    work = os.path.join(root, ".bench_work", "selftest")
    os.makedirs(work, exist_ok=True)
    cmd = run.jvm([out] + classpath, work, [])
    cmd[cmd.index("perfbench.Main")] = "perfbench.SelfTest"
    try:
        scala_ok = subprocess.run(cmd, cwd=work, env=dict(os.environ, SPARK_LOCAL_DIRS=work)).returncode == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if py_ok and scala_ok else 1)


if __name__ == "__main__":
    main()
