#!/usr/bin/env python3
"""Build the benchmark and run the tests of its own code.

Usage, from the root of a checkout: python3 perfbench/test.py
"""
import sys
import time

import run


def main():
    jars = run.spark_jars()
    run.build(jars)
    tests = sorted((run.HERE / "src" / "test" / "scala").rglob("*.scala"))
    out = run.STATE / "test-classes"
    run.scalac(tests, out, jars, classpath=[run.CLASSES])
    run.call(run.java_cmd(jars, [str(out), str(run.CLASSES)])
             + ["perfbench.Tests", str(run.STATE), str(run.DATA), str(run.GOLDENS)],
             time.time() + 900, stdout=sys.stdout)


if __name__ == "__main__":
    main()
