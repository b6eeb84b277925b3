#!/usr/bin/env python3
"""Composition-parity test of the perfbench chains.

    python3 perfbench/tests/test_parity.py

Generates tiny inputs for every workload with the benchmark's generator,
builds the engine, the harness and ``CompositionParity.scala``, and runs
each chain next to the matching ``graft.Cli`` verbs in one in-process
session. Exits 0 when every output matches.
"""

import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def main():
    work = build.BUILD_DIR / "parity"
    shutil.rmtree(work, ignore_errors=True)
    inputs = work / "input"
    (inputs / "tweet-chain").mkdir(parents=True)
    gen.tweets(7, 1500, inputs / "tweet-chain" / "tweets.csv")
    corpus = gen.corpus(7, 400, inputs / "release-arrivals")
    gen.arrivals(7, corpus, 3, 40, 6, inputs / "release-arrivals")
    classes = build.build()
    tests = build.BUILD_DIR / "test-classes"
    build.compile_scala(build.sources([HERE]), tests, [classes])
    tmp = work / "tmp"
    tmp.mkdir()
    cmd = (["java"] + run.JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
           build.classpath([tests, classes]), "graft.perfbenchparity.CompositionParity",
           str(inputs), str(work / "out"), str(min(run.nproc(), 4))])
    code = subprocess.run(cmd, cwd=work).returncode
    if code == 0:
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
