#!/usr/bin/env python3
"""Self-test of the benchmark's checks, run from the repository root:

    python3 perfbench/selftest.py

1. The input generator is deterministic: the same seed gives the same
   content fingerprint, another seed a different one.
2. Deliberately wrong results are caught: a `serve` run with `--perturb 1`
   (see Main.perturbed) must come out incorrect, with an oracle mismatch,
   a result that changed between calls, and ingest verdicts that differ
   from the one-shot answer all reported.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402


def main():
    with tempfile.TemporaryDirectory(dir=os.path.join(os.path.dirname(HERE))) as d:
        a = gen.generate("serve", 7, os.path.join(d, "a"))["fingerprint"]
        b = gen.generate("serve", 7, os.path.join(d, "b"))["fingerprint"]
        c = gen.generate("serve", 8, os.path.join(d, "c"))["fingerprint"]
    assert a == b, "same seed, different inputs"
    assert a != c, "different seeds, same inputs"
    print("generator: deterministic per seed")

    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "serve",
                        "--seed", "1", "--seconds", "1", "--trace", "0", "--perturb", "1"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert not result["correct"] and result["failed"] > 0, result
    for expected in ("oracle mismatch", "result changed between calls",
                     "one-shot answer"):
        assert expected in p.stderr, f"perturbed run did not report: {expected}"
    print(f"checks: perturbed run caught ({result['failed']}/{result['attempted']} ops failed)")


if __name__ == "__main__":
    main()
