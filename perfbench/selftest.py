"""Self-test of the benchmark and its correctness gate.

    python3 perfbench/selftest.py [workload ...]

1. The gate's rank comparison on constructed lists: the right ranking and a
   reordering inside a score tie pass; two swapped ranks and a wrong score
   fail.
2. Every named workload (default: all) at ``--scale tiny``, untraced and
   traced: the run exits 0, its gate passes, and every metric of
   BENCHMARK.json prints with its unit.
3. One tiny run with ``--perturb`` (ranks 1 and 2 of one result swapped):
   the gate must fail and the run report ``correct: false``.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg: str) -> None:
    print(f"selftest FAILED: {msg}")
    sys.exit(1)


def check_rank_compare() -> None:
    sys.path[:0] = [ROOT, HERE]
    from gate import ranks_match

    want = [("d9", 3.0), ("d8", 2.0), ("d7", 2.0), ("d1", 1.0)]
    ok = [("d9", 3.0, 1), ("d8", 2.0, 2), ("d7", 2.0, 3)]
    if not ranks_match(ok, want, 3):
        fail("the oracle's own ranking was rejected")
    tie = [("d9", 3.0, 1), ("d7", 2.0, 2), ("d8", 2.0, 3)]
    if not ranks_match(tie, want, 3):
        fail("a reordering inside a score tie was rejected")
    swapped = [("d8", 3.0, 1), ("d9", 2.0, 2), ("d7", 2.0, 3)]
    if ranks_match(swapped, want, 3):
        fail("two swapped ranks were accepted")
    wrong_score = [("d9", 3.1, 1), ("d8", 2.0, 2), ("d7", 2.0, 3)]
    if ranks_match(wrong_score, want, 3):
        fail("a wrong score was accepted")
    print("selftest: rank comparison ok")


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        fail(f"{' '.join(cmd[2:])} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_rank_compare()
    names = argv or sorted({w["name"] for w in spec["workloads"]} | {"ingest_segments"})
    for w in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                fail(f"{w} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{w} trace={trace}: gate failed on an unperturbed run: {res}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    fail(f"{w} trace={trace}: metric {m['name']} missing or without unit {m['unit']}: {got}")
            print(f"selftest: {w} trace={trace} ok ({len(spec[key])} metrics, {res['attempted']} attempted)")
    res = run(names[0], 0, "--perturb")
    if res["correct"] or res["failed"] < 1:
        fail(f"the gate passed a result with two ranks swapped: {res}")
    print(f"selftest: perturbed result fails the gate ({res['failed']} of {res['attempted']} failed)")
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
