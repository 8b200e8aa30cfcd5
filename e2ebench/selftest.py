"""Self-test of the benchmark at tiny input sizes.

    python3 e2ebench/selftest.py

Runs ``run.py`` as a subprocess per case and checks that:

- every workload passes its output checks on three seeds (31337 was
  not used while the benchmark was written);
- a deliberately wrong output (one ``n01`` row dropped; one ``d07``
  keeper dropped) is reported as a failed request;
- a traced ``upload`` run shows ``nlp_model.n01_lda_topics`` launching
  Spark jobs on every measured request, i.e. the LDA fit ran cold each
  time and no memo answered it, and prints its tracing overhead against
  the untraced run of the same seed made before it.

Exits 0 when every case holds.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
SEEDS = (1, 2, 31337)


def _run(workload: str, seed: int, trace: int = 0, seconds: int = 1, mutate: str | None = None):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--scale", "tiny"]
    if mutate:
        cmd += ["--mutate", mutate]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return None, None, p.stderr[-2000:], ""
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1]), "", p.stdout


def main() -> int:
    failures = []

    def case(name: str, ok: bool, why: str = "") -> None:
        print(f"{'PASS' if ok else 'FAIL'} {name}{'' if ok else ': ' + why}", flush=True)
        if not ok:
            failures.append(name)

    for workload in ("upload", "curate_search"):
        for seed in SEEDS:
            detail, result, err, _ = _run(workload, seed)
            ok = result is not None and result["correct"] and result["failed"] == 0
            case(f"{workload} seed {seed} passes its checks", ok,
                 err or json.dumps(detail and detail["issues"]))

    for workload, mutate in (("upload", "n01_drop_row"), ("curate_search", "d07_drop_keeper")):
        detail, result, err, _ = _run(workload, SEEDS[0], mutate=mutate)
        ok = result is not None and result["failed"] > 0 and detail["error_rate"] > 0
        case(f"{workload} with {mutate} reports error_rate > 0", ok, err or json.dumps(result))

    detail, result, err, stdout = _run("upload", SEEDS[0], trace=1, seconds=15)
    n01 = [r for r in (detail or {}).get("spans", []) if r["span"] == "nlp_model.n01_lda_topics"]
    ok = bool(n01) and all(r["jobs"] > 0 for r in n01)
    case("traced upload: n01 launches jobs on every request (cold fit)", ok,
         err or json.dumps([(r["request"], r["jobs"]) for r in n01]))
    overhead = re.search(r"^tracing_overhead_s .*$", stdout, re.M)
    case("traced upload prints its tracing overhead",
         bool(overhead) and "unavailable" not in overhead.group(0),
         err or (overhead.group(0) if overhead else "no tracing_overhead_s line"))

    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
