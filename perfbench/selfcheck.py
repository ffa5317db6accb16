"""Self-check of the benchmark, on tiny corpora (a few minutes on 4 cores).

Run from the repository root:

    python3 perfbench/selfcheck.py

It asserts that

- every workload, untraced and traced, exits 0, passes its output
  check and emits exactly the metrics ``BENCHMARK.json`` names;
- one injected wrong output row makes ``failed`` greater than 0;
- in a directory holding only ``BENCHMARK.json`` and the benchmark, the
  benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
TINY_ROWS = {"crawl_parse": 408, "textlayer_bulk": 400}


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, str]:
    """Run the benchmark found under ``cwd`` from ``cwd``."""
    cmd = [
        sys.executable,
        os.path.join(cwd, "perfbench", "run.py"),
        "--workload", workload,
        "--seed", "3",
        "--seconds", "1",
        "--trace", str(trace),
        "--rows", str(TINY_ROWS[workload]),
        *extra,
    ]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    return p.returncode, p.stdout


def _result(stdout: str) -> dict:
    lines = stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else {}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            code, out = _run(wl, trace)
            res = _result(out) if code == 0 else {}
            got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
            tag = f"{wl} trace={trace}"
            if code != 0:
                problems.append(f"{tag}: exit code {code}")
                continue
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                wrong = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                problems.append(f"{tag}: missing {missing} extra {extra} wrong units {wrong}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{tag}: output check failed: {res}")
            print(f"ok {tag}: {len(got)} metrics, attempted {res['attempted']}", flush=True)

    first = spec["workloads"][0]["name"]
    code, out = _run(first, 0, "--inject-fault")
    res = _result(out) if code == 0 else {}
    if not (res.get("failed", 0) > 0 and res.get("correct") is False):
        problems.append(f"injected fault not caught: exit {code}, {res}")
    else:
        print(f"ok injected fault: failed {res['failed']} of {res['attempted']}", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path),
            os.path.join(bare, path),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    code, out = _run(first, 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or out.strip():
        problems.append(f"bare directory: exit {code}, stdout {out[-200:]!r}")
    else:
        print(f"ok bare directory: exit {code}", flush=True)

    for p in problems:
        print("FAIL", p)
    print("selfcheck", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
