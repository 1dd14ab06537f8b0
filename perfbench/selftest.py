"""Self-test of the benchmark at a tiny scale (``--sf 0.001``).

    python3 perfbench/selftest.py

1. Smoke: ``lakehouse_write`` prints every end-to-end metric of
   ``BENCHMARK.json`` with its unit, plus ``write_amp`` and ``failed_frac``,
   and passes its checks.
2. Traced smoke from another working directory with ``PYTHONPATH`` unset:
   ``llm_curation`` (Python-worker stages) still imports the package in
   Spark's workers, prints every per-layer metric and writes its spans.
3. Negative control: a planted wrong answer (a dropped row on
   ``etl_relational``, a flipped value on ``lakehouse_write``) is caught,
   ``correct`` turns false and ``failed_frac`` rises above 0.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from common import BUILD_DIR, HERE, ROOT


def run(workload: str, trace: int, plant: str | None = None, cwd: str = ROOT, env=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    if plant:
        cmd += ["--plant", plant]
    out = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def printed(lines: list[str], name: str, unit: str) -> bool:
    return any(ln.split()[:1] == [name] and ln.split()[2:3] == [unit] for ln in lines)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            problems.append(what)

    lines, res = run("lakehouse_write", 0)
    expect(res["correct"] and res["failed"] == 0, "lakehouse_write smoke passes its checks")
    for m in spec["end_to_end"]:
        got = res["metrics"].get(m["name"], {})
        expect(got.get("unit") == m["unit"] and printed(lines, m["name"], m["unit"]),
               f"end-to-end {m['name']} printed in {m['unit']}")
    expect(printed(lines, "write_amp", "count"), "write_amp printed as a count")
    expect(printed(lines, "failed_frac", "ratio"), "failed_frac printed")

    os.makedirs(BUILD_DIR, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    lines, res = run("llm_curation", 1, cwd=BUILD_DIR, env=env)
    expect(res["correct"], "llm_curation runs from another directory without PYTHONPATH")
    for m in spec["per_layer"]:
        got = res["metrics"].get(m["name"], {})
        expect(got.get("unit") == m["unit"] and printed(lines, m["name"], m["unit"]),
               f"per-layer {m['name']} printed in {m['unit']}")
    spans = [ln.split()[-1] for ln in lines if ln.startswith("spans written to")]
    expect(bool(spans) and os.path.isfile(os.path.join(ROOT, spans[0])), "span file written")

    for workload, plant in (("etl_relational", "drop_row"), ("lakehouse_write", "flip_value")):
        lines, res = run(workload, 0, plant=plant)
        frac = [ln for ln in lines if ln.startswith("failed_frac")]
        expect(not res["correct"] and res["failed"] > 0 and float(frac[0].split()[1]) > 0,
               f"planted {plant} on {workload} is caught ({res['failed']} of {res['attempted']} failed)")

    print("self-test " + ("passed" if not problems else f"FAILED: {len(problems)} checks"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
