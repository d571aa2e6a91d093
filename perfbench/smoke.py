"""Smoke test of the benchmark at its tiny size (sf0.001, a few hundred docs
or files, two repetitions of each pipeline call).

    python3 perfbench/smoke.py            # from the root of a checkout

For every workload it runs the benchmark untraced and traced and checks:

- the command exits 0 and its last stdout line is the result object with
  ``correct`` true and every end-to-end (untraced) or per-layer (traced)
  metric of BENCHMARK.json, each with its unit;
- two back-to-back repetitions of a pipeline call launched the same number
  of Spark jobs, so a memo or cache hit cannot pass silently.

Then it corrupts one expected fingerprint of each golden section and checks
that the command fails. Exits 0 when every check passed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = [sys.executable, os.path.join(HERE, "run.py")]
GOLDEN_SEED = 1
SECONDS = 10


def run(workload: str, trace: int, *extra: str) -> tuple[int, list[dict]]:
    cmd = RUN + ["--workload", workload, "--seed", str(GOLDEN_SEED), "--seconds", str(SECONDS),
                 "--trace", str(trace), "--size", "tiny", *extra]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return proc.returncode, lines


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for workload in ("registry-mix", "corpus-build", "extract-dir"):
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            rc, lines = run(workload, trace)
            result = lines[-1] if lines else {}
            expect(rc == 0 and result.get("correct") is True,
                   f"{workload} trace={trace}: exit 0 and correct")
            expect(set(result) == {"correct", "attempted", "failed", "metrics"},
                   f"{workload} trace={trace}: result keys")
            metrics = result.get("metrics", {})
            missing = [m["name"] for m in spec
                       if metrics.get(m["name"], {}).get("unit") != m["unit"]]
            expect(not missing and len(metrics) == len(spec),
                   f"{workload} trace={trace}: every metric with its unit (missing {missing})")
            if trace and workload != "registry-mix":
                per_rep = lines[0].get("per_rep_jobs", {}) if len(lines) > 1 else {}
                expect(bool(per_rep) and all(len(v) == 2 and v[0] == v[1] for v in per_rep.values()),
                       f"{workload}: back-to-back repetitions launch equal job counts {per_rep}")

    corrupted = json.loads(json.dumps(golden))
    for section in corrupted.values():
        fp = section["fp"]
        for key in fp:
            fp[key] = "0:000000000000"
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump(corrupted, f)
    try:
        for workload in ("registry-mix", "corpus-build", "extract-dir"):
            rc, lines = run(workload, 0, "--golden", f.name)
            expect(rc != 0 and bool(lines) and lines[-1].get("correct") is False,
                   f"{workload}: a corrupted expected fingerprint fails the command")
    finally:
        os.unlink(f.name)
    print(f"{len(failures)} failed" if failures else "all smoke checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
