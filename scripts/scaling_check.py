"""N->4N scaling check through spark-submit --py-files (BASELINE.json).

The paper's rule is throughput efficiency >= 0.8 between N and 4N
executors. On one host the stand-in is the identical extraction job
(`scripts/extract_job.py`, warmup excluded) submitted as local[N]
pinned by taskset to N cores and as local[4N] pinned to 4N cores, with
N = nproc / 4.

    python scripts/scaling_check.py [SF_DIR] [REPLICATE] [PAIRS]

The two legs run in interleaved pairs, alternating which goes first so
a monotone drift in host speed biases half the pairs each way. The
bench.py host-capacity probe brackets every pair. Efficiency is the
median pair ratio / 4, raw: no timing is scaled. Prints one JSON line
and writes it to BENCH/scaling_{N}x{4N}.json. Exit status: 0 pass,
1 below 0.8, 3 the run failed stability_reasons().
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shlex
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
TARGET = 0.8


def stability_reasons(calibs: list[float], ratios: list[float]) -> list[str]:
    """Why this run cannot be trusted, or [] if it can.
    (1) Calibration flatness: a co-tenant collapse mid-run makes every
    pair measure the neighbour VM (observed: 4.7e8 -> 1.95e8 within one
    run). (2) Physical sanity of the pair ratios: a burst can land
    inside one leg and recover before the next probe, so every ratio
    must lie in (1.0, 4.4] with a spread of at most 1.8x (4N cores
    slower than N is impossible without interference)."""
    reasons = []
    if calibs and min(calibs) < 0.75 * max(calibs):
        reasons.append(
            f"calibration swing {min(calibs):.2e}-{max(calibs):.2e}"
        )
    if ratios and (
        min(ratios) <= 1.0
        or max(ratios) > 4.4
        or max(ratios) > 1.8 * min(ratios)
    ):
        reasons.append(
            f"pair ratios {[round(r, 2) for r in ratios]} outside the "
            "physical gate (each must be in (1.0, 4.4], spread <= 1.8x)"
        )
    return reasons


def _submit(cpus: list[int], zip_path: pathlib.Path, local_dir: str,
            sf_dir: str, replicate: int) -> dict:
    cmd = [
        "taskset", "-c", ",".join(map(str, cpus)),
        "spark-submit",
        "--master", f"local[{len(cpus)}]",
        "--driver-memory", "2g",
        "--conf", f"spark.local.dir={local_dir}",
        "--py-files", str(zip_path),
        str(ROOT / "scripts" / "extract_job.py"),
        "--sf-dir", sf_dir,
        "--replicate", str(replicate),
        "--total-cores", str(len(cpus)),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads([ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("replicate", nargs="?", type=int, default=32)
    ap.add_argument("pairs", nargs="?", type=int, default=3)
    args = ap.parse_args()
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]
    from bench import _host_capacity
    from make_pyfiles import build

    cpus = sorted(os.sched_getaffinity(0))
    small = len(cpus) // 4
    if small < 1:
        raise SystemExit(f"needs at least 4 cores, found {len(cpus)}")
    big = 4 * small

    docs_per_sec: dict[int, list[float]] = {small: [], big: []}
    ratios: list[float] = []
    calibs: list[float] = []
    n_docs = None
    with tempfile.TemporaryDirectory(prefix="scaling-check-") as tmp:
        zip_path = build(pathlib.Path(tmp) / "engine.zip")
        for i in range(args.pairs):
            calibs.append(_host_capacity())
            pair = {}
            for cores in (small, big) if i % 2 == 0 else (big, small):
                res = _submit(cpus[:cores], zip_path, tmp, args.sf_dir, args.replicate)
                pair[cores] = res["docs_per_sec"]
                n_docs = res["n_docs"]
            calibs.append(_host_capacity())
            for cores, rate in pair.items():
                docs_per_sec[cores].append(rate)
            ratios.append(pair[big] / pair[small])
            print(f"pair {i + 1}: {pair[small]} -> {pair[big]} docs/s, "
                  f"ratio {ratios[-1]:.3f}", file=sys.stderr)

    reasons = stability_reasons(calibs, ratios)
    eff = statistics.median(ratios) / 4
    result = {
        "command": shlex.join(["python", "scripts/scaling_check.py",
                               args.sf_dir, str(args.replicate), str(args.pairs)]),
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "cores_pair": [small, big],
        "n_docs": n_docs,
        "docs_per_sec": {str(c): v for c, v in docs_per_sec.items()},
        "pair_ratios": [round(r, 3) for r in ratios],
        "host_ops": calibs,
        "raw_scaling_efficiency": round(eff, 3),
        "target": TARGET,
        "unstable_reasons": reasons,
        "pass": not reasons and eff >= TARGET,
    }
    line = json.dumps(result)
    (ROOT / "BENCH" / f"scaling_{small}x{big}.json").write_text(line + "\n")
    print(line)
    if reasons:
        raise SystemExit(3)
    if not result["pass"]:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
