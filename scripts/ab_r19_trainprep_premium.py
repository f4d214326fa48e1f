"""A/B: reproduce the driver-context ref-scale trainprep premium
(VERDICT r18 #2) by naming its regime variable.

Evidence from the committed bench_history.jsonl (5 full runs):

  run       context  ref cal  ref MEM cal  trainprep  curate  neardup
  4eab645d  builder   0.204      0.406        44.0      13.1    22.1
  627a489b  builder   0.239      0.398        53.2      11.7    29.8
  9debf8ce  builder   0.248      0.399        51.7       7.9    22.4
  286ccca4  DRIVER    0.219      0.568        93.3      28.8    53.1

The CPU calibration sat flat across all five runs while the driver run's
MEMORY-regime calibration (persist+count of a ~400 MB generated dataset —
the cache-materialization shape) ran +42%. The trainprep lifecycle is
exactly that shape scaled up (localCheckpoint barriers over 605k full-text
docs), so the hypothesis is: sustained host memory-bandwidth/page-cache
pressure during the driver's replay window inflates checkpoint-bound work
~2x while register-bound CPU work is untouched.

This script tests that causally: run the reference-scale replay twice —
(A) standalone on the calm host, (B) with a synthetic memory-pressure
neighbor (N workers continuously rewriting multi-GiB buffers, the
bandwidth profile of a busy co-tenant) — and compare the calibrations and
the trainprep stages. Expected if the hypothesis holds: B's mem
calibration rises toward the driver run's 0.568+ while its CPU
calibration stays put, and B's trainprep stages inflate superlinearly
(the r18 driver shape). Prints one JSON line; paste the result into
OPTIMIZATION_r19.md.

Usage: python scripts/ab_r19_trainprep_premium.py
       [SPARK_GRAFT_AB_PRESSURE_GB, default 6 GiB/worker x 6 workers]
"""

from __future__ import annotations

import json
import multiprocessing
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from movie_recommendation_etl_spark.session import host_ram_bytes  # noqa: E402

PRESSURE_WORKERS = int(os.environ.get("SPARK_GRAFT_AB_WORKERS", "6"))
PRESSURE_GB = float(os.environ.get("SPARK_GRAFT_AB_PRESSURE_GB", "6"))

# Clamp total pressure to half the currently-AVAILABLE RAM (r20, ADVICE
# r19): the default 6x6 GiB of resident bytearrays on a small host invites
# the OOM killer taking down the replay (or the session) instead of merely
# stealing bandwidth — which would confound the A/B it exists to run.
# Worker count is reduced (never the per-worker size: the premium scales
# with per-worker working-set churn) until the total fits.
_avail = host_ram_bytes(available=True)
if _avail is not None:
    _avail_gb = _avail / (1 << 30)
    _budget = _avail_gb / 2
    if PRESSURE_WORKERS * PRESSURE_GB > _budget:
        _clamped = max(1, int(_budget // PRESSURE_GB))
        print(
            f"[ab] clamping pressure workers {PRESSURE_WORKERS} -> "
            f"{_clamped} ({PRESSURE_GB:g} GiB each) to stay under half of "
            f"{_avail_gb:.1f} GiB available RAM",
            file=sys.stderr,
        )
        PRESSURE_WORKERS = _clamped


def _pressure_worker(gb: float) -> None:
    """Continuously rewrite a gb-sized buffer: steals memory bandwidth and
    page-cache headroom without pinning a single CPU at 100% compute."""
    n = int(gb * (1 << 30))
    buf = bytearray(n)
    stripe = 1 << 22  # 4 MiB writes
    block = b"\xa5" * stripe
    i = 0
    while True:
        buf[i : i + stripe] = block
        i += stripe
        if i + stripe > n:
            i = 0


def run_replay(tag: str) -> dict:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_REF_PREV", None)  # no escalation samples
    t0 = time.monotonic()
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "bench_reference_scale.py"),
        ],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    wall = round(time.monotonic() - t0, 1)
    for line in reversed(proc.stdout.splitlines()):
        line = line.strip()
        if line.startswith("{") and "tfidf_fit_transform_sec" in line:
            ref = json.loads(line)
            return {
                "arm": tag,
                "wall_sec": wall,
                "calibration_sec": ref.get("calibration_sec"),
                "calibration_mem_sec": ref.get("calibration_mem_sec"),
                "loadavg_1m": ref.get("loadavg_1m"),
                "fit_sec": ref.get("tfidf_fit_transform_sec"),
                "trainprep_sec": ref.get("trainprep_sec"),
                "trainprep_stages": ref.get("trainprep_stages"),
                "trainprep_spread": ref.get("trainprep_spread"),
            }
    return {
        "arm": tag,
        "wall_sec": wall,
        "error": (proc.stderr or proc.stdout)[-500:],
    }


def main() -> int:
    out: dict = {
        "pressure_workers": PRESSURE_WORKERS,
        "pressure_gb_each": PRESSURE_GB,
    }
    out["a_calm"] = run_replay("calm")

    procs = [
        multiprocessing.Process(
            target=_pressure_worker, args=(PRESSURE_GB,), daemon=True
        )
        for _ in range(PRESSURE_WORKERS)
    ]
    for p in procs:
        p.start()
    time.sleep(10)  # let the buffers allocate and the regime settle
    try:
        out["b_mem_pressure"] = run_replay("mem_pressure")
    finally:
        for p in procs:
            p.terminate()
        for p in procs:
            p.join(timeout=10)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
