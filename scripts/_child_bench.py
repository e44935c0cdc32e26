"""Scaffolding for the two-parallelism scaling script
bench_paradedup_scale.py: launch a child python that prints one
``SCALING_RESULT {json}`` line, parse it, and keep the fastest of N
fresh-JVM reps, with the subprocess protocol (marker, timeout, error
surfacing) in one place."""

from __future__ import annotations

import json
import subprocess
import sys

_MARKER = "SCALING_RESULT "


def run_child(code: str, label: str, timeout: int = 3600) -> dict:
    """Run ``code`` in a fresh interpreter; return its parsed
    SCALING_RESULT line.  Raises with captured output tails if the
    child never printed one (crash, OOM, import error)."""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    for line in out.stdout.splitlines():
        if line.startswith(_MARKER):
            return json.loads(line[len(_MARKER):])
    raise RuntimeError(
        f"no result from {label}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )


def best_of(reps: int, code: str, label: str, timeout: int = 3600) -> dict:
    """Fastest (min wall_s) of ``reps`` fresh-JVM runs of ``code``."""
    best = None
    for _ in range(reps):
        r = run_child(code, label, timeout=timeout)
        if best is None or r["wall_s"] < best["wall_s"]:
            best = r
    return best
