"""Self-test of the benchmark's own checks.

    python3 lakebench/selftest.py

* The same seed makes byte-identical bags and tables; another seed makes
  different ones.
* A planted wrong output (a lost topic_messages file; a query result
  missing a row) makes the run report ``correct: false`` and ``failed > 0``.
* No JVM or Python worker that a run started is alive after it exits.

Exits 0 when every check holds. Takes a few minutes: it makes two runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def _digest_dir(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def check_inputs() -> list[str]:
    import ingest
    import tables

    problems = []
    for seed in (1, 2):
        a, b = ingest.schedule(seed), ingest.schedule(seed)
        if a != b:
            problems.append(f"schedule({seed}) differs between calls")
    blobs = {}
    for seed in (1, 2):
        for tick in ingest.schedule(seed)[:2]:
            for b, kind in tick["land"]:
                one = ingest.bag_blob(b, kind, tick["cut"] or 0.5)
                if one != ingest.bag_blob(b, kind, tick["cut"] or 0.5):
                    problems.append(f"bag {b} {kind} is not byte-identical")
                blobs.setdefault(seed, []).append(one)
    if any(x == y for x, y in zip(blobs[1], blobs[2])):
        problems.append("seeds 1 and 2 land an identical bag")
    with tempfile.TemporaryDirectory(dir=harness.WORK) as tmp:
        digests = {}
        for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
            tables.write_tables(os.path.join(tmp, tag), seed)
            digests[tag] = _digest_dir(os.path.join(tmp, tag))
    if digests["a"] != digests["b"]:
        problems.append("tables for one seed differ")
    if digests["a"] == digests["c"]:
        problems.append("tables for seeds 1 and 2 are identical")
    return problems


def _survivors() -> list[int]:
    """Processes started with a run's environment (their TMPDIR is the
    benchmark's) that are still alive."""
    marker = f"TMPDIR={os.path.join(harness.WORK, 'tmp')}".encode()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if marker in env:
            found.append(int(name))
    return found


def check_planted(workload: str) -> list[str]:
    out = subprocess.run(
        [sys.executable, os.path.join(harness.HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "40", "--trace", "0", "--plant-fault"],
        capture_output=True, text=True, timeout=600,
    )
    problems = []
    if out.returncode != 0:
        return [f"{workload}: run failed: {out.stderr[-2000:]}"]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if result["correct"] or result["failed"] == 0:
        problems.append(f"{workload}: a planted fault went unnoticed: {result}")
    left = _survivors()
    if left:
        problems.append(f"{workload}: processes {left} outlived the run")
    return problems


def main() -> int:
    sys.path.insert(0, harness.ROOT)
    os.makedirs(harness.WORK, exist_ok=True)
    problems = check_inputs()
    for workload in ("ingest_tick", "headline_queries"):
        problems += check_planted(workload)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
