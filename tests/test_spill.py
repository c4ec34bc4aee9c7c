"""Spill-not-OOM under memory pressure — the dedup family's 100 TB claim
("disk-backed so it spills, never OOMs", operators/dedup.py) exercised
for real: the MinHash band self-join runs in a 1 g-driver session whose
execution memory (~35 MB/task) is far below the sort volume, and must
COMPLETE with nonzero spill metrics instead of dying.

The probe is a subprocess (tools/spill_probe.py) because driver heap and
spark.memory.fraction are JVM-start settings — the test session's JVM
cannot be shrunk in place. Measured numbers are recorded in PERF.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_band_join_spills_and_completes_under_memory_pressure():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "spill_probe.py")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"probe died (OOM?):\n{proc.stderr[-2000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    # unique signatures -> no band collisions: the probe measures SORT
    # pressure, not a pair blowup
    assert result["rows"] == 0
    # the join could not have fit: it must have spilled to finish
    assert result["memory_spilled_bytes"] > 0
    assert result["disk_spilled_bytes"] > 0


def test_substr_gram_pipeline_spills_and_completes_under_memory_pressure():
    """The ExactSubstr gram join — the heaviest shuffle family in the
    repo (8-byte gram hashes at every token position: ~12 M (g, doc_id,
    p) rows through count-groupBy, dup join-back, covered DISTINCT and
    the token anti-join) — must complete by spilling in the same starved
    1 g session. Measured (PERF.md): ~4.7 GB memory-spill / ~1.3 GB
    disk-spill, peak execution ~248 MB, all 200 k docs cleaned."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "spill_probe.py"), "substr"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"probe died (OOM?):\n{proc.stderr[-2000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    # every doc keeps at least its non-planted tokens -> all docs present
    assert result["rows"] == 200_000
    assert result["memory_spilled_bytes"] > 0
    assert result["disk_spilled_bytes"] > 0


def test_prefix_sum_window_spills_and_completes_under_memory_pressure():
    """The prefix-sum operator's within-bucket window sort — 16 M rows
    over 4 tasks (~100 MB/task against a ~35 MB budget) — must complete
    by spilling, and the answer must stay EXACT through the spill: with
    v=1 the running sum takes each value 1..n once, so SUM(cum) ==
    n(n+1)/2 is asserted inside the probe. Measured (PERF.md): ~774 MB
    memory-spill / ~177 MB disk-spill, peak execution ~100 MB."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "spill_probe.py"), "prefixsum"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"probe died (OOM?):\n{proc.stderr[-2000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["rows"] == 16_000_000  # checksum held through the spill
    assert result["memory_spilled_bytes"] > 0
    assert result["disk_spilled_bytes"] > 0


def test_ranged_prefix_sum_spills_and_completes_under_skew_pressure():
    """global_running_sum_ranged's documented worst case — half the mass
    tied on ONE order-key value, so range bucketing cannot split it and
    one bucket window-sorts ~5 M rows against a ~35 MB task budget —
    must complete by spilling with the answer exact (SUM(cum) ==
    n(n+1)/2 asserted inside the probe). Measured (PERF.md r9): ~648 MB
    memory-spill / ~74 MB disk-spill, hot bucket 5.03 M rows."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "spill_probe.py"), "prefixsum_ranged"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"probe died (OOM?):\n{proc.stderr[-2000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["rows"] == 10_000_000  # checksum held through the spill
    assert result["memory_spilled_bytes"] > 0
    assert result["max_bucket_rows"] >= 5_000_000  # the tie really degenerated


def test_setsim_join_spills_and_stays_exact_under_pressure():
    """The exact similarity self-join (retrieval.setsim_join_prefix) on
    160 k docs under the ~140 MB pool: every stage (size/freq groupBys,
    per-doc position window, prefix self-join, verify join) must spill
    rather than OOM, and the result must be EXACTLY the 4 000 planted
    J=1.0 clone pairs — correctness verified THROUGH the spill. Measured
    (PERF.md r9): ~2.9 GB memory-spill / ~0.8 GB disk-spill."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "spill_probe.py"), "setsim"],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, f"probe died (OOM?):\n{proc.stderr[-2000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["found_pairs"] == result["planted_pairs"] == 4_000
    assert result["memory_spilled_bytes"] > 0
    assert result["disk_spilled_bytes"] > 0
