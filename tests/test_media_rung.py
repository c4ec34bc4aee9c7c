"""GB media rung as a regression GATE (r11 verdict task 8).

The r11 rung gave the multimodal path its first non-toy numbers (1.09 GB
of real stdlib PNGs: ingest 484 MB/s, webdataset export 441 MB/s
byte-identical, sampled decode pixel-exact). These tests re-run the same
rung via tools/bench_media_rung.run_rung and pin floors well under the
measured values, so the numbers cannot silently regress:

- ingest (binaryFile + max_bytes guard) at or above an opt-in MB/s floor
  (the original fixed floor was 300 MB/s),
- export shards byte-identical across two writes (sha256-sampled),
- the planted oversize blob is the one guarded row,
- the sampled decode roundtrip is pixel-exact (asserted inside the rung).

Marked `slow`: ~1 GB of I/O, a few minutes of wall. Deselect with
`-m "not slow"` for quick iteration; the full suite runs it. The rung
runs ONCE per module (a module-scoped fixture) and both tests read its
metrics.

The CORRECTNESS invariants (payload >= 1 GB, guarded row, identical
shards, decode) gate unconditionally in test_media_rung_gb_gate. The
MB/s floor is host-dependent (r12 advice: an absolute threshold flakes
on slower or busy boxes with correctness unaffected; the r14 driver box
measured ~1/3 the reference box's per-core speed while QUIET, so a load
waiver alone is not enough — a wall-clock floor inside the correctness
suite is flaky by construction on a slow-but-idle host). The floor
therefore lives in its own OPT-IN test, test_media_rung_mbps_floor: set
SPARK_GRAFT_MEDIA_MBPS_FLOOR to a positive MB/s value to enforce it
(calibrated boxes only); unset or 0 skips it. Even when opted in, it is
waived on a busy host (loadavg above half the cores), with the measured
throughput in the skip message.
"""

from __future__ import annotations

import os

import pytest

from tools.bench_media_rung import run_rung

MBPS_FLOOR = float(os.environ.get("SPARK_GRAFT_MEDIA_MBPS_FLOOR", "0"))


@pytest.fixture(scope="module")
def rung_metrics(spark):
    # the shared session fixture keeps the rung on the suite's Spark
    # config; run_rung's own get_spark() resolves to the same singleton
    return run_rung(5500, 256)


@pytest.mark.slow
def test_media_rung_gb_gate(rung_metrics):
    assert rung_metrics["payload_gb"] >= 1.0
    assert rung_metrics["guarded_rows"] == 1
    assert rung_metrics["export_identical_shards"] >= 8
    assert rung_metrics["decoded_ok"] >= 50


@pytest.mark.slow
@pytest.mark.skipif(
    MBPS_FLOOR <= 0,
    reason="MB/s floor not opted in (SPARK_GRAFT_MEDIA_MBPS_FLOOR unset/0)",
)
def test_media_rung_mbps_floor(rung_metrics):
    # a wall-clock floor in the correctness suite flakes on slow-but-idle
    # hosts (r14 VERDICT item 1), so it is opt-in and still waived on a
    # loaded box
    load = os.getloadavg()[0]
    if load > (os.cpu_count() or 8) / 2:
        pytest.skip(
            f"loadavg {load:.1f} — MB/s floor waived on a busy host; "
            f"measured {rung_metrics['ingest_mbps']:.0f} MB/s"
        )
    assert rung_metrics["ingest_mbps"] >= MBPS_FLOOR, rung_metrics
