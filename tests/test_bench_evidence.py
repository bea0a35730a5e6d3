"""Round 8 (VERDICT r7 #3/#7): the published scaling-evidence file
must never go stale against the measurements again.

Round 7 shipped fresh plan-shape and route-vs-kernel measurements in
SCALE.md/CLAUDE.md/commits while BENCH/BASELINE.md still ended at the
round-6 protocol note.  The mechanization: bench_scaling.py writes
BENCH/BASELINE.md together with a machine-readable twin
(BENCH/scaling_latest.json) in one run, and
tools/calibrate_route_cost.py writes BENCH/route_cost_calibration.json,
the route-vs-kernel evidence BENCH/BASELINE.md renders.  These asserts
fail loudly when the published file and its artifacts drift apart."""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(rel: str) -> str:
    with open(os.path.join(REPO, rel)) as f:
        return f.read()


def test_baseline_md_carries_every_evidence_section():
    md = _read("BENCH/BASELINE.md")
    for section in (
            "## Scaling efficiency, Plane B",
            "## Scaling, Plane A",
            "## Scaling, routed JSON plane",
            "## Plan shapes on a scan-bound source",          # r7
            "## Route-vs-kernel calibration (round 8",        # r8
            "## Machine controls",
    ):
        assert section in md, f"BENCH/BASELINE.md lost section {section!r}"


def test_baseline_md_matches_machine_readable_twin():
    """The twin is written in the same bench_scaling.py run as the md;
    its headline numbers must appear verbatim in the published file —
    a re-measure that skips regeneration (or a hand-edit of either
    side) breaks this."""
    md = _read("BENCH/BASELINE.md")
    j = json.loads(_read("BENCH/scaling_latest.json"))
    assert f"{j['kernel_efficiency']:.3f}" in md
    assert f"{j['control_efficiency']:.3f}" in md
    assert f"{j['shape_union_sec']:.2f}" in md
    assert f"{j['shape_masked_sec']:.2f}" in md
    assert f"{j['pages_per_sec_32']:,.0f}" in md
    # the ≥0.8 north-rule criterion, asserted on the artifact itself
    assert j["kernel_efficiency"] >= 0.8, j


def test_calibration_artifact_rendered_in_baseline():
    """The route-vs-kernel artifact must carry all three sweeps, and
    BENCH/BASELINE.md must render its table from the same artifact."""
    cal = json.loads(_read("BENCH/route_cost_calibration.json"))
    # the calibration artifact must carry all three sweeps with
    # parity-asserted runs
    assert len(cal["contracts"]) >= 8
    assert any(r["case"].startswith("representative")
               for r in cal["contracts"])
    assert len(cal["batch_sweep"]) >= 8
    assert len(cal.get("shape_decomposition", [])) >= 4
    # and the md must render the calibration table from the same
    # artifact (one representative spot value)
    md = _read("BENCH/BASELINE.md")
    rep = next(r for r in cal["contracts"]
               if r["case"] == "representative")
    assert f"{rep['route_vs_kernel']}×" in md
