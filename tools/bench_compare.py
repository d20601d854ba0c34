"""Calibration-normalized bench comparison (VERDICT r4 item 3).

Rounds run on fresh VMs whose CPU speed varies 1.5-2x; raw per-query
seconds across rounds are not comparable. bench.py records
``host_calib.python_spin_sec`` (a fixed pure-Python workload) per run;
this tool compares two bench JSONs after dividing every wall time by the
run's own spin seconds — i.e. in units of "spin-equivalents", which
cancels uniform host speed differences.

Usage:
    python tools/bench_compare.py OLD.json NEW.json [--top 15]
Either file may be bench.py's own JSON or a per-round ``BENCH_r*.json``
that wraps it under ``parsed``.
Prints one JSON line: per-query normalized ratios (new/old), sorted by
regression, plus the headline aggregates.

r12 (VERDICT r11 item 3): bench.py now records the spin calibration
BEFORE and AFTER the measurements. A run whose two phases diverge more
than 20% was timed on a host that changed speed mid-run — its numbers
can't be normalized by any single spin value, so this tool marks the
whole comparison ``"unreliable": true`` (with the offending side's
drift) instead of letting a phase shift masquerade as per-query
regressions (r11 lost a full bench run to exactly that). The flag is
advisory: per-query ratios are still emitted so a reader can inspect
them, but nothing in a flagged run should be treated as a regression.

r13 (VERDICT r12 nit 3): rows under ``NOISE_FLOOR_SPINS`` spin-seconds
on BOTH sides are routed to a separate ``noise_band`` list — sub-second
rows ride the session's JIT phase (q8q21_profile_r12.json) and were
headlining the worst-list with 2× "regressions" the other measurement
frame refuted.
"""

from __future__ import annotations

import argparse
import json

#: intra-run pre/post spin divergence above which a run's timings are
#: not attributable to the code (mirrors bench.py's phase_stable bound)
PHASE_DRIFT_LIMIT = 1.2

#: noise floor in spin units (VERDICT r12 nit 3): a row whose wall time
#: is under this many spin-seconds on BOTH sides is dominated by JIT /
#: session-phase noise — r12's builder-frame "worst" list was eight
#: sub-second rows at 1.8-2.45× that the driver frame refuted, the same
#: q8/q21 JIT-phase pattern pinned in q8q21_profile_r12.json. Such rows
#: go to ``noise_band``, never the worst/best headline lists.
NOISE_FLOOR_SPINS = 1.5


def load(path: str) -> dict:
    with open(path) as f:
        data = json.load(f)
    data = data.get("parsed") or data
    spin = (data.get("host_calib") or {}).get("python_spin_sec")
    if not spin:
        raise SystemExit(
            f"{path}: no host_calib.python_spin_sec — cannot normalize"
        )
    return data


def phase_drift(data: dict) -> float | None:
    """The run's recorded pre/post spin divergence (None for pre-r12
    artifacts, which carried a single mid-run spin)."""
    hc = data.get("host_calib") or {}
    d = hc.get("phase_drift")
    if d is not None:
        return d
    pre, post = hc.get("python_spin_pre"), hc.get("python_spin_post")
    # explicit None checks (ADVICE r12): a recorded 0.0 spin is falsy
    # but present — it means a broken calibration, which must flag the
    # run as maximally drifted, not read as "no phase data"
    if pre is not None and post is not None:
        if min(pre, post) <= 0:
            return 1e9  # broken calibration: maximally drifted (finite
            # so the JSON output stays strict-parseable)
        return round(max(pre, post) / min(pre, post), 3)
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()
    old, new = load(args.old), load(args.new)
    so, sn = old["host_calib"]["python_spin_sec"], new["host_calib"][
        "python_spin_sec"
    ]
    common = sorted(set(old["queries"]) & set(new["queries"]))
    rows, noise = [], []
    for k in common:
        ra, rb = old["queries"][k], new["queries"][k]
        a, b = ra / so, rb / sn
        row = {
            "query": k,
            "old_s": round(ra, 3),
            "new_s": round(rb, 3),
            "old_norm": round(a, 2),
            "new_norm": round(b, 2),
            "ratio": round(b / a, 2) if a else None,
        }
        # sub-floor on BOTH sides → phase noise, not signal
        if ra < NOISE_FLOOR_SPINS * so and rb < NOISE_FLOOR_SPINS * sn:
            noise.append(row)
        else:
            rows.append(row)
    rows.sort(key=lambda r: -(r["ratio"] or 0))
    noise.sort(key=lambda r: -(r["ratio"] or 0))
    tot_old = sum(old["queries"][k] for k in common) / so
    tot_new = sum(new["queries"][k] for k in common) / sn
    drift_old, drift_new = phase_drift(old), phase_drift(new)
    unreliable = any(
        d is not None and d > PHASE_DRIFT_LIMIT
        for d in (drift_old, drift_new)
    )
    out = {
        "spin_old_s": so,
        "spin_new_s": sn,
        "host_speed_ratio": round(sn / so, 2),
        # intra-run pre/post spin divergence per side (None = pre-r12
        # artifact with a single spin sample); if either side exceeds
        # PHASE_DRIFT_LIMIT the whole comparison is flagged
        "phase_drift_old": drift_old,
        "phase_drift_new": drift_new,
        "unreliable": unreliable,
        # min-of-N runs (bench.py REPEATS) vs single-shot are not
        # noise-comparable — surface both sides' repeat counts so a
        # cross-round reader sees when that changed (r5: 1, r6+: 3)
        "repeats_old": old.get("repeats", 1),
        "repeats_new": new.get("repeats", 1),
        "common_queries": len(common),
        "total_norm_ratio": round(tot_new / tot_old, 2),
        "worst": rows[: args.top],
        "best": rows[-args.top:][::-1],
        # rows below NOISE_FLOOR_SPINS on both sides: ratios here are
        # session-phase artifacts (see q8q21_profile_r12.json), kept for
        # completeness but excluded from the headline lists above
        "noise_floor_spins": NOISE_FLOOR_SPINS,
        "noise_band": noise[: args.top],
        "noise_band_count": len(noise),
    }
    for key in (
        "stream_baseline_eps",
        "stream_forward_eps",
        "events_per_sec_stream",
    ):
        if key in old and key in new and old[key] and new[key]:
            # eps scales inversely with host speed: normalize by MULTIPLYING
            # by spin (slow host → bigger spin → credit back)
            out[f"{key}_norm_ratio"] = round(
                (new[key] * sn) / (old[key] * so), 2
            )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    main()
