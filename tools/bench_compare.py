"""Compare two bench JSON records (BENCH_r{N}.json or bench.py output):
per-query delta vs the baseline run, flagging any query slower than
FLAG_RATIO x its baseline time (VERDICT r1 asks each round to publish
this side-by-side).

Usage: python tools/bench_compare.py BASE.json NEW.json
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

# bench.py reports per-query medians (of 3), so round-over-round noise
# is small enough to flag at 1.25x — single-shot timings needed 2.0x
# to stay quiet through local-mode jitter.
FLAG_RATIO = 1.25


def _load(path: str) -> dict:
    with open(path) as f:
        doc = json.load(f)
    if "parsed" in doc:  # driver-recorded BENCH_r{N}.json wraps the bench line
        if doc["parsed"] is None:
            # r9 regression: the bench line outgrew the driver's 2000-byte
            # stdout tail, so "parsed" is null and "tail" holds only a
            # head-truncated fragment — not reconstructable here.
            raise SystemExit(
                f"{path}: driver failed to parse the bench line "
                "(overflowed the 2000-byte tail capture); use the repo's "
                "BENCH_DETAIL.json from that round instead"
            )
        doc = doc["parsed"]
    if "reps_detail" not in doc and doc.get("detail_file"):
        # Compact stdout records (r10+) spill per-rep arrays to a side
        # file at the repo root; merge them back ONLY when the run ids
        # match — BENCH_DETAIL.json is overwritten every bench run, so
        # an unconditional merge grafts the LATEST round's rep arrays
        # onto any historical record and lets the noise-band test
        # misclassify a real regression as rep spread (ADVICE r10).
        # Pre-r11 records carry no run_id; for those the merge stays
        # best-effort (the detail file is equally unstamped).
        root = os.path.dirname(os.path.abspath(path))
        cands = []
        if doc.get("run_id"):
            # r12+: a run_id-stamped copy survives later rounds'
            # overwrites, so ANY two historical records can merge.
            cands.append(os.path.join(root, f"BENCH_DETAIL_{doc['run_id']}.json"))
        cands.append(os.path.join(root, doc["detail_file"]))
        for cand in cands:
            if not os.path.exists(cand):
                continue
            with open(cand) as f:
                detail = json.load(f)
            if doc.get("run_id") == detail.get("run_id"):
                doc = {**doc, **detail}
                break
            if doc.get("run_id") is None and detail.get("run_id") is None:
                doc = {**doc, **detail}
                break
        else:
            print(
                f"NOTE: {path}: no detail file with matching run_id "
                f"({doc.get('run_id')}); "
                "rep arrays not merged — noise-band test degraded to medians"
            )
    return doc


def _regime(doc: dict, path: str) -> str:
    """Records since round 5 embed "regime"; older driver records are
    classified by round number — the median-of-3 harness landed in r4
    (BASELINE.md 'Bench regime'), so r1-r3 were single-shot."""
    if "regime" in doc:
        return doc["regime"]
    m = re.search(r"r(\d+)", path)
    if m:
        return "single-shot" if int(m.group(1)) <= 3 else "median-noop"
    return "unknown"


def _canaries(base_doc: dict, new_doc: dict, key: str) -> tuple[float, float] | tuple[None, None]:
    """Both records' ``key`` canary when both are usable timings. A
    canary that is recorded but zero, negative or not a number cannot
    say whether the two records saw the same host speed, so that is
    reported instead of skipping the window check silently; records
    from before the canary existed carry none and stay quiet."""
    vals = {"base": base_doc.get(key), "new": new_doc.get(key)}
    if all(v is None for v in vals.values()):
        return None, None
    bad = {
        side: v for side, v in vals.items()
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v) or v <= 0
    }
    if bad:
        print(
            f"WARNING: unusable {key} canary ({', '.join(f'{s}={v!r}' for s, v in bad.items())}); "
            "cannot tell whether the two records ran in the same host-speed window."
        )
        return None, None
    return float(vals["base"]), float(vals["new"])


def main() -> int:
    base_doc, new_doc = _load(sys.argv[1]), _load(sys.argv[2])
    base, new = base_doc["queries"], new_doc["queries"]
    cb, cn = _canaries(base_doc, new_doc, "host_canary_s")
    if cb is not None and max(cb, cn) / min(cb, cn) > 1.3:
        print(
            f"WARNING: host-speed canaries differ {max(cb, cn) / min(cb, cn):.2f}x "
            f"(base {cb:.3f}s vs new {cn:.3f}s per 10M-iter loop) — the records "
            "were taken in different host-CPU windows (BASELINE.md documents a "
            "~2x swing); per-query ratios below reflect the host as much as the "
            "engine. Normalized totals: "
            f"base={sum(base.values()):.2f}s new={sum(new.values()) * cb / cn:.2f}s "
            "(new scaled by canary ratio)."
        )
    mb, mn = _canaries(base_doc, new_doc, "host_canary_mc_s")
    if mb is not None and max(mb, mn) / min(mb, mn) > 1.3:
        print(
            f"WARNING: MULTI-core canaries differ {max(mb, mn) / min(mb, mn):.2f}x "
            f"(base {mb:.3f}s vs new {mn:.3f}s for 8 concurrent 10M-iter loops) — "
            "multi-core throughput swings independently of the single-core canary "
            "on this VM (r12: a 0.37s 'fast' single-core window measured 2-4x slow "
            "on every 32-way stage); treat per-query ratios accordingly."
        )
    if _regime(base_doc, sys.argv[1]) != _regime(new_doc, sys.argv[2]):
        print(
            f"WARNING: cross-regime comparison — base is {_regime(base_doc, sys.argv[1])!r}, "
            f"new is {_regime(new_doc, sys.argv[2])!r}; medians of warm repeats drop first-run "
            "page-cache/codegen cost, so ratios below overstate improvement "
            "(see BASELINE.md 'Bench regime')."
        )
    # Per-rep arrays (bench.py "reps_detail", r7+) let a slowdown be
    # classified from the artifact alone: if either side's OWN rep
    # spread already covers the other side's median, the delta is
    # noise, not regression.
    detail_b = base_doc.get("reps_detail", {})
    detail_n = new_doc.get("reps_detail", {})

    def _band(q: str) -> tuple[float, float] | None:
        walls = (detail_b.get(q) or []) + (detail_n.get(q) or [])
        return (min(walls), max(walls)) if walls else None

    flagged = []
    print(f"{'query':<32} {'base_s':>8} {'new_s':>8} {'ratio':>6}")
    for q in sorted(set(base) | set(new)):
        b, n = base.get(q), new.get(q)
        if b is None or n is None:
            print(f"{q:<32} {b or '-':>8} {n or '-':>8}   (only one side)")
            continue
        ratio = n / b if b else float("inf")
        mark = ""
        if ratio > FLAG_RATIO:
            band = _band(q)
            if band and band[0] <= b <= band[1] and band[0] <= n <= band[1]:
                mark = "  (slower, within observed rep spread — noise)"
            else:
                mark = "  <-- SLOWER"
                flagged.append(q)
        print(f"{q:<32} {b:>8.3f} {n:>8.3f} {ratio:>6.2f}{mark}")
    print(f"total: base={sum(base.values()):.2f}s new={sum(new.values()):.2f}s; "
          f"{len(flagged)} flagged" + (f": {flagged}" if flagged else ""))
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
