#!/usr/bin/env python3
"""STANDING no-superlinear-slope gate (VERDICT r19 item 2).

Usage:
  slope_gate.py <anchor.json> [--max-slope 1.0] [--floor-sec 0.25]
                [--allow gate=reason ...]
  slope_gate.py --selftest

Reads a combined multi-scale anchor (combine_anchor.py
format: `queries_<leg>` maps plus `slopes_*` maps) and exits NONZERO
unless every invariant the anchor exists to prove actually holds:

  1. LEG COMPLETENESS — every gate present in one leg is present in
     every leg (a silently dropped gate reads as "covered" otherwise),
     and no leg reports failures.
  2. NO SUPERLINEAR SLOPE — every entry of every `slopes_*` map is
     <= --max-slope (default 1.0). Two escape hatches, both LOUD:
       - noise floor: a gate whose time in the SLOWER leg of that axis
         is under --floor-sec (default 0.25 s) WARNs instead of
         failing — sub-noise-floor gates measure the bracket protocol's
         floor, not the engine (the r19 verdict's own observation);
       - --allow gate=reason records a bounded-judgment entry: the
         violation prints as ALLOWED with the reason, and the reason
         is expected to live in SCALE.md/NOTES.md next to the anchor.
  3. CONTENTION — a leg whose `contended` flag is true WARNs (the
     combine already floors by the retime protocol; a contended leg's
     slopes are still printed but should be re-taken).

--selftest builds two in-memory toy anchors — one deliberately
superlinear, one clean — and exits 0 iff the superlinear one FAILS the
gate and the clean one PASSES it (the gate gating itself).
"""
import json
import re
import sys


def check(anchor, max_slope=1.0, floor_sec=0.25, allow=None):
    """Returns (problems, warnings) lists of strings."""
    allow = allow or {}
    problems, warnings = [], []
    legs = {k[len("queries_"):]: v for k, v in anchor.items()
            if k.startswith("queries_") and isinstance(v, dict)}
    if len(legs) < 2:
        problems.append(f"anchor has {len(legs)} queries_* legs; need >= 2")
        return problems, warnings
    all_gates = sorted(set().union(*[set(v) for v in legs.values()]))
    for leg, qs in sorted(legs.items()):
        missing = sorted(set(all_gates) - set(qs))
        if missing:
            problems.append(
                f"leg {leg}: {len(missing)} gates MISSING: {', '.join(missing)}")
    fails = anchor.get("failures") or {}
    if isinstance(fails, dict):
        for leg, f in sorted(fails.items()):
            if f:
                problems.append(f"leg {leg}: failures={sorted(f)}")
    cont = anchor.get("contended") or {}
    if isinstance(cont, dict):
        for leg, c in sorted(cont.items()):
            if c:
                warnings.append(
                    f"leg {leg}: contended=true — slopes from this leg are "
                    "retime-floored but should be re-taken")
    slope_keys = [k for k in anchor if k.startswith("slopes_")]
    if not slope_keys:
        problems.append("anchor has no slopes_* maps")
    # the slower leg of an axis, for the noise floor: slopes_A_to_B_*
    axis_re = re.compile(r"slopes_(.+)_to_(.+)_ratio[\d.]+$")
    for sk in sorted(slope_keys):
        m = axis_re.match(sk)
        big_leg = legs.get(m.group(2)) if m else None
        for gate, slope in sorted((anchor[sk] or {}).items()):
            if slope is None or slope <= max_slope:
                continue
            big_t = (big_leg or {}).get(gate)
            if gate in allow:
                warnings.append(
                    f"ALLOWED {sk}: {gate} slope {slope} > {max_slope} — {allow[gate]}")
            elif big_t is not None and big_t < floor_sec:
                warnings.append(
                    f"noise-floor {sk}: {gate} slope {slope} > {max_slope} "
                    f"but big-leg time {big_t:.3f}s < {floor_sec}s")
            else:
                problems.append(
                    f"{sk}: {gate} slope {slope} > {max_slope}"
                    + (f" (big-leg {big_t:.3f}s)" if big_t is not None else ""))
    return problems, warnings


def selftest():
    bad = {
        "queries_sf1": {"q_a": 10.0, "q_b": 5.0},
        "queries_sf10": {"q_a": 300.0, "q_b": 20.0},
        "slopes_sf1_to_sf10_ratio10": {"q_a": 3.0, "q_b": 0.4},
        "failures": {"sf1": {}, "sf10": {}},
        "contended": {"sf1": False, "sf10": False},
    }
    good = {
        "queries_sf1": {"q_a": 10.0, "q_b": 5.0},
        "queries_sf10": {"q_a": 40.0, "q_b": 20.0},
        "slopes_sf1_to_sf10_ratio10": {"q_a": 0.4, "q_b": 0.4},
        "failures": {"sf1": {}, "sf10": {}},
        "contended": {"sf1": False, "sf10": False},
    }
    dropped = dict(good, queries_sf10={"q_a": 40.0})  # q_b silently missing
    p_bad, _ = check(bad)
    p_good, _ = check(good)
    p_drop, _ = check(dropped)
    ok = bool(p_bad) and not p_good and bool(p_drop)
    print(f"selftest superlinear-fails={bool(p_bad)} clean-passes={not p_good} "
          f"missing-leg-fails={bool(p_drop)} -> {'OK' if ok else 'BROKEN'}")
    sys.exit(0 if ok else 1)


def main():
    args = sys.argv[1:]
    if "--selftest" in args:
        selftest()
    allow = {}
    max_slope, floor_sec = 1.0, 0.25
    path = None
    i = 0
    while i < len(args):
        if args[i] == "--allow":
            g, _, r = args[i + 1].partition("=")
            allow[g] = r or "(no reason given)"
            i += 2
        elif args[i] == "--max-slope":
            max_slope = float(args[i + 1]); i += 2
        elif args[i] == "--floor-sec":
            floor_sec = float(args[i + 1]); i += 2
        else:
            path = args[i]; i += 1
    if not path:
        sys.exit("usage: slope_gate.py <anchor.json> [--max-slope S] "
                 "[--floor-sec T] [--allow gate=reason ...] | --selftest")
    anchor = json.load(open(path))
    problems, warnings = check(anchor, max_slope, floor_sec, allow)
    for w in warnings:
        print(f"WARN: {w}")
    for p in problems:
        print(f"FAIL: {p}")
    if problems:
        sys.exit(1)
    n_slopes = sum(len(anchor[k] or {}) for k in anchor if k.startswith("slopes_"))
    print(f"OK: {path} — {n_slopes} slopes, all <= {max_slope} "
          f"(or waived/noise-floored above), all legs complete")


if __name__ == "__main__":
    main()
