#!/usr/bin/env python3
"""Combine N same-sitting Bench legs into one multi-scale anchor.

Usage: combine_anchor.py <label=ratio=path> <label=ratio=path> ...
                         [--metric NAME] [--note TEXT]

Generalizes r19_combine.py (last at commit f0c8915) to any number of legs and fixes its ADVICE
finding: flooring min-of-passes with the post-suite retime mixes two
methodologies, so this combiner RECORDS per gate which source won and
by how much (`retime_provenance_<label>`) — the combined table shows
when retimes moved numbers instead of silently lowering them.

ratio = data size relative to the FIRST leg (e.g. sf0.1=1, sf1=10,
sf10=100, sf100=1000). Slopes are emitted for every consecutive pair
and for first->last: slope = (t_big/t_small)/ratio, 1.0 = linear.
Gate the output with slope_gate.py.
"""
import json
import sys


def mins_with_provenance(d):
    base = dict(d.get("queries_min") or d["queries"])
    prov = {}
    for name, t in (d.get("queries_retimed") or {}).items():
        if name in base:
            if t < base[name]:
                prov[name] = {"pass_min": base[name], "retimed": t,
                              "used": "retime",
                              "margin_pct": round(100 * (base[name] - t) / base[name], 1)}
                base[name] = t
            else:
                prov[name] = {"pass_min": base[name], "retimed": t,
                              "used": "pass_min",
                              "margin_pct": round(100 * (base[name] - t) / base[name], 1)}
    return base, prov


def main():
    legs = []           # (label, ratio, parsed)
    metric = "scale_anchor"
    note = ""
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        if args[i] == "--metric":
            metric = args[i + 1]; i += 2
        elif args[i] == "--note":
            note = args[i + 1]; i += 2
        else:
            label, ratio, path = args[i].split("=", 2)
            legs.append((label, float(ratio), json.load(open(path))))
            i += 1
    if len(legs) < 2:
        sys.exit("need at least 2 label=ratio=path legs")

    qs, provs = {}, {}
    for label, _, d in legs:
        qs[label], provs[label] = mins_with_provenance(d)
    names = sorted(set.intersection(*[set(v) for v in qs.values()]))

    out = {"metric": metric}
    if note:
        out["note"] = note
    out["legs"] = {label: {"ratio": ratio, "sf": d.get("sf")}
                   for label, ratio, d in legs}
    for label, _, _ in legs:
        out[f"queries_{label}"] = {n: qs[label][n] for n in names}
    for label, _, _ in legs:
        if provs[label]:
            out[f"retime_provenance_{label}"] = provs[label]
    pairs = list(zip(legs, legs[1:]))
    if len(legs) > 2:
        pairs.append((legs[0], legs[-1]))
    for (la, ra, _), (lb, rb, _) in pairs:
        ratio = rb / ra
        out[f"slopes_{la}_to_{lb}_ratio{ratio:g}"] = {
            n: round(qs[lb][n] / qs[la][n] / ratio, 4) for n in names}
    for label, _, _ in legs:
        out[f"total_{label}"] = round(sum(qs[label][n] for n in names), 3)
    out["contended"] = {label: d.get("contended") for label, _, d in legs}
    out["failures"] = {label: d.get("failures") for label, _, d in legs}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
