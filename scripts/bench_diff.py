#!/usr/bin/env python3
"""Mechanical per-query diff of two bench results.

Separates real plan regressions from the two recurring false positives
that burned verdict cycles in rounds 5-7: first-run JIT (in artifacts
from before the one-pass Bench, visible as a `cold:` row next to a small
steady value) and host-contention variance (idle-machine runs of
IDENTICAL code have measured 121 s vs 181-220 s when background JVMs
shared the machine — treat absolute deltas under ~0.5 s or on loaded
runs as noise; only idle-vs-idle comparisons are meaningful).

Accepts either artifact shape per side:
  - a driver BENCH_r{N}.json ({"n":..,"tail":"\"q\":secs,..."} — the
    tail is a TRUNCATED last-line window, so queries missing there are
    reported as uncomparable, not regressed);
  - a raw `graft.Bench` stdout capture (the first full JSON line).

A query (or the `warmup_shared_stages` prewarm) named in the NEW side's
`failed` list is a regression, whatever the old side shows. Registered
query names all start with `q_`; other numeric keys are headline or
overhead fields.

Usage: bench_diff.py OLD NEW [--thresh 1.5]
"""
import json
import re
import sys


def load(path):
    """Return (steady: {q: secs}, meta: {row: secs}, failed: set,
    truncated: bool)."""
    text = open(path, errors="replace").read()
    truncated = False
    if '"tail"' in text and '"metric"' not in text.split('"tail"')[0]:
        tail = json.loads(text)["tail"]
        pairs = re.findall(r'"([^"]+)":([0-9.]+)', tail)
        failed = {n for lst in re.findall(r'"failed":\[([^\]]*)\]', tail)
                  for n in re.findall(r'"([^"]+)"', lst)}
        truncated = True
    else:
        line = next(l for l in text.splitlines() if '"metric"' in l)
        line = line[line.index("{"):]
        d = json.loads(line)
        pairs = list(d["queries"].items())
        for k, v in d.get("warmup", {}).items():
            pairs.append((k, v))
        if d.get("warmup_s") is not None:
            pairs.append(("warmup_s", d["warmup_s"]))
        failed = set(d.get("failed", []))
    steady, meta = {}, {}
    for k, v in pairs:
        if k.startswith("q_"):
            steady[k] = float(v)
        elif k.startswith("cold:") or k.startswith("warmup") \
                or k == "jit_rerun_overhead":
            meta[k] = float(v)
    return steady, meta, failed, truncated


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    thresh = 1.5
    for a in sys.argv[1:]:
        if a.startswith("--thresh"):
            thresh = float(a.split("=", 1)[1] if "=" in a
                           else sys.argv[sys.argv.index(a) + 1])
    old_path, new_path = args[:2]
    old, om, ofail, otrunc = load(old_path)
    new, nm, nfail, ntrunc = load(new_path)

    common = sorted(set(old) & set(new))
    print(f"# bench diff: {old_path} -> {new_path}")
    print(f"# comparable queries: {len(common)} "
          f"(old total {len(old)}{' TRUNCATED' if otrunc else ''}, "
          f"new total {len(new)}{' TRUNCATED' if ntrunc else ''})")
    print("# CAVEAT: idle-vs-idle runs only; loaded-host runs of "
          "identical code vary 1.5-2x (NOTES_r7).")

    for label, m in (("old", om), ("new", nm)):
        rows = {k: v for k, v in m.items()
                if not k.startswith("cold:")}
        if rows:
            print(f"# {label} overhead rows: " + ", ".join(
                f"{k}={v:.1f}s" for k, v in sorted(rows.items())))

    regress, improve = [], []
    for q in common:
        o, n = old[q], new[q]
        if n > thresh * o and n - o > 0.5:
            jitty = f"cold:{q}" in nm
            regress.append((n / max(o, 1e-9), o, n, q, jitty))
        elif o > thresh * n and o - n > 0.5:
            improve.append((o / max(n, 1e-9), o, n, q))

    print(f"\n## regressions: failed in new run, or > {thresh}x and "
          f"> 0.5s abs ({len(nfail) + len(regress)})")
    for q in sorted(nfail):
        was = "failed in old too" if q in ofail else (
            f"{old[q]:.2f}s" if q in old else "not in old")
        print(f"  {q}: {was} -> FAILED")
    for r, o, n, q, jitty in sorted(regress, reverse=True):
        note = " [had a cold: row in new run -> likely JIT residue]" \
            if jitty else ""
        print(f"  {q}: {o:.2f}s -> {n:.2f}s ({r:.2f}x){note}")
    if not regress and not nfail:
        print("  none")

    print(f"\n## improvements > {thresh}x and > 0.5s abs "
          f"({len(improve)})")
    for r, o, n, q in sorted(improve, reverse=True):
        print(f"  {q}: {o:.2f}s -> {n:.2f}s ({r:.2f}x faster)")
    if not improve:
        print("  none")

    only_new = sorted(set(new) - set(old))
    if only_new:
        tot = sum(new[q] for q in only_new)
        print(f"\n## new-only queries ({len(only_new)}, "
              f"{tot:.1f}s steady): " + ", ".join(only_new))
    only_old = sorted(set(old) - set(new) - nfail)
    if only_old:
        print(f"\n## old-only / uncomparable ({len(only_old)}): "
              + ", ".join(only_old))
    ssum_o = sum(old[q] for q in common)
    ssum_n = sum(new[q] for q in common)
    print(f"\n## common-set steady time: {ssum_o:.1f}s -> "
          f"{ssum_n:.1f}s")
    sys.exit(1 if regress or nfail else 0)


if __name__ == "__main__":
    main()
