#!/usr/bin/env python
"""Mechanical round-over-round bench drift detector (VERDICT r9 next #2).

Diffs two bench detail files (BENCH_detail_r{N-1}.json vs
BENCH_detail_r{N}.json) on the weather-immune basis and exits nonzero
with a table when anything moved:

- **CPU** (``queries_cpu_median`` / ``operators_cpu_median``, plus the
  §C.18 Python column summed in when BOTH files carry it): flagged when
  the delta exceeds BOTH ``--cpu-pct`` (default 20%) and ``--cpu-abs``
  (default 1.0 s).  Both directions are flagged — an unexplained
  improvement is a basis hole (work moved somewhere unmeasured) until
  attributed; ``--regressions-only`` limits to increases.
- **CPU totals** (``cpu_total`` rows): the per-family sum over shared,
  non-noisy entries is compared with its own thresholds (``--agg-pct``
  default 5%, ``--agg-abs`` default 5 s) so many small same-direction
  regressions can't slip under the per-entry gate (ADVICE r10).
- **Shuffle MB** (``queries_shuffle_mb`` / ``operators_shuffle_mb``):
  flagged on ANY delta beyond ``--shuffle-abs`` (default 0.05 MB —
  observed cross-run rounding jitter is ≤0.02).  Shuffle volume is a
  property of the PLAN; it moves only when a plan moves.
- **Evictions**: nonzero in either file invalidates that file's CPU
  numbers outright.

Per-query CPU for the entries in ``CPU_NOISY`` is skipped by default:
their CPU swings past the thresholds between runs of unchanged code.
Their shuffle MB is still compared — it stays flat when the plan
does.  ``--include-noisy`` restores them.

Entries present in only one file are listed informationally (registry
growth is expected) but do not fail the compare.

Usage:
  python tools/bench_compare.py OLD.json NEW.json [--cpu-pct 20]
      [--cpu-abs 1.0] [--shuffle-abs 0.05] [--regressions-only]
      [--include-noisy]

Exit status: 0 = no drift, 1 = drift table printed, 2 = usage/basis
error.  Pinned against the committed r9 anchor/close pair in
tests/test_bench_compare.py.
"""

from __future__ import annotations

import argparse
import json
import sys

#: entries whose per-query CPU moves past the thresholds between runs of
#: unchanged code; an entry stays only while same-host runs show it.
#: q_stream_audit (micro-batch stages complete across timing windows):
#: 2026-10-18, 4-core host, six same-host runs, combined CPU
#: 2.04–3.41 s; one of the 15 run pairs flags it (+1.37 s, +67 %).
CPU_NOISY = frozenset({"q_stream_audit"})


def _combined_cpu(payload: dict, which: str) -> tuple[dict[str, float], str]:
    """Per-entry CPU map for ``which`` ("queries" or "operators"):
    JVM + Python when the file has the §C.18 column, JVM only
    otherwise.  Returns (map, basis_label)."""
    jvm = payload.get(f"{which}_cpu_median") or {}
    py = payload.get(f"{which}_pycpu_median")
    if py is None:
        return dict(jvm), "jvm"
    return (
        {k: round(v + py.get(k, 0.0), 3) for k, v in jvm.items()},
        "jvm+py",
    )


def compare(
    old: dict,
    new: dict,
    cpu_pct: float = 20.0,
    cpu_abs: float = 1.0,
    shuffle_abs: float = 0.05,
    regressions_only: bool = False,
    include_noisy: bool = False,
    agg_pct: float = 5.0,
    agg_abs: float = 5.0,
) -> dict:
    """Pure comparison core (tested directly): returns
    ``{"flags": [...], "notes": [...], "basis": str}`` where each flag
    is ``(kind, entry, old_val, new_val, delta)``."""
    flags: list[tuple[str, str, float, float, float]] = []
    notes: list[str] = []

    for fname, payload in (("old", old), ("new", new)):
        ev = payload.get("evictions", 0)
        if ev:
            flags.append(("evictions", fname, 0.0, float(ev), float(ev)))

    bases = set()
    for which in ("queries", "operators"):
        cpu_old, b_old = _combined_cpu(old, which)
        cpu_new, b_new = _combined_cpu(new, which)
        if b_old != b_new:
            # comparing a pre-§C.18 file against a post one: fall back
            # to the shared JVM column so the py column's appearance
            # doesn't read as a universal regression
            cpu_old = dict(old.get(f"{which}_cpu_median") or {})
            cpu_new = dict(new.get(f"{which}_cpu_median") or {})
            bases.add("jvm (mixed files)")
        else:
            bases.add(b_old)
        shared = set(cpu_old) & set(cpu_new)
        for k in sorted(set(cpu_old) ^ set(cpu_new)):
            side = "new" if k in cpu_new else "old"
            notes.append(f"{which[:-1]} {k!r} only in {side} file")
        for k in sorted(shared):
            if not include_noisy and k in CPU_NOISY:
                continue
            d = cpu_new[k] - cpu_old[k]
            if regressions_only and d <= 0:
                continue
            if abs(d) > cpu_abs and abs(d) > cpu_pct / 100.0 * max(
                cpu_old[k], 1e-9
            ):
                flags.append(("cpu", k, cpu_old[k], cpu_new[k], round(d, 3)))
        # Aggregate drift over the same shared, non-noisy entries: many
        # small same-direction regressions (0.3 s on each of 30 queries)
        # pass the per-entry dual threshold silently; the total does not
        # (ADVICE r10).  Shared-entry sums so registry growth never
        # false-flags; noisy entries excluded for the same reason they
        # are per-entry.
        agg_keys = [
            k for k in shared if include_noisy or k not in CPU_NOISY
        ]
        a_old = sum(cpu_old[k] for k in agg_keys)
        a_new = sum(cpu_new[k] for k in agg_keys)
        d = a_new - a_old
        if (not regressions_only or d > 0) and (
            abs(d) > agg_abs
            and abs(d) > agg_pct / 100.0 * max(a_old, 1e-9)
        ):
            flags.append(
                (
                    "cpu_total",
                    which,
                    round(a_old, 3),
                    round(a_new, 3),
                    round(d, 3),
                )
            )

        sh_old = old.get(f"{which}_shuffle_mb") or {}
        sh_new = new.get(f"{which}_shuffle_mb") or {}
        for k in sorted(set(sh_old) & set(sh_new)):
            d = sh_new[k] - sh_old[k]
            if abs(d) > shuffle_abs:
                flags.append(
                    ("shuffle_mb", k, sh_old[k], sh_new[k], round(d, 3))
                )

    return {"flags": flags, "notes": notes, "basis": "+".join(sorted(bases))}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--cpu-pct", type=float, default=20.0)
    ap.add_argument("--cpu-abs", type=float, default=1.0)
    ap.add_argument("--shuffle-abs", type=float, default=0.05)
    ap.add_argument("--regressions-only", action="store_true")
    ap.add_argument("--include-noisy", action="store_true")
    ap.add_argument("--agg-pct", type=float, default=5.0)
    ap.add_argument("--agg-abs", type=float, default=5.0)
    args = ap.parse_args(argv)

    try:
        with open(args.old) as f:
            old = json.load(f)
        with open(args.new) as f:
            new = json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        print(f"bench_compare: cannot load inputs: {e}", file=sys.stderr)
        return 2
    if "queries_cpu_median" not in old or "queries_cpu_median" not in new:
        print(
            "bench_compare: both files need the §C.13 CPU columns "
            "(BENCH_detail_r09 is the first file that has them)",
            file=sys.stderr,
        )
        return 2

    res = compare(
        old,
        new,
        cpu_pct=args.cpu_pct,
        cpu_abs=args.cpu_abs,
        shuffle_abs=args.shuffle_abs,
        regressions_only=args.regressions_only,
        include_noisy=args.include_noisy,
        agg_pct=args.agg_pct,
        agg_abs=args.agg_abs,
    )
    for n in res["notes"]:
        print(f"note: {n}")
    if not res["flags"]:
        print(f"no drift (basis: {res['basis']})")
        return 0
    print(f"{'kind':<12} {'entry':<28} {'old':>10} {'new':>10} {'delta':>9}")
    for kind, entry, a, b, d in res["flags"]:
        print(f"{kind:<12} {entry:<28} {a:>10.3f} {b:>10.3f} {d:>+9.3f}")
    print(f"{len(res['flags'])} flagged (basis: {res['basis']})")
    return 1


if __name__ == "__main__":
    sys.exit(main())
