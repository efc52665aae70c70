#!/usr/bin/env python
"""Host-health probe for bench scheduling: memory BANDWIDTH + CPU steal.

Round 9 established (docs/PERF.md, round-9 section) that this host has
TWO distinct co-tenant noise channels:

1. CPU steal — visible in /proc/stat field 8; gated by bench.py's
   pre-flight check and recorded whole-run since r9.
2. Memory-bandwidth / LLC contention (or hypervisor frequency
   capping) — INVISIBLE to /proc/stat (steal 0.0%, iowait 0.0%, CPUs
   busy) but up to 6× wall-clock on the bandwidth-bound tera
   pipelines while small queries barely move.

This probe measures both in ~10 s so a bench run can be scheduled
into a healthy window: a triad-style numpy sweep (a = b + c over a
~1.2 GB working set — far beyond LLC, so it prices DRAM bandwidth)
plus a 5 s steal sample. Healthy phase on this host: ~10-11 GB/s
single-thread and steal < 1%. Degraded bandwidth phases show up as a
materially lower GB/s at zero steal.

Caveat (measured r9): phases can FLIP within minutes — a healthy
probe (10.7 GB/s, load 0.48) was followed by a bench run whose tera
stages hit a 47 s tera_1gb / 102 s tera_10gb spike. The probe prices
the CURRENT window; bench.py's per-query retry guards and the
best-of-round sidecar merge remain the actual defense.

Usage: python scripts/host_bandwidth_probe.py
Prints one JSON line: {"triad_gbps": ..., "steal_frac": ..., "load1": ...}
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# Single-source the measurements: bench.py records the same triad +
# steal numbers as tera preflight provenance, and the two copies had
# already diverged once (timed fresh allocation vs warmed out= —
# ~30% apart on a healthy host). bench is import-safe (__main__
# guard) and importing it starts no JVM.
from bench import _steal_fraction, _triad_gbps  # noqa: E402


def triad_gbps(n: int = int(5e7), rounds: int = 5) -> float:
    return _triad_gbps(n, rounds)


def steal_fraction(sample_s: float = 5.0) -> float:
    return _steal_fraction(sample_s)


def main() -> None:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    print(
        json.dumps(
            {
                "triad_gbps": round(triad_gbps(), 2),
                "steal_frac": round(steal_fraction(), 4),
                "load1": load1,
            }
        )
    )


if __name__ == "__main__":
    main()
