"""Self-test: the benchmark's oracle check catches a perturbed output.

    python3 perfbench/selftest.py

For a collected workload (golden_compile) and a stored one (store_sf1,
including the PigStorage text leg) it runs a few scripts twice through
the real ``run.py`` path: once as the engine produces them, which must
pass, and once with one row dropped from every script's output, which
must fail every check and make the command exit non-zero.
"""

from __future__ import annotations

import argparse
import sys

import run
import workloads

CASES = {"golden_compile": ["pigmix_l03", "nightly_pipeline"],
         "store_sf1": ["agg_q1", "pigmix_multistore"]}


def limited(keep: list[str], drop_row: bool):
    """workloads.build restricted to ``keep``, optionally dropping one
    row from each script's final DataFrame."""
    real = workloads.build

    def build(*a, **kw):
        wl = real(*a, **kw)
        wl.scripts = [s for s in wl.scripts if s.name in keep]
        if drop_row:
            for s in wl.scripts:
                s.build = (lambda b=s.build:
                           (lambda df: df.exceptAll(df.limit(1)))(b()))
        return wl
    return build


def case(name: str, drop_row: bool) -> int:
    workloads.build = limited(CASES[name], drop_row)
    args = argparse.Namespace(workload=name, seed=7, seconds=0, trace=0)
    r = run.Run(args, run.prepare_environment())
    rc = r.main()
    caught = sum("oracle mismatch" in f for f in r.failures)
    print(f"selftest {name} drop_row={drop_row}: exit {rc}, "
          f"{caught} mismatches caught", file=sys.stderr)
    if drop_row:
        return int(rc == 0 or caught != len(CASES[name]))
    return int(rc != 0)


def main() -> int:
    real = workloads.build
    bad = 0
    for name in CASES:
        for drop_row in (False, True):
            bad += case(name, drop_row)
            workloads.build = real
    print("selftest", "FAILED" if bad else "ok")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
