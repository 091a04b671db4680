#!/usr/bin/env python3
"""Disk-headroom floor, in GB free on /tmp, for a gate stage over one
fixture: shared by tools/check.py and tools/gates.sh.

DuckDB's spill grows with the data it scans, so the floor is 256x the
fixture's bytes (symlinks followed), at least 2 GB and at most 40 GB:
2 GB at sf0.01, 5 GB at sf0.1, 40 GB from the 10x fixture (sf1, about
175 MB) up. A fixture directory that does not exist (not built yet)
gets the full 40 GB, so a missing fixture never lowers the floor.
GRAFT_MIN_HEADROOM_GB overrides it.

Usage: python3 tools/headroom.py SFDIR   (prints the floor)"""
import math, os, sys


def fixture_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d, followlinks=True) for f in fs)


def floor_gb(sfdir):
    override = os.environ.get("GRAFT_MIN_HEADROOM_GB")
    if override:
        return int(override)
    if not os.path.isdir(sfdir):
        return 40
    return min(40, max(2, math.ceil(256 * fixture_bytes(sfdir) / 2**30)))


if __name__ == "__main__":
    print(floor_gb(sys.argv[1]))
