#!/usr/bin/env python3
"""Generate the benchmark fixture with another seed, for oracle checks.

`perfbench/fixture.py` writes the ten tables the queries read from a
fixed `FIXTURE_SEED`. This script imports it unchanged, sets the seed
and writes the tables, so Verify + tools/check.py can run against
fixtures the gate fixture never shows (a `.xxxx5` mean, an event on a
window edge). Runs offline; needs numpy and pyarrow.

Usage: python3 tools/seeded_fixture.py <seed> <sf> <outDir>
  e.g. python3 tools/seeded_fixture.py 7 0.01 /tmp/seed7
"""
import os
import sys

sys.dont_write_bytecode = True  # leave perfbench/ as it is
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
import fixture  # noqa: E402


def main(argv):
    if len(argv) != 4:
        sys.exit(__doc__)
    seed, sf, out = int(argv[1]), float(argv[2]), argv[3]
    fixture.FIXTURE_SEED = seed
    fixture.generate(out, sf)


if __name__ == "__main__":
    main(sys.argv)
