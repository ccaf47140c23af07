#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/compare_dumps.py <dumpA> <dumpB>

Each `<dump>/<query>/` directory is read back as one arrow table. Two
results are equal when their schemas are equal (names, types, nullability)
and they hold the same rows in the same order, floats compared by bit
pattern (NaN equals NaN, -0.0 differs from 0.0). `oracle_sql.json` is
compared as parsed dicts, entry by entry.

Whole-file hashes cannot decide this: parquet-mr writes each column chunk's
encoding list into the footer in hash order, so two dumps of one result can
differ in bytes while their data pages and decoded tables are equal.

Prints one line per query whose result or oracle SQL differs, or that only
one dump has, then a summary; exits 1 if there is any such query.
"""
import json
import os
import struct
import sys

import pyarrow.parquet as pq


def canon(v):
    """`v` with every float replaced by its IEEE-754 bit pattern."""
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, list):
        return [canon(x) for x in v]
    if isinstance(v, tuple):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    return v


def tables_equal(a, b):
    return a.schema.equals(b.schema) and \
        canon(a.to_pylist()) == canon(b.to_pylist())


def results(dump):
    return {d for d in os.listdir(dump)
            if os.path.isdir(os.path.join(dump, d))}


def compare(dump_a, dump_b):
    """(query, reason) for every query the two dumps disagree on, and the
    number of queries both dumps hold."""
    bad = []
    ra, rb = results(dump_a), results(dump_b)
    bad += [(q, "result only in " + dump_a) for q in sorted(ra - rb)]
    bad += [(q, "result only in " + dump_b) for q in sorted(rb - ra)]
    for q in sorted(ra & rb):
        try:
            same = tables_equal(pq.read_table(os.path.join(dump_a, q)),
                                pq.read_table(os.path.join(dump_b, q)))
        except Exception as e:  # an unreadable result is a difference
            bad.append((q, "unreadable: %s" % e))
            continue
        if not same:
            bad.append((q, "result differs"))
    oa, ob = (json.load(open(os.path.join(d, "oracle_sql.json")))
              for d in (dump_a, dump_b))
    for q in sorted(oa.keys() | ob.keys()):
        if q not in ob:
            bad.append((q, "oracle SQL only in " + dump_a))
        elif q not in oa:
            bad.append((q, "oracle SQL only in " + dump_b))
        elif oa[q] != ob[q]:
            bad.append((q, "oracle SQL differs"))
    return bad, len(ra & rb), len(oa.keys() & ob.keys())


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    bad, n_results, n_oracles = compare(argv[1], argv[2])
    for q, why in bad:
        print("DIFF %s: %s" % (q, why))
    print("[compare] %d results and %d oracle SQL entries in both dumps; "
          "%d differences" % (n_results, n_oracles, len(bad)))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv)
