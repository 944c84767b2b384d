#!/usr/bin/env python3
"""Compare the work counts of two span trees written by traced runs.

    python3 perfbench/compare_traces.py A.json B.json

Span trees live in .perfbench/traces/<workload>-<seed>.json. Spans are
matched by position and name; for every span the Spark job, stage and task
counts, bytes read, shuffle bytes and the filesystem notes (files and bytes
written, files rewritten, index commits, live files) are compared. Two
traced runs of the same build on the same seed should match exactly; two
builds that differ should differ only where the change did. Exits 1 when a
count differs.
"""
import json
import sys

COUNTS = ["jobs", "stages", "tasks", "bytes_read", "records_read",
          "shuffle_read", "shuffle_write"]
NOTES = ["files_written", "bytes_written", "files_rewritten", "index_commits",
         "live_files", "files_read", "rows_returned", "overlapping_ranges"]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (json.load(open(p)) for p in sys.argv[1:])
    if [s["name"] for s in a] != [s["name"] for s in b]:
        sys.exit("the two runs made different calls: %d vs %d spans" % (len(a), len(b)))
    diffs = 0
    for x, y in zip(a, b):
        for k in COUNTS:
            if x[k] != y[k]:
                diffs += 1
                print("span %d %s: %s %s != %s" % (x["id"], x["name"], k, x[k], y[k]))
        for k in NOTES:
            if x["notes"].get(k) != y["notes"].get(k):
                diffs += 1
                print("span %d %s: %s %s != %s" % (
                    x["id"], x["name"], k, x["notes"].get(k), y["notes"].get(k)))
    print("%d spans compared, %d counts differ" % (len(a), diffs))
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
