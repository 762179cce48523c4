#!/usr/bin/env python3
"""Per-job breakdown of a traced bench crawl: where the pass's time goes.

Reads the newest `<root>/.bench_out/trace/*/spans.jsonl` (read-only) that a
traced run wrote, e.g. `python3 perfbench/run.py --workload crawl --seed 1
--trace 1`, and prints every Spark job of the `traced.run` span: the driver
gap before it (time no job of the span covers), its duration, and whether it
is one of the crawl's waves. Then the totals inside and outside the waves.

The trace names a job only by its number, so the waves are found by
position. `traced.run` has a fixed layout: the resume job (a fresh run
commits its wave-0 checkpoint on the driver, then reads it back and counts
it in one job), W waves, and the exit checkpoint, where W is `engine.waves`
from the run's result JSON (the bench crawl checkpoints only at wave 0 and
at exit). So the waves are the span's jobs 1 .. W, counted from 0 in start
order. Durations cannot pick them: once the waves are cheap, a checkpoint
job can outlast a wave.

    python3 tools/crawl_jobs.py                     # this checkout
    python3 tools/crawl_jobs.py --root ../parent    # another checkout
"""
import argparse
import glob
import json
import os
import sys

SPAN = "traced.run"


def newest_trace(out):
    paths = glob.glob(os.path.join(out, "trace", "*", "spans.jsonl"))
    if not paths:
        sys.exit("no traced run under %s (run perfbench/run.py with --trace 1)" % out)
    return max(paths, key=os.path.getmtime)


def wave_count(out, run_id):
    path = os.path.join(out, "results", run_id + ".json")
    m = json.load(open(path)).get("metrics", {}).get("engine.waves") if os.path.isfile(path) else None
    if not m:
        sys.exit("no engine.waves in %s" % path)
    return int(m["value"])


FIRST_WAVE = 1  # after the resume job


def wave_flags(n_jobs, w):
    """Per job of the span: whether it is one of the w waves (jobs 1..w)."""
    if n_jobs != w + 2:
        sys.exit("expected %d jobs in %s (resume, %d waves, exit checkpoint), found %d"
                 % (w + 2, SPAN, w, n_jobs))
    return [FIRST_WAVE <= i < FIRST_WAVE + w for i in range(n_jobs)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=".", help="checkout whose .bench_out to read")
    a = ap.parse_args()

    out = os.path.join(a.root, ".bench_out")
    path = newest_trace(out)
    recs = [json.loads(l) for l in open(path) if l.strip()]
    spans = [r for r in recs if r["name"] == SPAN]
    if not spans:
        sys.exit("no span %r in %s" % (SPAN, path))
    span = spans[0]
    run_id = span["run_id"]
    jobs = sorted((r for r in recs if r["parent"] == span["id"] and r["layer"] == "spark"),
                  key=lambda r: r["start_ms"])
    waves = wave_count(out, run_id)

    rows = []
    covered = span["start_ms"]
    for j in jobs:
        gap = max(0.0, j["start_ms"] - covered)
        rows.append((j["name"], gap, j["end_ms"] - j["start_ms"]))
        covered = max(covered, j["end_ms"])
    tail = max(0.0, span["end_ms"] - covered)
    wall = span["end_ms"] - span["start_ms"]
    in_wave = wave_flags(len(rows), waves)

    print("%s of %s: %d jobs, %d waves, pass %.0f ms" % (SPAN, run_id, len(rows), waves, wall))
    print("%-7s %-6s %9s %9s %9s" % ("job", "kind", "gap_ms", "job_ms", "sum_ms"))
    for (name, gap, dur), w in zip(rows, in_wave):
        print("%-7s %-6s %9.1f %9.1f %9.1f" % (name, "wave" if w else "other", gap, dur, gap + dur))
    print("%-7s %-6s %9.1f" % ("tail", "", tail))

    def total(label, sel, extra=0.0):
        gap = sum(r[1] for r, s in zip(rows, in_wave) if s == sel)
        dur = sum(r[2] for r, s in zip(rows, in_wave) if s == sel)
        n = sum(1 for s in in_wave if s == sel)
        t = gap + dur + extra
        print("%-14s %2d jobs  gap %7.1f  jobs %7.1f  total %7.1f ms  (%.0f%% of the pass)"
              % (label, n, gap + extra, dur, t, 100.0 * t / wall if wall > 0 else 0.0))

    total("in waves", True)
    total("outside waves", False, tail)
    print("driver gap (all) %.1f ms" % (sum(r[1] for r in rows) + tail))


if __name__ == "__main__":
    main()
