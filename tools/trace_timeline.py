#!/usr/bin/env python3
"""Timeline of each traced ExtractJob.run in a perfbench trace.

Reads the JSON lines `perfbench/run.py --trace 1` writes (spans, listener
jobs, stages and tasks) and prints, for every `pipeline.run` span, one
table: the spans under the run, the Spark jobs that started inside it
and each job's stages. Times are milliseconds relative to the run's
start. Job and stage rows also give the task count, the sum and max of
task wall time (launch to finish), `ovh_ms` (that sum minus the tasks'
executor run time: deserialization, scheduling and result handling) and
the shuffle bytes read and written. Jobs and stages come from the
listener records, so the
`spark.job` spans the benchmark derives from them are not printed again.

Each table opens with one summary line of the run's planning layer, up
to its first group write (`sources.overwrite_group`, else the run's
end): `first_job_ms`, the driver time from the run's start to its first
job; `gaps_ms`, the time from that job's start to the first write in
which no job runs; and the jobs and stages that started before the
first write. `grep '^summary'` on the output keeps one such line per
run.

Usage: python3 tools/trace_timeline.py TRACE.jsonl [--run N]
(`--run N` prints only the N-th traced run, 0-based; negative counts
from the end.)
"""
import argparse
import json
import sys


def load(path):
    recs = {"span": [], "job": [], "stage": [], "task": []}
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                r = json.loads(line)
                if r.get("type") in recs:
                    recs[r["type"]].append(r)
    return recs


def task_cols(tasks):
    """(tasks, task-ms sum, task-ms max, overhead ms, shuffle read,
    shuffle write)."""
    durs = [t["finish_ms"] - t["launch_ms"] for t in tasks]
    return (len(tasks), sum(durs), max(durs, default=0),
            sum(durs) - sum(t["run_ms"] for t in tasks),
            sum(t["shuffle_read_bytes"] for t in tasks),
            sum(t["shuffle_write_bytes"] for t in tasks))


def row(kind, name, start, end, cols=None):
    left = f"{kind:<6} {name[:44]:<44} {start:>8.0f} {end:>8.0f} {end - start:>7.0f}"
    if cols is None:
        return left
    n, tsum, tmax, ovh, rd, wr = cols
    return f"{left} {n:>6} {tsum:>8} {tmax:>7} {ovh:>7} {rd:>10} {wr:>10}"


def run_jobs(run, recs):
    """The listener jobs that started inside the run, in start order."""
    t0_ms, end_ms = run["start_us"] / 1000.0, run["end_us"] / 1000.0
    return sorted((j for j in recs["job"] if t0_ms - 1 <= j["start_ms"] <= end_ms),
                  key=lambda j: j["start_ms"])


def job_stages(job):
    return [int(x) for x in str(job["stages"]).split(",") if x != ""]


def summary(run, recs):
    """One line: the run's driver time before its first job, the summed
    time without a job from there to the first group write, and the jobs
    and stages that started before that write."""
    t0_ms, end_ms = run["start_us"] / 1000.0, run["end_us"] / 1000.0
    under = under_run(run, recs)
    writes = [s["start_us"] / 1000.0 for s in recs["span"]
              if s["name"] == "sources.overwrite_group" and under(s)]
    first_write = min(writes, default=end_ms)
    before = [j for j in run_jobs(run, recs) if j["start_ms"] < first_write]
    first_job = before[0]["start_ms"] if before else first_write
    gaps, reach = 0.0, first_job
    for j in before:
        gaps += max(0.0, j["start_ms"] - reach)
        reach = max(reach, j["end_ms"])
    gaps += max(0.0, first_write - reach)
    return (f"summary run_id={run['run_id']} first_job_ms={first_job - t0_ms:.0f} "
            f"gaps_ms={gaps:.0f} jobs={len(before)} "
            f"stages={sum(len(job_stages(j)) for j in before)} "
            f"(before the first group write at {first_write - t0_ms:.0f} ms)")


def under_run(run, recs):
    by_id = {s["id"]: s for s in recs["span"]}

    def under(s):
        p = s["parent"]
        while p >= 0:
            if p == run["id"]:
                return True
            p = by_id[p]["parent"] if p in by_id else -1
        return False
    return under


def timeline(run, recs):
    spans = recs["span"]
    under = under_run(run, recs)
    t0_ms = run["start_us"] / 1000.0
    out = [f"pipeline.run id={run['id']} run_id={run['run_id']} "
           f"wall={(run['end_us'] - run['start_us']) / 1000.0:.0f} ms",
           summary(run, recs),
           f"{'kind':<6} {'name':<44} {'start':>8} {'end':>8} {'dur':>7} "
           f"{'tasks':>6} {'task_ms':>8} {'max_ms':>7} {'ovh_ms':>7} "
           f"{'shuf_rd':>10} {'shuf_wr':>10}"]
    items = []
    for s in spans:
        if s["name"] != "spark.job" and under(s):
            items.append((s["start_us"] / 1000.0, 0,
                          row("span", s["name"], s["start_us"] / 1000.0 - t0_ms,
                              s["end_us"] / 1000.0 - t0_ms)))
    stages = {}
    for st in recs["stage"]:
        stages.setdefault(st["stage_id"], []).append(st)
    tasks = {}
    for t in recs["task"]:
        tasks.setdefault(t["stage_id"], []).append(t)
    for j in run_jobs(run, recs):
        ids = job_stages(j)
        jt = [t for i in ids for t in tasks.get(i, [])]
        ok = "" if j["ok"] else " FAILED"
        items.append((j["start_ms"], 1, row(
            "job", f"job {j['job_id']} stages {ids}{ok}",
            j["start_ms"] - t0_ms, j["end_ms"] - t0_ms, task_cols(jt))))
        for i in ids:
            for st in stages.get(i, []):
                items.append((j["start_ms"], 2, row(
                    "stage", f"  {i}.{st['attempt']} {st['name']}",
                    st["submit_ms"] - t0_ms, st["done_ms"] - t0_ms,
                    task_cols(tasks.get(i, [])))))
    # spans, then each job followed by its stages, in start order
    items.sort(key=lambda x: (x[0], x[1]) if x[1] < 2 else (x[0], 1))
    out.extend(r for _, _, r in items)
    return "\n".join(out)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace")
    ap.add_argument("--run", type=int, default=None)
    a = ap.parse_args(argv)
    recs = load(a.trace)
    runs = sorted((s for s in recs["span"] if s["name"] == "pipeline.run"),
                  key=lambda s: s["start_us"])
    if a.run is not None:
        runs = [runs[a.run]] if -len(runs) <= a.run < len(runs) else []
    if not runs:
        print("no pipeline.run span in the trace", file=sys.stderr)
        return 1
    print("\n\n".join(timeline(r, recs) for r in runs))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
