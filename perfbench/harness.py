"""Pure functions that turn a run's raw record into metrics.

Kept free of Spark and of the filesystem layout (except the checkpoint
source-log reader) so that test_harness.py can check each rule on
synthetic input.
"""
import glob
import json
import os
import statistics

# the highest percentile reported as a tail must have this many samples
# beyond it
TAIL_BEYOND = 10
# top-level spans must sum to the timed wall time within this share of it
SPAN_TOLERANCE = 0.02


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=TAIL_BEYOND):
    """Highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples the value is the
    (n - beyond)-th smallest; with too few samples for any such percentile
    the maximum is returned with percentile 100, and the record says so
    through n.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    k = n - beyond
    if k < 1:
        return xs[-1], 100.0, n
    return xs[k - 1], 100.0 * k / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, reach = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children (concurrent children are counted once).

    Returns {span id: self seconds}.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
            if c["end"] > s["start"] and c["start"] < s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def span_check(spans, wall_s, driver_thread="main"):
    """Sum of the driver thread's top-level spans against the timed wall."""
    top = sum(s["end"] - s["start"] for s in spans
              if s["parent"] == 0 and s["thread"] == driver_thread)
    gap = abs(top - wall_s) / wall_s if wall_s > 0 else 1.0
    return {"top_level_s": top, "wall_s": wall_s, "rel_gap": gap,
            "tolerance": SPAN_TOLERANCE, "within": gap <= SPAN_TOLERANCE}


def self_time_by_name(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def source_log(chk_dir):
    """{file name: batch id} from a file-source checkpoint log
    (`sources/0/<batch>` and compacted `<batch>.compact` files)."""
    out = {}
    for path in glob.glob(os.path.join(chk_dir, "sources", "0", "*")):
        name = os.path.basename(path)
        if name.startswith("."):
            continue
        with open(path) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if not line.strip():
                continue
            e = json.loads(line)
            out[e["path"]] = e["batchId"]
    return out


def freshness(files, commits, logs):
    """Freshness of each released ODS file.

    files:   [{"file", "due_s", "released_s"}]
    commits: [{"stage", "batch", "start_s", "end_s"}] for dwd, dim, dws_*
    logs:    {stage: {source file path: batch}} for dwd, dim and each dws
             stage; a dws stage reads DWD output paths `.../batch_<dwd id>/...`

    A file is fresh once every DIM and DWS store that consumes it has
    committed it: the DIM batch that read it, and each DWS batch that read
    an output file of the DWD batch that read it. Freshness counts from the
    file's due time, so a late generator counts against the engine, not
    for it. Returns {file: seconds}, per-file queue waits (release to DWD
    batch start), and the DWS waits (DWD batch commit to the start of each
    DWS batch that read its output).
    """
    end = {(c["stage"], c["batch"]): c["end_s"] for c in commits}
    start = {(c["stage"], c["batch"]): c["start_s"] for c in commits}

    def by_name(log):
        return {os.path.basename(p): b for p, b in log.items()}

    dwd = by_name(logs["dwd"])
    dim = by_name(logs["dim"])
    # dws stage → {dwd batch: [dws batches that read its output]}
    dws = {}
    for stage, log in logs.items():
        if not stage.startswith("dws"):
            continue
        m = dws.setdefault(stage, {})
        for path, b in log.items():
            d = int(path.split("/batch_")[-1].split("/")[0])
            m.setdefault(d, set()).add(b)
    fresh, queue, dws_wait = {}, [], {}
    for f in files:
        name = f["file"]
        if name not in dwd or name not in dim:
            continue
        d = dwd[name]
        times = [end[("dim", dim[name])]]
        for stage, m in dws.items():
            for b in m.get(d, ()):
                times.append(end[(stage, b)])
                dws_wait[(stage, d, b)] = start[(stage, b)] - end[("dwd", d)]
        fresh[name] = max(times) - f["due_s"]
        queue.append(start[("dwd", d)] - f["released_s"])
    return fresh, queue, list(dws_wait.values())


def validity(start, end, nproc, gen_late_max_s=None, tick_s=None):
    """Whether a run was contaminated by load from outside it.

    start/end: {"load1": 1-minute loadavg, "cpu": /proc/stat cpu jiffies
    (user, nice, system, idle, iowait, irq, softirq, steal)}.

    A run is invalid when the hypervisor took more than 5% of the machine's
    CPU time away during it (steal: on a shared 4-core host, runs with 5-7%
    steal ran 20-40% slower than runs below 2%, while runs near 3% did not
    stand out), when the machine was already
    over-subscribed at start (1-minute load above 2x the cores, which one
    finished run of this benchmark cannot leave behind), when the load at
    the end exceeds 3x the cores (this run alone keeps at most about one
    runnable thread per core plus its driver), or when the open-loop
    generator released a file more than half a tick late.
    """
    reasons = []
    d = [b - a for a, b in zip(start["cpu"], end["cpu"])]
    total = sum(d)
    steal = d[7] / total if total > 0 and len(d) > 7 else 0.0
    if steal > 0.05:
        reasons.append(f"cpu steal {steal:.0%} of machine time")
    if start["load1"] > 2 * nproc:
        reasons.append(f"loadavg {start['load1']:.1f} at start > 2x{nproc}")
    if end["load1"] > 3 * nproc:
        reasons.append(f"loadavg {end['load1']:.1f} at end > 3x{nproc}")
    if gen_late_max_s is not None and tick_s and gen_late_max_s > tick_s / 2:
        reasons.append(f"generator {gen_late_max_s:.3f}s late "
                       f"(> half a {tick_s:.3f}s tick)")
    return {"invalid": bool(reasons), "reasons": reasons, "steal": steal,
            "load1_start": start["load1"], "load1_end": end["load1"]}


def sample_machine():
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    return {"load1": load1, "cpu": cpu}
