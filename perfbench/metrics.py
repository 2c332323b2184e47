"""Pure metric logic: percentiles, span self time, per-layer aggregation.

Kept free of I/O so `selftest.py` can check it without a JVM.
"""
import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    return xs[max(0, math.ceil(q / 100 * len(xs)) - 1)]


def op_medians(samples):
    """Each operation's median latency, from (operation, seconds) samples
    of the passes that ran it."""
    by = {}
    for op, secs in samples:
        by.setdefault(op, []).append(secs)
    return [median(v) for _, v in sorted(by.items())]


def beyond(n, q):
    """Samples that lie strictly beyond the nearest-rank q-th percentile
    of n distinct samples."""
    return n - max(1, math.ceil(q / 100 * n)) if n else 0


def highest_supported(n, candidates=(50, 75, 90, 95, 99), need=10):
    """Highest candidate percentile with at least `need` samples beyond
    it, or None when even the lowest has fewer."""
    ok = [q for q in candidates if beyond(n, q) >= need]
    return max(ok) if ok else None


def median(values):
    xs = sorted(values)
    if not xs:
        return float("nan")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def covered(interval, children):
    """Length of the union of child intervals clipped to `interval`."""
    lo, hi = interval
    parts = sorted((max(lo, a), min(hi, b)) for a, b in children
                   if min(hi, b) > max(lo, a))
    total, cur_a, cur_b = 0, None, None
    for a, b in parts:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part its children cover."""
    iv = (span["start_us"], span["end_us"])
    return (iv[1] - iv[0]) - covered(iv, [(c["start_us"], c["end_us"])
                                          for c in children])


class SpanTree:
    def __init__(self, spans):
        self.spans = [s for s in spans if s["end_us"] >= s["start_us"]]
        self.kids = {}
        for s in self.spans:
            self.kids.setdefault(s["parent"], []).append(s)

    def children(self, span, kind=None):
        return [c for c in self.kids.get(span["id"], [])
                if kind is None or c["kind"] == kind]

    def of_kind(self, kind):
        return [s for s in self.spans if s["kind"] == kind]

    def self_s(self, span, kind=None):
        return self_time(span, self.children(span, kind)) / 1e6

    def dur_s(self, span):
        return (span["end_us"] - span["start_us"]) / 1e6

    def jobs_under(self, spans):
        return [j for s in spans for j in self.children(s, "job")]

    def stages_under(self, jobs):
        return [st for j in jobs for st in self.children(j, "stage")]


def stage_sum(stages, key):
    return sum(st["attrs"].get(key, 0.0) for st in stages)


def exec_metrics(tree, action_spans):
    """exec.* over the jobs started inside materializing actions."""
    jobs = tree.jobs_under(action_spans)
    stages = tree.stages_under(jobs)
    action_s = sum(tree.dur_s(a) for a in action_spans)
    run_s = stage_sum(stages, "task_run_s")
    wait_s = sum(max(0.0, st["attrs"]["first_launch_us"] - st["start_us"])
                 for st in stages if "first_launch_us" in st["attrs"]) / 1e6
    return {
        "exec.action_s": action_s,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": stage_sum(stages, "tasks"),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": stage_sum(stages, "task_cpu_s"),
        "exec.core_util": run_s / (action_s * 4) if action_s else 0.0,
        "exec.scheduler_wait_s": wait_s,
        "exec.gc_s": stage_sum(stages, "gc_s"),
        "exec.self_s": sum(tree.self_s(a, "job") for a in action_spans),
        "exec.failed_tasks": stage_sum(stages, "failed_tasks"),
        "exec.input_bytes": stage_sum(stages, "input_bytes"),
        "exec.shuffle_write_bytes": stage_sum(stages, "shuffle_write_bytes"),
        "exec.shuffle_read_bytes": stage_sum(stages, "shuffle_read_bytes"),
        "exec.shuffle_fetch_wait_s": stage_sum(stages, "shuffle_fetch_wait_s"),
        "exec.spill_bytes": stage_sum(stages, "spill_bytes"),
        "exec.result_bytes": stage_sum(stages, "result_bytes"),
    }


def operator_metrics(tree):
    builds = tree.of_kind("build")
    build_s = sum(tree.dur_s(b) for b in builds)
    action_s = sum(tree.dur_s(a) for a in tree.of_kind("action"))
    return {
        "operators.build_s": build_s,
        "operators.build_jobs": len(tree.jobs_under(builds)),
        "operators.build_self_s": sum(tree.self_s(b, "job") for b in builds),
        "operators.build_share": (build_s / (build_s + action_s)
                                  if build_s + action_s else 0.0),
    }


READ_KINDS = ("snapshot_read", "timetravel_read", "cdc_read")
WRITE_KINDS = ("append", "merge", "delete", "update")


def source_metrics(tree):
    ops = tree.of_kind("op")
    out = {}
    for kind in WRITE_KINDS + READ_KINDS:
        ms = [tree.dur_s(o) * 1e3 for o in ops if o["name"] == kind]
        out[f"sources.{kind}_ms"] = percentile(ms, 50) if ms else 0.0
    writes = [o for o in ops if o["name"] in WRITE_KINDS]
    jobs = tree.jobs_under(writes)
    selfs = [tree.self_s(w, "job") * 1e3 for w in writes]
    out["sources.commit_jobs"] = len(jobs)
    out["sources.commit_self_ms"] = percentile(selfs, 50) if selfs else 0.0
    out["sources.bytes_written"] = sum(w["attrs"].get("bytes_written", 0.0)
                                       for w in writes)
    return out


def api_metrics(tree):
    ops = tree.of_kind("op")
    out = {}
    for name, kind in (("compact", "compact"), ("expire", "expire"),
                       ("vacuum", "vacuum")):
        ms = [tree.dur_s(o) * 1e3 for o in ops if o["name"] == kind]
        out[f"api.{name}_ms"] = percentile(ms, 50) if ms else 0.0
    return out


def run_self_check(tree):
    """How much of each pass its op spans account for: (pass seconds, op
    seconds). Their difference is harness time between operations."""
    passes = tree.of_kind("pass")
    return (sum(tree.dur_s(p) for p in passes),
            sum(tree.dur_s(o) for p in passes for o in tree.children(p, "op")))
