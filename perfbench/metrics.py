"""Metrics from one harness run's raw record.

End-to-end metrics come from untraced passes only. Per-layer metrics come
from traced timed passes: each is computed per traced pass and the median
over those passes is reported.
"""
import math
import statistics
from collections import defaultdict

MB = 1e6
OPERATORS = ["HashAggregate", "SortMergeJoin", "BroadcastHashJoin", "Exchange",
             "Window", "Generate", "Sort"]
TIMED_OPERATORS = ["HashAggregate", "Exchange", "Sort"]  # the ones with a timing SQL metric
PLAN_PHASES = ("analysis", "optimization", "planning")
CHECKPOINT_SITE = "Checkpoints.scala"
ALWAYS = ["build.s", "build.jobs", "self.build_s", "exec.s", "exec.jobs", "self.exec_s", "plan.s",
          "ckpt.fills", "ckpt.s", "ckpt.mb", "cache.fills", "cache.resident_mb"]
GROUP_PREFIX = "perfbench:"


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of all samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = math.ceil(q * len(s) - 1e-9)  # tolerance: 0.1 * 3 is 0.30000000000000004
    return s[min(max(rank, 1), len(s)) - 1]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s or e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - covered(children, s, e)


def attribute_jobs(jobs, span_ids):
    """{span id: [job]} for jobs whose job group names a known span, and the
    list of jobs that name none."""
    by_span, unattributed = defaultdict(list), []
    for j in jobs:
        g = j.get("group") or ""
        suffix = g[len(GROUP_PREFIX):] if g.startswith(GROUP_PREFIX) else ""
        sid = int(suffix) if suffix.isdigit() else None
        if sid in span_ids:
            by_span[sid].append(j)
        else:
            unattributed.append(j)
    return by_span, unattributed


def duration(x):
    return (x["end_ns"] - x["start_ns"]) / 1e9


def timed_passes(raw, traced):
    """The timed warm passes, traced or not. The warm-up passes before them
    carry most of the JIT compiler's warm-up and are left out."""
    return [p for p in raw["passes"] if p["kind"] == "warm" and p["traced"] == traced]


def cold_setup_s(raw):
    """JVM launch to the first ready session: what a one-shot job waits."""
    return raw["jvm_boot_ms"] / 1e3 + raw["setup_ns"][0] / 1e9


def end_to_end(raw, failed_keys):
    """``setup_s`` is the median of the set-ups after the first, each a
    fresh session in a warm JVM; the first, cold one is ``setup.cold_s``."""
    timed = timed_passes(raw, traced=False)
    attempted = len(raw["keys"])
    return {
        "setup_s": statistics.median(raw["setup_ns"][1:] or raw["setup_ns"]) / 1e9,
        "pass_s": statistics.median(duration(p) for p in timed),
        "shuffle_mb": statistics.median(p["shuffle_write_bytes"] for p in timed) / MB,
        "ok_frac": (attempted - len(failed_keys)) / attempted,
    }


class Trace:
    """The span tree of a traced run, with jobs and stages attached."""

    def __init__(self, raw):
        self.children = defaultdict(list)
        for s in raw["spans"]:
            self.children[s["parent"]].append(s)
        self.jobs_by_span, self.unattributed = attribute_jobs(
            [j for j in raw["jobs"] if "end_ms" in j], {s["id"] for s in raw["spans"]})
        self.stages_by_id = defaultdict(list)
        for st in raw["stages"]:
            self.stages_by_id[st["id"]].append(st)
        self.queries = defaultdict(list)
        for q in raw["queries"]:
            self.queries[q["span"]].append(q)
        self.storage = {s["span"]: s["rdds"] for s in raw["storage"]}

    def job_stages(self, job):
        return [st for sid in job["stages"] for st in self.stages_by_id.get(sid, [])]

    def is_checkpoint(self, job):
        return any(CHECKPOINT_SITE in st["name"] for st in self.job_stages(job))

    def plan_intervals(self, span_id):
        return [(q["phases"][p][0] * 1e6, q["phases"][p][1] * 1e6)
                for q in self.queries[span_id] for p in PLAN_PHASES if p in q["phases"]]

    def pass_layers(self, p, cold_jit_ms):
        """Per-layer metrics of one traced pass."""
        m, ops = defaultdict(float), defaultdict(float)
        for name in ALWAYS:  # reported as 0 when a pass has none
            m[name] = 0.0
        pass_s = duration(p)
        keys = [s for s in self.children[p["span"]] if s["name"] == "key"]
        stages = []
        for k in keys:
            kspan = (k["start_ns"], k["end_ns"])
            phases = self.children[k["id"]]
            m["trace.key_s"] += (kspan[1] - kspan[0]) / 1e9
            m["self.key_s"] += self_time(kspan, [(c["start_ns"], c["end_ns"]) for c in phases]) / 1e9
            ckpt_rdds = set()
            for ph in phases:
                jobs = self.jobs_by_span.get(ph["id"], [])
                job_iv = [(j["start_ms"] * 1e6, j["end_ms"] * 1e6) for j in jobs]
                plan_iv = self.plan_intervals(ph["id"])
                m[f"{ph['name']}.s"] += duration(ph)
                m[f"{ph['name']}.jobs"] += len(jobs)
                m[f"self.{ph['name']}_s"] += self_time((ph["start_ns"], ph["end_ns"]), job_iv + plan_iv) / 1e9
                m["plan.s"] += sum(e - s for s, e in plan_iv) / 1e9
                for q in self.queries[ph["id"]]:
                    for name, v in q["ops"].items():
                        ops[name] += v
                for j in jobs:
                    js = self.job_stages(j)
                    stages += js
                    jspan = (j["start_ms"] * 1e6, j["end_ms"] * 1e6)
                    stage_iv = [(st["submit_ms"] * 1e6, st["complete_ms"] * 1e6) for st in js if st["tasks"]]
                    m["self.job_s"] += self_time(jspan, stage_iv) / 1e9
                    m["self.stage_s"] += covered(stage_iv, *jspan) / 1e9
                    if self.is_checkpoint(j):
                        m["ckpt.fills"] += 1
                        m["ckpt.s"] += (j["end_ms"] - j["start_ms"]) / 1e3
                        ckpt_rdds.update(r for st in js for r in st["rdds"])
            for rdd, size in self.storage.get(k["id"], []):
                if rdd in ckpt_rdds:
                    m["ckpt.mb"] += size / MB
                else:
                    m["cache.fills"] += 1
                    m["cache.resident_mb"] += size / MB
        ran = [st for st in stages if st["tasks"]]
        m["exec.stages"] = len(ran)
        skew, longest, spans = 0.0, 0, 0
        for st in ran:
            m["exec.tasks"] += st["tasks"]
            m["exec.task_failures"] += st["failed_tasks"]
            m["exec.cpu_s"] += st["cpu_ns"] / 1e9
            m["exec.run_s"] += st["run_ms"] / 1e3
            m["exec.sched_delay_s"] += st["sched_delay_ms"] / 1e3
            m["exec.spill_mb"] += st["spill_bytes"] / MB
            m["exec.peak_exec_mem_mb"] = max(m["exec.peak_exec_mem_mb"], st["peak_exec_mem"] / MB)
            m["exec.input_mb"] += st["input_bytes"] / MB
            m["shuffle.write_mb"] += st["shuffle_write_bytes"] / MB
            m["shuffle.read_mb"] += st["shuffle_read_bytes"] / MB
            m["shuffle.records"] += st["records_written"]
            m["shuffle.fetch_wait_s"] += st["fetch_wait_ms"] / 1e3
            m["shuffle.write_s"] += st["write_time_ns"] / 1e9
            reads = st["task_read_bytes"]
            if len(reads) >= 2:
                skew = max(skew, max(reads) / statistics.median(reads))
            longest += st["max_task_ms"]
            spans += st["complete_ms"] - st["submit_ms"]
        m["shuffle.skew_ratio"] = skew
        m["stage.straggler_share"] = longest / spans if spans else 0.0
        for op in OPERATORS:
            m[f"op.{op}.rows"] = ops[f"op.{op}.rows"]
        for op in TIMED_OPERATORS:
            m[f"op.{op}.time_s"] = ops[f"op.{op}.time_s"]
        m["op.TopKPerGroup.count"] = ops["op.TopKPerGroup.count"]
        for name in ("cache.hit_scans", "aqe.skew_splits", "aqe.coalesced_parts"):
            m[name] = ops[name]
        m["tables.scan_s"] = ops["scan.time_s"]
        m["tables.input_mb"] = ops["scan.files_bytes"] / MB
        gen = ops["pairs.gen_rows"]
        m["pairs.kept_ratio"] = ops["pairs.agg_rows"] / gen if gen else 0.0
        m["codegen.compiles"] = p["codegen_compiles"]
        m["jvm.gc_s"] = p["gc_ms"] / 1e3
        m["jvm.gc_share"] = m["jvm.gc_s"] / pass_s
        m["jvm.jit_s"] = cold_jit_ms / 1e3
        m["trace.pass_s"] = pass_s
        m["trace.key_cover"] = m["trace.key_s"] / pass_s
        m["trace.unattributed_jobs"] = len(self.unattributed)
        return m


def per_layer(raw):
    """Per-layer metrics of a traced run, with the end-to-end figures that
    do not repeat closely enough to gate on: the cold pass, a single sample
    taken while the JIT compiler is busiest (it also writes the results that
    are checked); executor CPU per pass, which
    moves with the machine's speed; per-key percentiles, which need more
    samples than a run holds; and the peak heap, which moves with GC
    timing."""
    t = Trace(raw)
    cold = next(p for p in raw["passes"] if p["kind"] == "cold")
    traced = timed_passes(raw, traced=True)
    per_pass = [t.pass_layers(p, cold["jit_ms"]) for p in traced]
    names = sorted({n for pp in per_pass for n in pp})
    out = {n: statistics.median(pp.get(n, 0.0) for pp in per_pass) for n in names}
    untraced_timed = timed_passes(raw, traced=False)
    base = statistics.median(duration(p) for p in untraced_timed)
    out["trace.untraced_pass_s"] = base
    out["trace.overhead_frac"] = out["trace.pass_s"] / base - 1
    out["cold_pass_s"] = duration(cold)
    out["codegen.cold_compiles"] = cold["codegen_compiles"]
    out["setup.cold_s"] = cold_setup_s(raw)
    out["cpu_s"] = statistics.median(p["cpu_ns"] for p in untraced_timed) / 1e9
    samples = [duration(k) for p in untraced_timed for k in p["keys"]]
    out["query_p50_s"] = percentile(samples, 0.5)
    out["query_p90_s"] = percentile(samples, 0.9)
    out["jvm.peak_heap_mb"] = raw["jvm"]["peak_heap_after_gc_bytes"] / MB
    out.update(raw["exprs"])
    return out, per_pass


def per_key(raw):
    """Cold and median timed warm wall time of each key, for the detail file."""
    rows = defaultdict(lambda: {"warm_s": []})
    for p in raw["passes"]:
        for k in p["keys"]:
            if p["kind"] == "cold":
                rows[k["key"]]["cold_s"] = duration(k)
            elif p["kind"] == "warm" and not p["traced"]:
                rows[k["key"]]["warm_s"].append(duration(k))
    return {k: {"cold_s": v.get("cold_s"),
                "warm_median_s": statistics.median(v["warm_s"]) if v["warm_s"] else None}
            for k, v in rows.items()}
