"""Rolls a traced run up into per-layer metrics.

Spans come from two places. The harness times each query execution and its
three steps (construct, plan, collect) and records the planner's phases
(analysis, optimization, planning). Spark's listeners give jobs, stages,
tasks and streaming micro-batches. Each span is assigned to one layer:

    operators   construct step (query construction, including training jobs)
    plans       plan step and the analysis, optimization and planning phases
    exec        collect step, jobs, stages, tasks
    streaming   micro-batches of stream replays

A span's self time is its duration minus the part of it its child spans
cover; a layer's self time is the sum over its spans. Tasks run in parallel,
so exec self time sums task time across cores.

`Tables` (parquet scans) has no span of its own: it is measured by the input
counters of the tasks that read rows. Spark does not count the bytes of
vectored parquet reads on the local file system, so `Tables.input_bytes`
undercounts plain table scans; `Tables.input_records` is exact.
"""
import json
import statistics

STEPS = ("construct", "plan", "collect")


class Span:
    __slots__ = ("layer", "start", "end", "children")

    def __init__(self, layer, start, end):
        self.layer, self.start, self.end, self.children = layer, start, end, []

    def self_ms(self):
        covered, cur = 0.0, self.start
        for s, e in sorted((max(c.start, self.start), min(c.end, self.end)) for c in self.children):
            if e <= cur:
                continue
            covered += e - max(s, cur)
            cur = e
        return max(0.0, (self.end - self.start) - covered)


def load_events(path):
    events = {"job": [], "stage": [], "task": [], "batch": []}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                events[r["kind"]].append(r)
    return events


def rollup(run, events, focus_passes, cores):
    """Per-layer metrics per focus pass (sums over the pass's queries, then
    the mean over passes), from the traced executions of `focus_passes`."""
    execs = {f'{e["pass"]}.{e["idx"]}': e for e in run["execs"]
             if e["traced"] and e["pass"] in focus_passes}
    n_pass = max(1, len(focus_passes))
    spans, steps = [], {}
    for key, e in execs.items():
        t = e["start_ns"] / 1e6
        c, p, x = e["construct_ns"] / 1e6, e["plan_ns"] / 1e6, e["collect_ns"] / 1e6
        steps[key] = {"construct": Span("operators", t, t + c),
                      "plan": Span("plans", t + c, t + c + p),
                      "collect": Span("exec", t + c + p, t + c + p + x)}
        spans.extend(steps[key].values())
        for name, s, end in e["phases"]:
            ph = Span("plans", s, end)
            spans.append(ph)
            _innermost(steps[key], s).children.append(ph)

    batches = []
    for b in events["batch"]:
        for key, st in steps.items():
            if st["construct"].start <= b["start_ms"] <= st["construct"].end:
                sp = Span("streaming", b["start_ms"], b["end_ms"])
                st["construct"].children.append(sp)
                spans.append(sp)
                batches.append((key, sp))
                break

    job_of_stage, jobs = {}, {}
    for j in events["job"]:
        if j["exec"] not in steps or j["phase"] not in STEPS:
            continue
        sp = Span("exec", j["start_ms"], j["end_ms"])
        parent = steps[j["exec"]][j["phase"]]
        for key, b in batches:
            if key == j["exec"] and b.start <= j["start_ms"] <= b.end:
                parent = b
        parent.children.append(sp)
        spans.append(sp)
        jobs[j["id"]] = (j, sp)
        for s in j["stages"]:
            job_of_stage.setdefault(s, j["id"])

    stage_span = {}
    for s in events["stage"]:
        if s["id"] in job_of_stage and s["start_ms"] >= 0:
            sp = Span("exec", s["start_ms"], s["end_ms"])
            jobs[job_of_stage[s["id"]]][1].children.append(sp)
            spans.append(sp)
            stage_span.setdefault(s["id"], sp)

    m = dict.fromkeys(["construct_jobs", "construct_task_ms", "jobs", "stages", "tasks", "run_ms",
                       "cpu_ns", "gc_ms", "in_bytes", "in_records", "scan_tasks", "sh_bytes",
                       "sh_records", "spill", "max_in"], 0)
    built = set()
    for j, _ in jobs.values():
        if j["phase"] == "construct":
            m["construct_jobs"] += 1
            built.add(j["exec"])
        else:
            m["jobs"] += 1
            m["stages"] += len(j["stages"])
    for t in events["task"]:
        if t["stage"] not in job_of_stage or job_of_stage[t["stage"]] not in jobs:
            continue
        if t["stage"] in stage_span:
            stage_span[t["stage"]].children.append(Span("exec", t["start_ms"], t["end_ms"]))
            spans.append(stage_span[t["stage"]].children[-1])
        if "run_ms" not in t:
            continue
        m["in_bytes"] += t["in_bytes"]
        m["in_records"] += t["in_records"]
        m["scan_tasks"] += t["in_records"] > 0
        if jobs[job_of_stage[t["stage"]]][0]["phase"] == "construct":
            m["construct_task_ms"] += t["run_ms"]
            continue
        m["tasks"] += 1
        m["run_ms"] += t["run_ms"]
        m["cpu_ns"] += t["cpu_ns"]
        m["gc_ms"] += t["gc_ms"]
        m["sh_bytes"] += t["sh_write_bytes"]
        m["sh_records"] += t["sh_write_records"]
        m["spill"] += t["spill_bytes"]
        m["max_in"] = max(m["max_in"], t["in_bytes"] + t["sh_read_bytes"])

    self_ms = {"operators": 0.0, "plans": 0.0, "exec": 0.0, "streaming": 0.0}
    for sp in spans:
        self_ms[sp.layer] += sp.self_ms()

    def tot(field):
        return sum(e[field] for e in execs.values())

    def phase_s(name):
        return sum(end - s for e in execs.values() for n, s, end in e["phases"] if n == name) / 1e3

    exec_s = tot("collect_ns") / 1e9
    per = lambda v: v / n_pass  # noqa: E731
    out = {
        "operators.construct_s": (per(tot("construct_ns") / 1e9), "s"),
        "operators.construct_jobs": (per(m["construct_jobs"]), "count"),
        "operators.construct_task_s": (per(m["construct_task_ms"] / 1e3), "s"),
        "operators.self_s": (per(self_ms["operators"] / 1e3), "s"),
        "SessionMemos.built_queries": (per(len(built)), "count"),
        "SessionMemos.disk_bytes": (run["memo_disk_bytes"], "bytes"),
        "plans.analysis_s": (per(phase_s("analysis")), "s"),
        "plans.optimization_s": (per(phase_s("optimization")), "s"),
        "plans.planning_s": (per(phase_s("planning")), "s"),
        "plans.codegen_stages": (per(tot("codegen_stages")), "count"),
        "plans.graft_nodes": (per(tot("graft_nodes")), "count"),
        "plans.self_s": (per(self_ms["plans"] / 1e3), "s"),
        "Tables.input_bytes": (per(m["in_bytes"]), "bytes"),
        "Tables.input_records": (per(m["in_records"]), "count"),
        "Tables.scan_tasks": (per(m["scan_tasks"]), "count"),
        "exec.s": (per(exec_s), "s"),
        "exec.jobs": (per(m["jobs"]), "count"),
        "exec.stages": (per(m["stages"]), "count"),
        "exec.tasks": (per(m["tasks"]), "count"),
        "exec.task_run_s": (per(m["run_ms"] / 1e3), "s"),
        "exec.task_cpu_s": (per(m["cpu_ns"] / 1e9), "s"),
        "exec.task_offcpu_s": (per(m["run_ms"] / 1e3 - m["cpu_ns"] / 1e9), "s"),
        "exec.gc_s": (per(m["gc_ms"] / 1e3), "s"),
        "exec.core_util": (m["run_ms"] / 1e3 / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "exec.shuffle_bytes": (per(m["sh_bytes"]), "bytes"),
        "exec.shuffle_records": (per(m["sh_records"]), "count"),
        "exec.spill_bytes": (per(m["spill"]), "bytes"),
        "exec.max_task_input_bytes": (m["max_in"], "bytes"),
        "exec.result_rows": (per(tot("rows")), "count"),
        "exec.self_s": (per(self_ms["exec"] / 1e3), "s"),
        "streaming.batches": (per(len(batches)), "count"),
        "streaming.batch_s": (per(sum(b.end - b.start for _, b in batches) / 1e3), "s"),
        "streaming.self_s": (per(self_ms["streaming"] / 1e3), "s"),
    }
    return out


def _innermost(step, t):
    for name in STEPS:
        s = step[name]
        if s.start <= t <= s.end:
            return s
    return step["construct"] if t < step["plan"].start else step["collect"]


def overhead_s(run, loop_passes):
    """Traced minus untraced median query time over the loop passes."""
    def med(flag):
        v = [(e["construct_ns"] + e["plan_ns"] + e["collect_ns"]) / 1e9 for e in run["execs"]
             if e["pass"] in loop_passes and e["traced"] == flag and not e["err"]]
        return statistics.median(v) if v else float("nan")
    return med(True) - med(False)
