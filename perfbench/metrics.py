"""Metric arithmetic of the benchmark: percentiles, span self time, failure
accounting and the per-layer summary of a traced run. Pure functions over
the run record that perfbench.Runner writes; no Spark and no I/O here.
"""
import bisect
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name):
    """A metric or workload name: starts with a letter or digit, at most 64
    letters, digits, '_', '.' and '-'."""
    return bool(NAME_RE.fullmatch(name))


def valid_unit(unit):
    return bool(UNIT_RE.fullmatch(unit))


def tail(values, beyond=10):
    """The value at the highest percentile that still has at least `beyond`
    samples strictly above it, and that percentile. With too few samples
    for any such percentile, returns (None, None)."""
    xs = sorted(values)
    n = len(xs)
    i = n - beyond - 1
    # ties at the cut leave fewer than `beyond` samples strictly above it
    while i >= 0 and n - bisect.bisect_right(xs, xs[i]) < beyond:
        i -= 1
    if i < 0:
        return None, None
    return xs[i], 100.0 * (i + 1) / n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover;
    children are clipped to the span first."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def failure_counts(samples, verdicts):
    """(attempted, failed): every timed execution and every output check is
    one attempt; a timed execution that threw, and a check that threw or
    did not match the oracle, are failures."""
    attempted = len(samples) + len(verdicts)
    failed = sum(1 for s in samples if not s["ok"]) + \
        sum(1 for v in verdicts.values() if v != "pass")
    return attempted, failed


def wall_s(sample):
    return (sample["end_ms"] - sample["start_ms"]) / 1e3


def pass_times(samples):
    """{pass: seconds}: the sum of the timed regions of a pass's queries."""
    out = {}
    for s in samples:
        out[s["pass"]] = out.get(s["pass"], 0.0) + wall_s(s)
    return out


def end_to_end(samples, setup_s, setup_count, vm_hwm_kb, settle):
    """The end-to-end metrics of an untraced run, plus their sample counts.
    Pass 0 is the cold pass, passes 1..settle let the JIT settle, and the
    later passes give pass_s, query_p50_s and query_tail_s."""
    passes = pass_times(samples)
    later_passes = [t for p, t in passes.items() if p > settle]
    later = [wall_s(s) for s in samples if s["pass"] > settle]
    tail_v, tail_pct = tail(later)
    if tail_v is None:
        raise ValueError("%d later samples: too few for query_tail_s" % len(later))
    values = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0],
        "pass_s": statistics.median(later_passes),
        "query_p50_s": statistics.median(later),
        "query_tail_s": tail_v,
        "peak_rss_gb": vm_hwm_kb * 1024 / 1e9,
        "peak_heap_gb": max(s["live_heap_mb"] for s in samples) / 1e3,
    }
    counts = {"setup_s": setup_count, "cold_pass_s": 1, "pass_s": len(later_passes),
              "query_p50_s": len(later), "query_tail_s": len(later),
              "peak_rss_gb": 1, "peak_heap_gb": len(samples),
              "query_tail_percentile": tail_pct,
              "pass_times_s": [passes[p] for p in sorted(passes)]}
    return values, counts


def _phase_of(t, windows):
    """The (query index, phase) whose window holds time t, or None."""
    for i, w in enumerate(windows):
        if w["start_ms"] <= t < w["built_ms"]:
            return i, "construct"
        if w["built_ms"] <= t <= w["end_ms"]:
            return i, "execute"
    return None


STAGE_FIELDS = ("tasks", "task_ms", "run_ms", "cpu_ns", "delay_ms", "input_b",
                "shuffle_read_b", "shuffle_write_b", "spill_b", "gc_ms")


def build_spans(samples, events):
    """The span tree of one traced pass: query -> construct, plan, execute;
    each job under the phase it started in; each stage under its job. All
    spans of one query carry its id."""
    spans = []
    windows = sorted(samples, key=lambda s: s["start_ms"])
    phase_ids, roots = {}, []
    for i, w in enumerate(windows):
        qid = "p%d.%s" % (w["pass"], w["q"])
        root = len(spans)
        roots.append(root)
        spans.append(dict(id=root, parent=None, qid=qid, name=w["q"],
                          kind="query", start_ms=w["start_ms"], end_ms=w["end_ms"]))
        for kind, s, e in (("construct", w["start_ms"], w["built_ms"]),
                           ("execute", w["built_ms"], w["end_ms"])):
            phase_ids[(i, kind)] = len(spans)
            spans.append(dict(id=len(spans), parent=root, qid=qid, name=kind,
                              kind=kind, start_ms=s, end_ms=e))
    for p in events["plans"]:
        if not p["phases"]:
            continue
        s = min(ph["start_ms"] for ph in p["phases"])
        e = max(ph["end_ms"] for ph in p["phases"])
        hit = _phase_of(s, windows)
        if hit is None:
            continue
        root = spans[roots[hit[0]]]
        plan_id = len(spans)
        spans.append(dict(id=plan_id, parent=root["id"], qid=root["qid"], name=p["func"],
                          kind="plan", start_ms=s, end_ms=e, ok=p["ok"],
                          operators=p["operators"], exchanges=p["exchanges"],
                          phase=hit[1]))
        for ph in p["phases"]:
            spans.append(dict(id=len(spans), parent=plan_id, qid=root["qid"],
                              name=ph["name"], kind="plan_phase",
                              start_ms=ph["start_ms"], end_ms=ph["end_ms"]))
    stages = {}
    for st in events["stages"]:
        stages.setdefault(st["id"], []).append(st)
    for j in events["jobs"]:
        hit = _phase_of(j["start_ms"], windows)
        if hit is None:
            continue
        parent = spans[phase_ids[hit]]
        job_id = len(spans)
        spans.append(dict(id=job_id, parent=parent["id"], qid=parent["qid"],
                          name="job %d" % j["id"], kind="job", phase=hit[1], ok=j["ok"],
                          start_ms=j["start_ms"], end_ms=j["end_ms"]))
        for sid in j["stages"]:
            for st in stages.pop(sid, []):
                spans.append(dict(id=len(spans), parent=job_id, qid=parent["qid"],
                                  name="stage %d.%d" % (st["id"], st["attempt"]),
                                  kind="stage", start_ms=st["start_ms"],
                                  end_ms=st["end_ms"],
                                  **{k: st[k] for k in STAGE_FIELDS}))
    return spans


def coverage_gaps(spans, tol_ms=5.0):
    """Queries whose construct, plan and execute spans do not account for
    their wall time: the children must cover the query interval and stay
    inside it (within tol_ms, Spark stamps plans in whole milliseconds)."""
    kids = {}
    for s in spans:
        if s["kind"] in ("construct", "execute", "plan"):
            kids.setdefault(s["parent"], []).append(s)
    bad = []
    for q in (s for s in spans if s["kind"] == "query"):
        ch = kids.get(q["id"], [])
        covered = union_length([(c["start_ms"], c["end_ms"]) for c in ch])
        wall = q["end_ms"] - q["start_ms"]
        outside = any(c["start_ms"] < q["start_ms"] - tol_ms or
                      c["end_ms"] > q["end_ms"] + tol_ms for c in ch)
        if outside or wall - covered > tol_ms:
            bad.append(q["qid"])
    return bad


def pass_layers(samples, spans, cores, quantile_rows, parse_bytes):
    """Per-layer totals of one traced pass."""
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    jobs = by_kind.get("job", [])
    stages = by_kind.get("stage", [])
    construct = by_kind.get("construct", [])
    wall = sum(wall_s(s) for s in samples)
    run_s = sum(st["run_ms"] for st in stages) / 1e3
    out = {
        "entry.construct_s": sum(c["end_ms"] - c["start_ms"] for c in construct) / 1e3,
        "entry.construct_jobs": sum(1 for j in jobs if j["phase"] == "construct"),
        "entry.construct_self_s": sum(
            self_time((c["start_ms"], c["end_ms"]),
                      [(j["start_ms"], j["end_ms"]) for j in children.get(c["id"], [])
                       if j["kind"] == "job"])
            for c in construct) / 1e3,
        "plans.plan_s": sum(ph["end_ms"] - ph["start_ms"]
                            for ph in by_kind.get("plan_phase", [])) / 1e3,
        "plans.exchanges": sum(p["exchanges"] for p in by_kind.get("plan", [])),
        "plans.operators": sum(p["operators"] for p in by_kind.get("plan", [])),
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": sum(st["tasks"] for st in stages),
        "sched.delay_s": sum(st["delay_ms"] for st in stages) / 1e3,
        "sched.floor_s": wall - run_s / cores,
        "sched.core_util": run_s / (cores * wall) if wall > 0 else 0.0,
        "exec.execute_s": sum(e["end_ms"] - e["start_ms"]
                              for e in by_kind.get("execute", [])) / 1e3,
        "exec.run_s": run_s,
        "exec.cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
        "exec.input_mb": sum(st["input_b"] for st in stages) / 1e6,
        "exec.shuffle_read_mb": sum(st["shuffle_read_b"] for st in stages) / 1e6,
        "exec.shuffle_write_mb": sum(st["shuffle_write_b"] for st in stages) / 1e6,
        "exec.spill_mb": sum(st["spill_b"] for st in stages) / 1e6,
        "exec.gc_s": sum(s["gc_ms"] for s in samples) / 1e3,
        "core.persisted_rdds_max": max((s["persisted_rdds"] for s in samples), default=0),
        "core.cached_mb_max": max((s["cached_mb"] for s in samples), default=0.0),
        "core.quantile_jobs": sum(1 for j in jobs if _query_of(j, spans) in quantile_rows),
        "sources.parse_mb": sum(parse_bytes.values()) / 1e6,
    }
    task_ms = [t for st in stages for t in st["task_ms"]]
    out["sched.task_p50_ms"] = statistics.median(task_ms) if task_ms else 0.0
    return out


def _query_of(span, spans):
    while span["parent"] is not None:
        span = spans[span["parent"]]
    return span["name"]
