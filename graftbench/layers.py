"""Per-layer metrics and spans of a traced run (`--trace 1`).

Input: the harness's request records (`run.json`) and the listener
events it kept in memory (`trace.json`). Jobs and stages carry their
request's id; planning phases and scans go to the request running when
they start, so with concurrent clients the ones that start while several
requests run are dropped. Each request becomes a root span
with `build`, `execute` and `release` children; planning phases and jobs
hang under the child they started in, stages under their job. All spans of
a request carry its id.

Self time: the request's wall time is cut into segments at every span
boundary and each segment goes to one layer, first match wins:
  checkpoints  a stage of a checkpoint job is running, or `release`
  stage work   a stage of a SQL job is running; split between sources
               (scan time), exchange (shuffle write time + fetch wait) and
               tasks (the rest) by the shares of those in the request's
               SQL-stage task time
  plans        a planning phase is running
  operators    inside `build` with none of the above (builder code between jobs)
  scheduler    inside `execute` with none of the above (the job floor)
So the layer self times of a request sum to its wall time; the docs give
the tolerance for rounding. GC pauses overlap every layer and are reported
as `jvm.gc_ms`, not as a slice.
"""
import json
from collections import defaultdict

LAYERS = ["operators", "plans", "scheduler", "sources", "tasks", "exchange", "checkpoints"]


def _merge(ivs):
    out = []
    for a, b in sorted(ivs):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _length(ivs) -> float:
    return sum(b - a for a, b in _merge(ivs))


def _clip(ivs, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in ivs if min(b, hi) > max(a, lo)]


def _bounds(r: dict):
    """(start, end of build, end of execute, end of release) in epoch ms."""
    t0 = r["start_us"] / 1000.0
    tb = t0 + r["build_us"] / 1000.0
    te = tb + r["exec_us"] / 1000.0
    return t0, tb, te, te + r["release_us"] / 1000.0


def by_request(trace: dict, reqs: list) -> dict:
    """{request id: {"jobs", "stages", "plans", "aqe", "blocks", "scan_bytes"}}."""
    per = {r["id"]: dict(jobs=[], stages=[], plans=[], aqe=0, blocks=0, scan_bytes=0)
           for r in reqs}
    exec_req, job_req = {}, {}
    for j in trace["jobs"]:
        if j["req"] is None or int(j["req"]) not in per:
            continue
        rid = int(j["req"])
        per[rid]["jobs"].append(j)
        job_req[j["job"]] = (rid, j["checkpoint"])
        if j["exec"] is not None:
            exec_req[int(j["exec"])] = rid
    for s in trace["stages"]:
        if s["job"] in job_req:
            rid, ckpt = job_req[s["job"]]
            per[rid]["stages"].append(dict(s, checkpoint=ckpt))
    spans = {r["id"]: _bounds(r) for r in reqs}

    def owner(t):  # the request running at time t, if exactly one is
        inside = [i for i, (t0, _, _, t3) in spans.items() if t0 <= t <= t3 + 1]
        return inside[0] if len(inside) == 1 else None

    for p in trace["plans"]:
        if owner(p["start_ms"]) is not None:
            per[owner(p["start_ms"])]["plans"].append(p)
    for s in trace["scans"]:
        if owner(s["start_ms"]) is not None:
            per[owner(s["start_ms"])]["scan_bytes"] += s["files_bytes"]
    for e, n in trace["aqe_updates"].items():
        if int(e) in exec_req:
            per[exec_req[int(e)]]["aqe"] += n
    for rid, b in trace["block_bytes"].items():
        if int(rid) in per:
            per[int(rid)]["blocks"] += b
    return per


def self_times(r: dict, ev: dict) -> dict:
    t0, tb, te, t3 = _bounds(r)
    ck = [(s["start_ms"], s["end_ms"]) for s in ev["stages"] if s["checkpoint"]]
    sql = [(s["start_ms"], s["end_ms"]) for s in ev["stages"] if not s["checkpoint"]]
    plans = [(p["start_ms"], p["end_ms"]) for p in ev["plans"]]
    cuts = {t0, tb, te}
    for a, b in ck + sql + plans:
        cuts.update(x for x in (a, b) if t0 < x < te)
    cuts = sorted(cuts)
    out = dict.fromkeys(LAYERS, 0.0)
    stage_ms = 0.0
    for a, b in zip(cuts, cuts[1:]):
        m = (a + b) / 2
        if any(x <= m < y for x, y in ck):
            out["checkpoints"] += b - a
        elif any(x <= m < y for x, y in sql):
            stage_ms += b - a
        elif any(x <= m < y for x, y in plans):
            out["plans"] += b - a
        elif m < tb:
            out["operators"] += b - a
        else:
            out["scheduler"] += b - a
    out["checkpoints"] += t3 - te
    work = [s for s in ev["stages"] if not s["checkpoint"]]
    run = sum(s["run_ms"] for s in work)
    if run > 0:
        scan = min(1.0, sum(s["scan_ms"] for s in work) / run)
        exch = min(1.0 - scan, sum(s["fetch_wait_ms"] + s["write_ms"] for s in work) / run)
    else:
        scan = exch = 0.0
    out["sources"] += stage_ms * scan
    out["exchange"] += stage_ms * exch
    out["tasks"] += stage_ms * (1.0 - scan - exch)
    return out


def per_layer(run: dict, trace: dict, reqs: list) -> dict:
    """Per-layer metrics, as per-request means unless the unit says otherwise."""
    per = by_request(trace, reqs)
    n = len(reqs)
    tot = defaultdict(float)
    selfs = dict.fromkeys(LAYERS, 0.0)
    for r in reqs:
        ev = per[r["id"]]
        t0, tb, te, t3 = _bounds(r)
        wall = t3 - t0
        tot["wall"] += wall
        tot["build"] += tb - t0
        tot["release"] += t3 - te
        tot["build_jobs"] += sum(1 for j in ev["jobs"] if j["start_ms"] <= tb)
        plan_iv = _clip([(p["start_ms"], p["end_ms"]) for p in ev["plans"]], t0, t3)
        stage_iv = _clip([(s["start_ms"], s["end_ms"]) for s in ev["stages"]], t0, t3)
        tot["planning"] += _length(plan_iv)
        tot["idle"] += wall - _length(plan_iv + stage_iv)
        tot["aqe"] += ev["aqe"]
        tot["jobs"] += len(ev["jobs"])
        tot["stages"] += len(ev["stages"])
        ck_jobs = [j for j in ev["jobs"] if j["checkpoint"]]
        tot["ck_jobs"] += len(ck_jobs)
        tot["ck_ms"] += _length(_clip([(j["start_ms"], j["end_ms"]) for j in ck_jobs], t0, t3))
        tot["blocks"] += ev["blocks"]
        tot["scan_bytes"] += ev["scan_bytes"]
        for s in ev["stages"]:
            for k in ("tasks", "failed_tasks", "empty_tasks", "run_ms", "cpu_ms", "task_wait_ms",
                      "scan_ms", "scan_rows", "write_bytes", "read_bytes",
                      "fetch_wait_ms", "spill_bytes"):
                tot[k] += s[k]
        for k, v in self_times(r, ev).items():
            selfs[k] += v
    m = {
        "operators.build_ms": (tot["build"] / n, "ms/req"),
        "operators.build_jobs": (tot["build_jobs"] / n, "count/req"),
        "plans.planning_ms": (tot["planning"] / n, "ms/req"),
        "plans.aqe_updates": (tot["aqe"] / n, "count/req"),
        "scheduler.jobs": (tot["jobs"] / n, "count/req"),
        "scheduler.stages": (tot["stages"] / n, "count/req"),
        "scheduler.tasks": (tot["tasks"] / n, "count/req"),
        "scheduler.idle_ms": (tot["idle"] / n, "ms/req"),
        "scheduler.task_wait_ms": (tot["task_wait_ms"] / n, "ms/req"),
        "scheduler.parallelism": (tot["run_ms"] / tot["wall"], "ratio"),
        "scheduler.empty_task_frac": (tot["empty_tasks"] / max(tot["tasks"], 1), "frac"),
        "scheduler.failed_tasks": (tot["failed_tasks"] / n, "count/req"),
        "sources.scan_rows": (tot["scan_rows"] / n, "rows/req"),
        "sources.scan_bytes": (tot["scan_bytes"] / n, "B/req"),
        "sources.scan_ms": (tot["scan_ms"] / n, "ms/req"),
        "tasks.run_ms": (tot["run_ms"] / n, "ms/req"),
        "tasks.cpu_ms": (tot["cpu_ms"] / n, "ms/req"),
        "exchange.write_bytes": (tot["write_bytes"] / n, "B/req"),
        "exchange.read_bytes": (tot["read_bytes"] / n, "B/req"),
        "exchange.fetch_wait_ms": (tot["fetch_wait_ms"] / n, "ms/req"),
        "exchange.spill_bytes": (tot["spill_bytes"] / n, "B/req"),
        "checkpoints.jobs": (tot["ck_jobs"] / n, "count/req"),
        "checkpoints.ms": (tot["ck_ms"] / n, "ms/req"),
        "checkpoints.block_bytes": (tot["blocks"] / n, "B/req"),
        "checkpoints.release_ms": (tot["release"] / n, "ms/req"),
        "jvm.gc_ms": (run["gc_ms"] / n, "ms/req"),
        "jvm.jit_ms": (run["jit_ms"] / n, "ms/req"),
        "jvm.heap_peak_mb": (run["heap_peak_mb"], "MB"),
    }
    for k in LAYERS:
        m[f"self.{k}_ms"] = (selfs[k] / n, "ms/req")
    m["trace.wall_ms"] = (tot["wall"] / n, "ms/req")
    m["trace.self_sum_frac"] = (sum(selfs.values()) / tot["wall"], "frac")
    return m


def write_spans(path: str, run: dict, trace: dict, reqs: list) -> None:
    """Every request's span tree as a flat list with parent links."""
    per = by_request(trace, reqs)
    spans = []

    def add(req, name, parent, start, end, **attrs):
        sid = len(spans)
        spans.append(dict(id=sid, request=req, name=name, parent=parent,
                          start_ms=start, end_ms=end, **attrs))
        return sid

    for r in reqs:
        rid, ev = r["id"], per[r["id"]]
        t0, tb, te, t3 = _bounds(r)
        root = add(rid, "request", None, t0, t3, key=r["key"], error=r["error"])
        build = add(rid, "build", root, t0, tb)
        execute = add(rid, "execute", root, tb, te)
        add(rid, "release", root, te, t3)
        under = lambda t: build if t < tb else execute  # noqa: E731
        for p in ev["plans"]:
            add(rid, f"plan.{p['phase']}", under(p["start_ms"]), p["start_ms"], p["end_ms"],
                query=p["query"])
        job_span = {}
        for j in ev["jobs"]:
            job_span[j["job"]] = add(rid, "job.checkpoint" if j["checkpoint"] else "job.sql",
                                     under(j["start_ms"]), j["start_ms"], j["end_ms"],
                                     job=j["job"], exec=j["exec"])
        for s in ev["stages"]:
            add(rid, "stage", job_span.get(s["job"]), s["start_ms"], s["end_ms"],
                **{k: v for k, v in s.items() if k not in ("start_ms", "end_ms")})
    with open(path, "w") as f:
        json.dump(spans, f)
