"""Read Spark's own stage and SQL-node metrics and attribute them to layers.

Everything here comes from the Spark UI's REST API
(``/api/v1/applications/<app>/{stages,jobs,sql}``) after the timed region
has ended, so reading it costs the timed region nothing.

Layer attribution of executor time, per completed stage:

- a stage that runs one of the engine's ``mapInPandas`` UDFs splits its
  executor time between the UDF roles it runs (text_parse, vision,
  merge) in proportion to each node's "time to run Python workers";
  the JVM remainder (Arrow hop, sort, ``from_json``, a fused file
  write) belongs to the same UDF layer;
- a stage that scans and explodes pages is ``scan`` (its shuffle write
  time goes to ``page_shuffle``);
- any other stage of the execution that writes the spans is ``retry``
  (the R2 aggregate and joins);
- every other stage belongs to ``manifest``: the manifest metrics
  aggregate and write (with any re-run of the extraction plan's JVM-only
  stages they cause), metric read-backs and resume probes.

UDF roles come from the plan graph: the merge UDF reads a sort of the
doc-keyed exchange; the text-parse UDF's output feeds the R2 aggregate
or the anti-join; every other ``mapInPandas`` is the vision UDF.
"""

from __future__ import annotations

import json
import re
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

LAYERS = ("scan", "page_shuffle", "text_parse", "retry", "vision", "merge", "manifest")

_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


class Rest:
    def __init__(self, ui_url: str):
        self.base = ui_url.rstrip("/") + "/api/v1/applications"
        self.app = self._get("")[0]["id"]

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def get(self, path: str):
        return self._get(f"/{self.app}/{path}")


def _metric_total(value: str) -> float:
    """Total of a SQL metric value: plain ``"12"``/``"2.0 s"``/``"3.1 MiB"``
    or ``"total (min, med, max (stageId: taskId))\\n9.0 s (…)"``."""
    v = value.split("\n")[1] if "\n" in value else value
    v = v.split(" (")[0].strip().replace(",", "")
    parts = v.split(" ")
    if len(parts) == 2 and parts[1] in _UNITS:
        return float(parts[0]) * _UNITS[parts[1]]
    try:
        return float(parts[0])
    except ValueError:
        return 0.0


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Plan:
    """One SQL execution's node graph with UDF roles and node->stage map."""

    def __init__(self, ex: dict):
        self.ex = ex
        self.nodes = {n["nodeId"]: n for n in ex["nodes"]}
        self.parents = defaultdict(list)
        self.children = defaultdict(list)
        for e in ex["edges"]:
            self.parents[e["fromId"]].append(e["toId"])
            self.children[e["toId"]].append(e["fromId"])
        self.metrics = {
            nid: {m["name"]: m["value"] for m in n["metrics"]}
            for nid, n in self.nodes.items()
        }
        plan = ex.get("planDescription", "")
        # the write node's details line: "Arguments: file:/…/spans, false, …"
        if re.search(r"Arguments: \S*/spans, ", plan):
            self.kind = "spans_write"
        elif re.search(r"Arguments: \S*/manifest, ", plan):
            self.kind = "manifest_write"
        else:
            self.kind = "other"
        self.roles = {
            nid: self._udf_role(nid)
            for nid, n in self.nodes.items()
            if n["nodeName"] == "MapInPandas"
        }
        self.extracts = bool(self.roles)
        self.node_stage = self._node_stages()

    def name(self, nid) -> str:
        return self.nodes[nid]["nodeName"]

    def _udf_role(self, nid) -> str:
        if any(self.name(c) == "Sort" for c in self.children[nid]):
            return "merge"
        # up to the next Union/Exchange: the parse output meets the R2
        # aggregate or the anti-join; vision output goes straight on
        frontier = list(self.parents[nid])
        while frontier:
            p = frontier.pop()
            name = self.name(p)
            if name in ("HashAggregate", "BroadcastHashJoin"):
                return "text_parse"
            if name not in ("Union", "Exchange", "MapInPandas"):
                frontier.extend(self.parents[p])
        return "vision"

    def _node_stages(self) -> dict:
        stage_of = {}
        wscg_stage = {}
        for nid, ms in self.metrics.items():
            for v in ms.values():
                m = _STAGE_RE.search(v)
                if m:
                    stage_of[nid] = int(m.group(1))
                    break
            name = self.name(nid)
            if name.startswith("WholeStageCodegen") and nid in stage_of:
                wscg_stage[int(name.split("(")[1].rstrip(")"))] = stage_of[nid]
        for nid, n in self.nodes.items():
            cg = n.get("wholeStageCodegenId")
            if nid not in stage_of and cg in wscg_stage:
                stage_of[nid] = wscg_stage[cg]
        return stage_of

    def total(self, nid, metric: str) -> float:
        v = self.metrics[nid].get(metric)
        return 0.0 if v is None else _metric_total(v)

    def below_generate(self, nid) -> bool:
        """True for an Exchange whose map side explodes pages."""
        stack = list(self.children[nid])
        while stack:
            c = stack.pop()
            name = self.name(c)
            if name == "Generate":
                return True
            if name in ("Exchange", "ReusedExchange", "BroadcastExchange"):
                continue
            stack.extend(self.children[c])
        return False

    def feeds_merge(self, nid) -> bool:
        return any(
            self.name(p) == "Sort"
            and any(self.roles.get(pp) == "merge" for pp in self.parents[p])
            for p in self.parents[nid]
        )


def collect(rest: Rest, t0: float, t1: float) -> dict:
    """Per-layer executor time and counters for work submitted in [t0, t1]."""
    stages = [
        s for s in rest.get("stages")
        if s["status"] == "COMPLETE" and t0 <= (_ts(s.get("submissionTime")) or 0) <= t1
    ]
    jobs = {j["jobId"]: j for j in rest.get("jobs")}
    sql = [
        q for q in rest.get("sql?details=true&planDescription=true&length=100000")
        if t0 <= (_ts(q["submissionTime"]) or 0) <= t1
    ]
    by_id = {(s["stageId"], s["attemptId"]): s for s in stages}
    stage_plan = {}
    plans = []
    for q in sql:
        plan = Plan(q)
        plans.append(plan)
        for jid in q["successJobIds"] + q.get("failedJobIds", []):
            for sid in jobs.get(jid, {}).get("stageIds", []):
                stage_plan[sid] = plan

    layer_exec = defaultdict(float)
    udf_stage_exec = []  # (exec_s, stage) of stages running a page UDF
    total_exec = 0.0
    for s in by_id.values():
        ex = s["executorRunTime"] / 1000.0
        total_exec += ex
        plan = stage_plan.get(s["stageId"])
        if plan is None:
            layer_exec["other"] += ex
            continue
        nodes = [n for n, st in plan.node_stage.items() if st == s["stageId"]]
        py = defaultdict(float)
        for n in nodes:
            role = plan.roles.get(n)
            if role:
                py[role] += plan.total(n, "time to run Python workers")
        if py:
            tot = sum(py.values())
            for role, t in py.items():
                layer_exec[role] += ex * (t / tot if tot else 1 / len(py))
            if "merge" not in py:
                udf_stage_exec.append((ex, s))
            continue
        names = {plan.name(n) for n in nodes}
        if plan.extracts and ("Generate" in names or (not nodes and s["inputBytes"] > 0)):
            w = min(ex, s["shuffleWriteTime"] / 1e9)
            layer_exec["page_shuffle"] += w
            layer_exec["scan"] += ex - w
        elif plan.kind == "spans_write":
            layer_exec["retry"] += ex
        else:
            layer_exec["manifest"] += ex

    counters = defaultdict(float)
    for plan in plans:
        for nid in plan.nodes:
            name = plan.name(nid)
            if name == "Generate":
                counters["explode.pages_out"] += plan.total(nid, "number of output rows")
            elif name == "Exchange":
                written = plan.total(nid, "shuffle bytes written")
                if plan.feeds_merge(nid):
                    counters["merge.shuffle_bytes"] += written
                elif plan.below_generate(nid):
                    counters["page_shuffle.bytes"] += written
            elif name == "Execute InsertIntoHadoopFsRelationCommand" and plan.kind == "spans_write":
                counters["sink.bytes"] += plan.total(nid, "written output")
        for nid, role in plan.roles.items():
            busy = plan.total(nid, "time to run Python workers")
            counters[f"{role}.busy_s"] += busy
            if role == "merge":
                counters["merge.docs_out"] += plan.total(nid, "number of output rows")

    # a streaming micro-batch execution spans the foreachBatch writes it
    # runs; counting it would count their time twice
    spans = [
        (_ts(p.ex["submissionTime"]), _ts(p.ex["submissionTime"]) + p.ex["duration"] / 1000.0)
        for p in plans
    ]
    ran = [
        p for p, (s0, e0) in zip(plans, spans)
        if not any(
            s0 <= s1 and e1 <= e0 and (s1, e1) != (s0, e0)
            for s1, e1 in spans
        )
    ]
    durations = defaultdict(float)
    for plan in ran:
        durations[plan.kind] += plan.ex["duration"] / 1000.0

    intervals = sorted(
        (_ts(s.get("firstTaskLaunchedTime")), _ts(s["completionTime"]))
        for s in by_id.values()
        if s.get("firstTaskLaunchedTime")
    )
    return {
        "total_exec_s": total_exec,
        "gc_s": sum(s["jvmGcTime"] for s in by_id.values()) / 1000.0,
        "layer_exec": dict(layer_exec),
        "counters": dict(counters),
        "executions": len(ran),
        "durations": dict(durations),
        "intervals": intervals,
        "udf_stages": sorted(udf_stage_exec, key=lambda x: -x[0]),
    }


def covered(intervals, t0: float, t1: float) -> float:
    """Seconds of [t0, t1] during which at least one stage had tasks."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        s, e = max(s, t0), min(e, t1)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def task_skew(rest: Rest, stage: dict) -> float:
    """max / median task executor time of one stage."""
    q = rest.get(
        f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
    )
    med, mx = q["executorRunTime"]
    return mx / med if med else 1.0
