"""Per-layer metrics: spans from ``tracing`` joined with the event log.

Every Spark job carries the job group of the innermost span that was open
when it was submitted, so a span's work is the work of the jobs, stages and
tasks whose group belongs to the span or to one of its descendants. Python
UDF work is read from the ``ArrowEvalPython`` plan nodes, whose description
names the UDF; each UDF name belongs to one layer.

Conventions: ``engine.round.*`` are medians over the rounds of the run; every
other ``.s``, ``.jobs``, ``.rows`` and ``.bytes*`` metric is a total over the
timed section; a ratio is reported next to its base.
"""

from __future__ import annotations

import re
import statistics
from collections import defaultdict

from eventlog import Log
from tracing import GROUP_PREFIX, Span

# layer -> UDF names (the functions' own names, as Spark prints them)
LAYER_UDFS = {
    "keying": ("keying_udf", "normalize_url_udf", "_normalize_or_raw_udf"),
    "psl": ("get_domain_udf",),
    "html_text": (
        "extract_page_udf", "html_to_text_udf", "html_to_text_charset_udf",
        "extract_links_udf", "blocked_selectors_udf",
    ),
    "robots": ("robots_allowed_udf",),
}
_UDF_RE = {layer: re.compile(r"\b(" + "|".join(names) + r")\(") for layer, names in LAYER_UDFS.items()}

# name -> unit; the order is the order of the printed result
METRICS = {
    "engine.round.jobs": "count",
    "engine.round.stages": "count",
    "engine.round.self_s": "s",
    "engine.round.driver_gap_s": "s",
    "engine.round.executor_cpu_s": "s",
    "engine.round.shuffle_write_bytes": "bytes",
    "engine.rounds": "count",
    "engine.succeeded_ratio": "ratio",
    "engine.claimed": "count",
    "engine.enqueue_accept_ratio": "ratio",
    "engine.links_found": "count",
    "frontier.commit_delta.s": "s",
    "frontier.commit_delta.self_s": "s",
    "frontier.commit_delta.jobs": "count",
    "frontier.commit_delta.bytes_written": "bytes",
    "frontier.compaction.s": "s",
    "frontier.compaction.count": "count",
    "frontier.deltas_outstanding": "count",
    "frontier.prepare_fresh.s": "s",
    "frontier.prepare_fresh.shuffle_write_bytes": "bytes",
    "frontier.prepare_fresh.fresh_ratio": "ratio",
    "frontier.prepare_fresh.offered": "count",
    "frontier.add_requests.s": "s",
    "frontier.add_requests.self_s": "s",
    "frontier.commit.s": "s",
    "frontier.commit.bytes_written": "bytes",
    "frontier.disk_bytes_per_url": "bytes",
    "keying.python_s": "s",
    "keying.rows": "count",
    "keying.bytes_to_python": "bytes",
    "keying.arrow_nodes": "count",
    "psl.python_s": "s",
    "psl.rows": "count",
    "html_text.python_s": "s",
    "html_text.rows": "count",
    "html_text.bytes_to_python": "bytes",
    "robots.python_s": "s",
    "robots.rows": "count",
    "engine.add_seeds.s": "s",
    "stats.final_statistics.s": "s",
    "dedup.exact.s": "s",
    "dedup.minhash.s": "s",
    "dedup.minhash.shuffle_write_bytes": "bytes",
    "dedup.minhash.executor_cpu_s": "s",
    "text_analysis.quality.s": "s",
    "curation.s": "s",
    "curation.shuffle_write_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.python_boot_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.jobs": "count",
    "spark.unattributed_jobs": "count",
    "spark.mixed_udf_nodes": "count",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_ratio": "ratio",
    "bench.failed_share": "ratio",
}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Attribution:
    def __init__(self, spans: list[Span], log: Log, roots: list[int]):
        self.spans, self.log = spans, log
        self.kids: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.kids[s.parent].append(s.id)
        self.roots = [spans[r] for r in roots]
        self.in_root = {i for r in roots for i in self.subtree(r)}

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.kids[i])
        return out

    def groups(self, spans: list[Span]) -> set[str]:
        return {f"{GROUP_PREFIX}{i}" for s in spans for i in self.subtree(s.id)}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.id in self.in_root]

    def seconds(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))

    def self_s(self, s: Span) -> float:
        kids = [(self.spans[k].start, self.spans[k].end) for k in self.kids[s.id]]
        return (s.end - s.start) - _union_len(kids)

    def jobs(self, groups: set[str]) -> list:
        return [j for j in self.log.jobs.values() if j.group in groups]

    def driver_gap(self, s: Span) -> float:
        iv = [
            (max(j.submit_ms / 1000, s.start), min(j.end_ms / 1000, s.end))
            for j in self.jobs(self.groups([s]))
            if j.end_ms is not None
        ]
        return (s.end - s.start) - _union_len([i for i in iv if i[1] > i[0]])

    def stages(self, groups: set[str]) -> int:
        return sum(1 for g in self.log.stage_group.values() if g in groups)


def per_layer(
    spans: list[Span], log: Log, roots: list[int], facts: dict
) -> dict[str, float]:
    """All ``METRICS`` for the traced spans under ``roots``. ``facts``
    carries what the run counted itself: ``deltas_outstanding``,
    ``disk_bytes_per_url``, ``offered``/``fresh`` (candidates given to the
    enqueue path and rows it added), ``wall_s``/``untraced_wall_s`` (equal
    numbers of traced and untraced cycles) and ``failed_share``."""
    a = Attribution(spans, log, roots)
    m: dict[str, float] = {k: 0.0 for k in METRICS}

    rounds = a.named("engine.run_round")
    if rounds:
        per = defaultdict(list)
        for r in rounds:
            g = a.groups([r])
            tot = log.group_totals(g)
            per["jobs"].append(len(a.jobs(g)))
            per["stages"].append(a.stages(g))
            per["self_s"].append(a.self_s(r))
            per["driver_gap_s"].append(a.driver_gap(r))
            per["executor_cpu_s"].append(tot.cpu_ns / 1e9)
            per["shuffle_write_bytes"].append(tot.shuffle_write_bytes)
        for k, v in per.items():
            m[f"engine.round.{k}"] = statistics.median(v)
        res = [r.attrs.get("result", {}) for r in rounds]
        m["engine.rounds"] = len(rounds)
        m["engine.claimed"] = sum(x.get("claimed", 0) for x in res)
        m["engine.succeeded_ratio"] = _ratio(sum(x.get("succeeded", 0) for x in res), m["engine.claimed"])
        m["engine.links_found"] = sum(x.get("links_found", 0) for x in res)
        m["engine.enqueue_accept_ratio"] = _ratio(sum(x.get("enqueued", 0) for x in res), m["engine.links_found"])

    deltas = a.named("frontier.commit_delta")
    g = a.groups(deltas)
    m["frontier.commit_delta.s"] = a.seconds("frontier.commit_delta")
    m["frontier.commit_delta.self_s"] = sum(a.self_s(s) for s in deltas)
    m["frontier.commit_delta.jobs"] = len(a.jobs(g))
    m["frontier.commit_delta.bytes_written"] = log.group_totals(g).output_bytes
    compactions = [s for s in a.named("frontier.commit") if s.parent is not None and a.spans[s.parent].name == "frontier.commit_delta"]
    m["frontier.compaction.s"] = sum(s.end - s.start for s in compactions)
    m["frontier.compaction.count"] = len(compactions)
    m["frontier.deltas_outstanding"] = facts.get("deltas_outstanding", 0)
    m["frontier.disk_bytes_per_url"] = facts.get("disk_bytes_per_url", 0)

    fresh_spans = a.named("frontier.prepare_fresh")
    m["frontier.prepare_fresh.s"] = a.seconds("frontier.prepare_fresh")
    m["frontier.prepare_fresh.shuffle_write_bytes"] = log.group_totals(a.groups(fresh_spans)).shuffle_write_bytes
    m["frontier.prepare_fresh.offered"] = facts.get("offered", 0)
    m["frontier.prepare_fresh.fresh_ratio"] = _ratio(facts.get("fresh", 0), facts.get("offered", 0))
    m["frontier.add_requests.s"] = a.seconds("frontier.add_requests")
    m["frontier.add_requests.self_s"] = sum(a.self_s(s) for s in a.named("frontier.add_requests"))
    commits = a.named("frontier.commit")
    m["frontier.commit.s"] = a.seconds("frontier.commit")
    m["frontier.commit.bytes_written"] = log.group_totals(a.groups(commits)).output_bytes

    m["engine.add_seeds.s"] = a.seconds("engine.add_seeds")
    m["stats.final_statistics.s"] = a.seconds("stats.final_statistics")
    for name, key in (
        ("query.dedup_exact", "dedup.exact"),
        ("query.dedup_minhash_lsh", "dedup.minhash"),
        ("query.text_quality", "text_analysis.quality"),
        ("query.corpus_curation", "curation"),
    ):
        m[f"{key}.s"] = a.seconds(name)
    tot = log.group_totals(a.groups(a.named("query.dedup_minhash_lsh")))
    m["dedup.minhash.shuffle_write_bytes"] = tot.shuffle_write_bytes
    m["dedup.minhash.executor_cpu_s"] = tot.cpu_ns / 1e9
    m["curation.shuffle_write_bytes"] = log.group_totals(a.groups(a.named("query.corpus_curation"))).shuffle_write_bytes

    root_groups = a.groups(a.roots)
    udf = defaultdict(float)
    for node, vals in log.python_nodes(root_groups):
        layers = [k for k, rx in _UDF_RE.items() if rx.search(node.desc)]
        udf["boot_ms"] += vals.get("time to start Python workers", 0)
        if len(layers) > 1:
            m["spark.mixed_udf_nodes"] += 1
        for layer in layers:
            # every UDF of a node sees all its rows; time and bytes of a node
            # shared by layers are split evenly
            share = 1 / len(layers)
            udf[f"{layer}.python_s"] += vals.get("time to run Python workers", 0) / 1000 * share
            udf[f"{layer}.rows"] += vals.get("number of output rows", 0)
            udf[f"{layer}.bytes_to_python"] += vals.get("data sent to Python workers", 0) * share
    for layer in LAYER_UDFS:
        for k in ("python_s", "rows", "bytes_to_python"):
            if f"{layer}.{k}" in m:
                m[f"{layer}.{k}"] = udf[f"{layer}.{k}"]
    executions = {j.execution for j in a.jobs(a.groups(fresh_spans)) if j.execution is not None}
    m["keying.arrow_nodes"] = max(
        (sum(1 for n in log.final_plan_nodes(ex) if n.name == "ArrowEvalPython") for ex in executions),
        default=0,
    )

    tot = log.group_totals(root_groups)
    m["spark.gc_s"] = tot.gc_ms / 1000
    m["spark.spill_bytes"] = tot.spill_bytes
    m["spark.python_boot_s"] = udf["boot_ms"] / 1000
    root_jobs = a.jobs(root_groups)
    m["spark.jobs"] = len(root_jobs)
    m["spark.unattributed_jobs"] = sum(
        1
        for j in log.jobs.values()
        if j.group not in root_groups
        and any(r.start * 1000 <= j.submit_ms <= r.end * 1000 for r in a.roots)
    )
    m["trace.wall_s"] = facts.get("wall_s", 0)
    m["trace.untraced_wall_s"] = facts.get("untraced_wall_s", 0)
    m["trace.overhead_ratio"] = _ratio(m["trace.wall_s"], m["trace.untraced_wall_s"])
    m["bench.failed_share"] = facts.get("failed_share", 0)
    return m
