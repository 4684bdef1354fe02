"""Per-layer metrics of a traced run, named after the package's modules.

Times are span self times (span minus its child spans). Scheduler
counters come from the Spark event log, attributed to spans through the
job group each span sets. A layer that a workload never calls reports 0.
Values over several traced jobs are medians.
"""

from __future__ import annotations

import glob
import statistics

from gen import dir_size
from spans import EventLog


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _job_metrics(tr, ev, root, wall: float, out: dict) -> dict:
    """Layer metrics of one traced job whose root span is ``root``."""
    spans = tr.subtree(root)

    def named(name):
        return [s for s in spans if s.name == name]

    def self_s(name):
        return sum(tr.self_time(s) for s in named(name))

    files, size = dir_size(out["out"])
    m = {
        "sinks.write_s": self_s("sinks.write"),
        "sinks.read_s": self_s("sinks.read"),
        "sinks.files": files,
        "sinks.bytes": size,
        "trace.wall_s": wall,
    }
    counters = ev.counters({s.id for s in spans}, root.start, root.end)
    m.update({f"spark.{k}": v for k, v in counters.items()})
    graph = [s for s in spans if s.name.startswith("graph.")]
    if graph:
        for s in graph:
            m[f"{s.name}_s"] = self_s(s.name)
        m["graph.jobs"] = ev.counters({s.id for s in graph})["jobs"]
        m["graph.rdds_leaked"] = out["rdds_leaked"]
    return m


def per_layer(tr, runs, events_dir: str, names) -> tuple[dict, list[dict]]:
    """The per-layer metrics ``names`` of one traced run, and every span
    with its self time and the scheduler counters of the jobs run inside
    it.

    ``runs`` are the (tracer, wall, output, failed) tuples of the
    measured jobs, job ``i`` recorded under run id ``job{i}``; the ones
    recorded by ``tr`` are traced.
    """
    (path,) = glob.glob(f"{events_dir}/*")
    ev = EventLog(path)
    roots = {s.run: s for s in tr.spans if s.parent is None and s.name == "job"}
    per_job = [
        _job_metrics(tr, ev, roots[f"job{i}"], wall, out)
        for i, (t, wall, out, failed) in enumerate(runs)
        if t is tr and not failed
    ]
    m = {k: _median([j[k] for j in per_job]) for k in (per_job[0] if per_job else {})}
    untraced = [(wall, out) for t, wall, out, failed in runs if t is not tr and not failed]
    m["job.wall_s"] = _median([wall for wall, _out in untraced])
    m["job.triples_per_s"] = _median([out["triples"] / wall for wall, out in untraced])
    m["trace.overhead_s"] = m.get("trace.wall_s", 0.0) - m["job.wall_s"]

    layer_spans = [s for s in tr.spans if s.run == "layers" and s.parent is None]
    isolated = {s.name: s for s in layer_spans}
    if "extract" in isolated:
        x, d, ln = isolated["extract"], isolated["link_dict"], isolated["link"]
        m["extract.s"] = x.end - x.start
        m["extract.mentions"] = x.attrs["mentions"]
        m["extract.tasks"] = ev.counters({x.id})["tasks"]
        m["link_dict.s"] = d.end - d.start
        m["link_dict.rows_fetched"] = d.attrs["n_fetched"]
        m["link_dict.kept_ratio"] = d.attrs["kept"] / max(1, d.attrs["n_fetched"])
        m["link_dict.jobs"] = ev.counters({d.id})["jobs"]
        m["link.s"] = ln.end - ln.start
        m["link.linked_ratio"] = ln.attrs["n_linked"] / max(1, ln.attrs["n_mentions"])
        m["link.broadcast_rows"] = ln.attrs["broadcast_rows"]
    csv = [s for s in layer_spans if s.name == "csv.read"]
    if csv:
        (nodes,) = [s for s in layer_spans if s.name == "import.nodes"]
        (rels,) = [s for s in layer_spans if s.name == "import.rels"]
        m["csv.read_s"] = sum(s.end - s.start for s in csv)
        m["csv.jobs"] = ev.counters({s.id for s in csv})["jobs"]
        m["import.nodes_s"] = tr.self_time(nodes)
        m["import.rels_s"] = tr.self_time(rels)
        m["import.resolved_ratio"] = rels.attrs["n_resolved"] / max(1, rels.attrs["n_input"])
    resume = [s for s in layer_spans if s.name == "checkpoint.resume"]
    if resume:
        m["checkpoint.resume_s"] = _median([s.end - s.start for s in resume])
        m["checkpoint.calls"] = len(resume)
        m["checkpoint.jobs_per_call"] = ev.counters({s.id for s in resume})["jobs"] / len(resume)
        m["checkpoint.manifest_s"] = _median(
            [s.end - s.start for s in layer_spans if s.name == "checkpoint.manifest"]
        )
        m["checkpoint.rdds_leaked"] = max(s.attrs["rdds_leaked"] for s in resume)

    spans = [
        dict(vars(s), self_s=tr.self_time(s),
             **ev.counters({d.id for d in tr.subtree(s)}, s.start, s.end))
        for s in tr.spans
    ]
    return {name: float(m.get(name, 0.0)) for name in names}, spans
