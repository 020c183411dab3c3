"""Per-layer report of a traced run.

Each timed op is a tree: the op's root span, the spans the benchmark opened
around its calls into graft's modules, the streaming micro-batches that ran
inside them and the Spark jobs that ran inside those (concurrent jobs under
one parent are merged into one interval). A node's self time is its
duration minus the part its children cover; per op, the layers' self times
must add up to the op's wall within 10%, or the op is flagged.

Additive metrics are reported per timed op (their sum over the pass divided
by the number of ops), peaks as maxima and ratios with their base.
"""
import collections

import stats
import workloads

RECONCILE = 0.10


class Node:
    def __init__(self, layer, name, start, end):
        self.layer, self.name, self.start, self.end = layer, name, start, end
        self.children = []

    def clip(self, parent):
        self.start = min(max(self.start, parent.start), parent.end)
        self.end = min(max(self.end, self.start), parent.end)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def _deepest(nodes, t):
    best = None
    for n in nodes:
        if n.start <= t <= n.end and (best is None or n.start >= best.start):
            best = n
    return best


class Report:
    def __init__(self):
        self.metrics = {}
        self.lines = []


def op_trees(records):
    """(op record, root Node, jobs, batches) per timed op."""
    spans = [r for r in records if r["kind"] == "span"]
    by_span = {s["id"]: s for s in spans}
    ops = [r for r in records if r["kind"] == "op"]
    jobs = [r for r in records if r["kind"] == "job" and r["end"] > 0]
    batches = [r for r in records if r["kind"] == "batch"]
    out = []
    for op in ops:
        lo, hi = op["start"], op["end"]
        nodes = {}
        root = None
        for s in spans:
            if s["op"] != op["id"]:
                continue
            n = Node(s["layer"], s["name"], s["start"], s["end"])
            nodes[s["id"]] = n
            if s["parent"] < 0:
                root = n
        if root is None:
            continue
        for sid, n in nodes.items():
            p = by_span[sid]["parent"]
            if p >= 0 and p in nodes:
                n.clip(nodes[p])
                nodes[p].children.append(n)
        span_nodes = list(nodes.values())
        op_batches = [b for b in batches if lo <= b["start"] <= hi]
        batch_nodes = []
        for b in op_batches:
            n = Node("streaming", "micro-batch", b["start"], b["start"] + b["trigger_ms"] * 1000)
            parent = _deepest(span_nodes, b["start"]) or root
            n.clip(parent)
            parent.children.append(n)
            batch_nodes.append(n)
        op_jobs = [j for j in jobs
                   if (j["span"] in nodes) or (j["span"] < 0 and lo <= j["start"] <= hi)]
        grouped = collections.defaultdict(list)
        for j in op_jobs:
            parent = _deepest(batch_nodes, j["start"]) or nodes.get(j["span"]) \
                or _deepest(span_nodes, j["start"]) or root
            grouped[id(parent)].append((parent, (j["start"], j["end"])))
        for items in grouped.values():
            parent = items[0][0]
            for s, e in stats.union([iv for _, iv in items]):
                n = Node("spark", "jobs", s, e)
                n.clip(parent)
                parent.children.append(n)
        out.append((op, root, op_jobs, op_batches))
    return out


def self_times(root):
    acc = collections.Counter()
    for n in root.walk():
        acc[n.layer] += stats.self_time(n.start, n.end, [(c.start, c.end) for c in n.children])
    return acc


def report(records, timed_ops, pas):
    rep = Report()
    m = rep.metrics
    trees = op_trees(records)
    n_ops = max(len(trees), 1)
    kinds = {o["id"]: o["kind"] for o in timed_ops}
    setup = next(r for r in records if r["kind"] == "setup")
    spans = [r for r in records if r["kind"] == "span"]
    queries = [r for r in records if r["kind"] == "query"]
    ops = [t[0] for t in trees]
    jobs = [j for t in trees for j in t[2]]
    batches = [b for t in trees for b in t[3]]
    walls = [(o["end"] - o["start"]) / 1e6 for o in ops]
    total_wall = sum(walls) or 1e-9

    def per_op(x):
        return x / n_ops

    def span_s(layer, names):
        return sum(s["end"] - s["start"] for s in spans
                   if s["layer"] == layer and s["name"] in names) / 1e6

    def jsum(field):
        return sum(j[field] for j in jobs)

    m["session.create_s"] = (setup["create_us"] / 1e6, "s")
    m["session.warmup_s"] = (setup["warmup_us"] / 1e6, "s")
    m["io.resolve_s"] = (per_op(span_s("io", {"Graft.load", "Tables.table"})), "s")
    m["io.read_bytes"] = (per_op(jsum("read_bytes")), "B")
    m["io.read_rows"] = (per_op(jsum("read_rows")), "rows")
    m["io.write_bytes"] = (per_op(jsum("write_bytes")), "B")
    for name, span in [("build", "build"), ("unpack_probe", "Results.unpackJson"),
                       ("readback", "readback"), ("submit", "Jobs.submit"), ("elo", "Elo.ratings")]:
        m[f"llm.{name}_s"] = (per_op(span_s("llm", {span})), "s")
    m["llm.progress_ticks_per_task"] = (pas["progress_ticks"] / max(pas["progress_tasks"], 1), "ratio")
    free = [j for j in jobs if j["shuffle_read_bytes"] == 0 and j["shuffle_write_bytes"] == 0
            and j["read_rows"] > 0]
    m["functions.cpu_us_per_row"] = (
        sum(j["cpu_ns"] for j in free) / 1000 / max(sum(j["read_rows"] for j in free), 1), "us/row")

    def mean_wall(pred):
        w = [(o["end"] - o["start"]) / 1e6 for o in ops if pred(kinds[o["id"]])]
        return sum(w) / len(w) if w else 0.0

    for step in workloads.CurateCorpus.steps:
        layer = "streaming" if step.startswith("stream_") else "ops"
        m[f"{layer}.{step}_s"] = (mean_wall(lambda k, s=step: k == s), "s")
    m["ops.index_write_s"] = (mean_wall(lambda k: k.startswith("ivfpq_") and "_query_" not in k),
                              "s")
    m["ops.index_read_s"] = (mean_wall(lambda k: "_query_" in k), "s")
    m["ops.pinned_bytes_peak"] = (max([o["pinned_bytes"] for o in ops] or [0]), "B")

    def bsum(field):
        return sum(b[field] for b in batches)

    m["streaming.state_commit_s"] = (per_op(bsum("state_commit_ms") / 1e3), "s")
    m["streaming.log_commit_s"] = (per_op((bsum("wal_ms") + bsum("commit_offsets_ms")) / 1e3), "s")
    m["streaming.plan_s"] = (per_op(bsum("plan_ms") / 1e3), "s")
    stream_wall = sum(n.end - n.start for _, root, _, _ in trees for n in root.walk()
                      if n.layer == "streaming" and n.name != "micro-batch") / 1e6
    m["streaming.outside_batch_s"] = (per_op(max(stream_wall - bsum("trigger_ms") / 1e3, 0.0)), "s")
    m["streaming.add_batch_s"] = (per_op(bsum("add_batch_ms") / 1e3), "s")
    m["streaming.state_rows_updated"] = (per_op(bsum("state_rows_updated")), "rows")
    m["streaming.input_rows"] = (per_op(bsum("input_rows")), "rows")
    m["streaming.batches"] = (per_op(len(batches)), "count")
    m["streaming.state_rows_peak"] = (max([b["state_rows_total"] for b in batches] or [0]), "rows")
    m["streaming.state_mem_bytes_peak"] = (max([b["state_mem_bytes"] for b in batches] or [0]), "B")
    m["obs.trace_records"] = (pas["trace_records"], "count")
    m["obs.registry_jobs"] = (pas["registry_jobs"], "count")
    in_ops = [q for q in queries if any(o["start"] <= q["start"] <= o["end"] for o in ops)]
    for name, field in [("analysis", "analysis_ms"), ("optimizer", "optimization_ms"),
                        ("physical", "planning_ms")]:
        m[f"spark.plan_{name}_s"] = (per_op(sum(q[field] for q in in_ops) / 1e3), "s")
    m["spark.jobs"] = (per_op(len(jobs)), "count")
    m["spark.stages"] = (per_op(jsum("stages")), "count")
    m["spark.tasks"] = (per_op(jsum("tasks")), "count")
    m["spark.task_overhead_s"] = (per_op((jsum("task_ms") - jsum("run_ms")) / 1e3), "s")
    gap = sum(stats.driver_gap(o["start"], o["end"], [(j["start"], j["end"]) for j in op_jobs])
              for o, _, op_jobs, _ in trees) / 1e6
    m["spark.driver_gap_s"] = (per_op(gap), "s")
    m["spark.driver_gap_share"] = (gap / total_wall, "ratio")
    m["spark.executor_cpu_s"] = (per_op(jsum("cpu_ns") / 1e9), "s")
    m["spark.executor_run_s"] = (per_op(jsum("run_ms") / 1e3), "s")
    m["spark.gc_s"] = (per_op(jsum("gc_ms") / 1e3), "s")
    m["spark.cpu_util"] = (jsum("cpu_ns") / 1e9 / (total_wall * pas["cores"]), "ratio")
    m["spark.shuffle_write_bytes"] = (per_op(jsum("shuffle_write_bytes")), "B")
    m["spark.shuffle_read_bytes"] = (per_op(jsum("shuffle_read_bytes")), "B")
    m["spark.shuffle_fetch_wait_s"] = (per_op(jsum("fetch_wait_ms") / 1e3), "s")
    m["spark.spill_bytes"] = (per_op(jsum("spill_bytes")), "B")
    m["spark.failed_tasks"] = (jsum("failed_tasks"), "count")

    # self time per layer, per op kind; flag ops that do not reconcile
    layers = ["bench", "io", "llm", "ops", "streaming", "spark"]
    by_kind = collections.defaultdict(list)
    flagged = []
    for op, root, _, _ in trees:
        st = self_times(root)
        wall = root.end - root.start
        total = sum(st.values())
        if wall and abs(total - wall) > RECONCILE * wall:
            flagged.append(f"op {op['id']} {kinds[op['id']]}: layers sum {total / 1e6:.4f} s "
                           f"vs wall {wall / 1e6:.4f} s")
        by_kind[kinds[op["id"]]].append((wall, st))
    rep.lines.append("  self time per op (s), by layer:")
    rep.lines.append(f"    {'op':26s} {'n':>3s} {'wall':>8s} " + " ".join(f"{l:>9s}" for l in layers))
    for kind in sorted(by_kind):
        rows = by_kind[kind]
        cells = [sum(st[l] for _, st in rows) / len(rows) / 1e6 for l in layers]
        wall = sum(w for w, _ in rows) / len(rows) / 1e6
        rep.lines.append(f"    {kind:26s} {len(rows):3d} {wall:8.4f} "
                         + " ".join(f"{c:9.4f}" for c in cells))
    rep.lines.append(f"  self-time reconciliation: {len(trees) - len(flagged)} of {len(trees)} ops "
                     f"within {RECONCILE:.0%} of their wall")
    rep.lines.extend("  FLAGGED " + f for f in flagged[:10])
    for k, (v, u) in m.items():
        rep.lines.append(f"  {k:34s} {v:16.6f} {u}")
    return rep
