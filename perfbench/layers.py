"""Per-layer metrics of a traced run.

Every Spark job of the timed phase carries the id of the innermost bench
span that was open when it was submitted. Within that span it is charged
to the graft source file at the top of its call site (the first `graft.`
frame below Spark's own), and that file to a module named after
src/main/scala/graft/<module>/. A job the benchmark's own code forced (a
returned frame collected, a stage output counted) has no graft frame; it
is charged to the module that names its span, or to `bench` when no
module does. Planning time comes from each executed
query's QueryExecution tracker and is charged to the timed call whose
interval holds the start of its first phase.
"""
import os
import re
import statistics

MB = 1024 * 1024
FRAME = re.compile(r"^(\S+)\((\w+\.scala):(\d+)\)")

# metrics every workload reaches; BENCHMARK.json lists exactly these
COMMON = [
    ("spark.plan_ms_per_op", "ms"), ("spark.driver_gap_ms_per_op", "ms"),
    ("spark.jobs_per_op", "count"), ("spark.tasks_per_op", "count"),
    ("spark.job_ms_per_op", "ms"), ("spark.task_ms_per_op", "ms"),
    ("spark.cpu_util", "ratio"), ("spark.shuffle_mb_per_op", "MB"),
    ("spark.spill_mb_per_op", "MB"), ("spark.gc_ms_per_op", "ms"),
    ("spark.job_ms.graft", "ms"), ("bench.trace_overhead_frac", "ratio"),
]


def modules(root):
    """graft source file name -> module."""
    out = {}
    base = os.path.join(root, "src", "main", "scala", "graft")
    for d, _, fs in os.walk(base):
        rel = os.path.relpath(d, base)
        for f in fs:
            if not f.endswith(".scala"):
                continue
            top = rel.split(os.sep)[0]
            if top == "store":
                out[f] = "store.conv" if f == "ConversationStore.scala" else "store.snap"
            else:
                out[f] = "graft" if top == "." else top
    return out


LAYERS = ("api", "pipeline", "store.conv", "store.snap", "rag", "streaming", "dedup",
          "text", "ops")


def span_module(name):
    return next((m for m in LAYERS if name == m or name.startswith(m + ".")), "bench")


def call_site(details):
    """(file, line, method) of the top graft frame, or None for a job the
    benchmark's own code forced."""
    for line in details.splitlines():
        m = FRAME.match(line.strip())
        if not m or m.group(1).startswith(("org.apache.spark", "scala.", "java.")):
            continue
        if m.group(1).startswith("graftbench."):
            return None
        if m.group(1).startswith("graft."):
            return m.group(2), int(m.group(3)), m.group(1)
    return None


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def med(xs):
    return statistics.median(xs) if xs else None


def per_layer(traced, plain, root):
    """(metrics listed in BENCHMARK.json, every layer metric with its unit
    and sample count)."""
    t = traced["trace"]
    spans = {s[0]: {"id": s[0], "name": s[1], "parent": s[2], "start": s[3],
                    "end": s[4], "ms": s[5]} for s in t["spans"]}
    ops = [s for s in spans.values() if s["parent"] < 0]
    n_ops = len(ops)
    root_of = {}
    for s in spans.values():
        r = s
        while r["parent"] >= 0:
            r = spans[r["parent"]]
        root_of[s["id"]] = r["id"]
    mods = modules(root)
    jobs = t["jobs"]
    for j in jobs:
        site = call_site(j["details"])
        j["file"], j["line"] = (site[0], site[1]) if site else (None, None)
        j["module"] = (mods.get(site[0], "graft") if site
                       else span_module(spans[j["span"]]["name"]))
        j["op"] = root_of.get(j["span"])
        j["ms"] = j["end_ms"] - j["start_ms"]

    out = {}

    def put(name, value, unit, n):
        if value is not None:
            out[name] = (value, unit, n)

    by_op = {o["id"]: [] for o in ops}
    for j in jobs:
        if j["op"] in by_op:
            by_op[j["op"]].append(j)
    job_ms = sum(union_ms([(j["start_ms"], j["end_ms"]) for j in by_op[o["id"]]],
                          o["start"], o["end"]) for o in ops)
    gap = sum(o["ms"] for o in ops) - job_ms
    plans = t["plans"]
    plan_ms = sum(p[1] for p in plans for o in ops if o["start"] <= p[0] <= o["end"])
    run_ms = sum(j["run_ms"] for j in jobs)
    put("spark.plan_ms_per_op", plan_ms / n_ops, "ms", n_ops)
    put("spark.driver_gap_ms_per_op", gap / n_ops, "ms", n_ops)
    put("spark.jobs_per_op", len(jobs) / n_ops, "count", len(jobs))
    put("spark.tasks_per_op", sum(j["tasks"] for j in jobs) / n_ops, "count", n_ops)
    put("spark.job_ms_per_op", job_ms / n_ops, "ms", len(jobs))
    put("spark.task_ms_per_op", run_ms / n_ops, "ms", sum(j["tasks"] for j in jobs))
    put("spark.cpu_util", run_ms / (traced["timed_wall_s"] * 1000 * traced["slots"]),
        "ratio", n_ops)
    put("spark.shuffle_mb_per_op", sum(j["shuffle_write"] for j in jobs) / MB / n_ops,
        "MB", len(jobs))
    put("spark.spill_mb_per_op", sum(j["spill"] for j in jobs) / MB / n_ops, "MB", len(jobs))
    put("spark.gc_ms_per_op", traced["gc_ms"] / n_ops, "ms", n_ops)
    for m in sorted({j["module"] for j in jobs}):
        js = [j for j in jobs if j["module"] == m]
        put(f"spark.job_ms.{m}", sum(j["ms"] for j in js) / n_ops, "ms", len(js))
    gj = [j for j in jobs if j["module"] != "bench"]
    put("spark.job_ms.graft", sum(j["ms"] for j in gj) / n_ops, "ms", len(gj))
    plain_ms = [o[2] for o in plain["ops"]]
    traced_ms = [o[2] for o in traced["ops"]]
    put("bench.trace_overhead_frac", med(traced_ms) / med(plain_ms) - 1, "ratio",
        len(traced_ms))

    layer = {"service": service, "ingest": ingest, "curate": curate}[traced["workload"]]
    layer(traced, spans, ops, jobs, put, root)

    common = {k: {"value": out[k][0], "unit": u} for k, u in COMMON}
    everything = {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in sorted(out.items())}
    return common, everything


def op_medians(ops, names, put, prefix, rename=lambda n: n, scale=1.0, unit="ms"):
    for name in names:
        xs = [o["ms"] / scale for o in ops if o["name"] == name]
        put(prefix + rename(name), med(xs), unit, len(xs))


def service(r, spans, ops, jobs, put, root):
    c = r["counters"]
    sessions = c["sessions"]
    op_medians(ops, ["api.start", "api.answer", "api.status", "api.result", "api.list",
                     "api.list_after"], put, "", lambda n: n + "_ms")
    runs = [s for s in spans.values() if s["name"] == "pipeline.run"]
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)
    put("pipeline.run_ms", med([s["ms"] for s in runs]), "ms", len(runs))
    put("pipeline.self_ms", med([s["ms"] - sum(k["ms"] for k in kids.get(s["id"], [])
                                                if k["name"].startswith(("store.", "agents.", "events.")))
                                 for s in runs]), "ms", len(runs))
    put("pipeline.cache_hit_frac", c["pipeline.cache_hits"] / c["pipeline.runs"], "ratio",
        c["pipeline.runs"])
    put("pipeline.searches_per_run", c["pipeline.searches"] / c["pipeline.runs"], "count",
        c["pipeline.runs"])
    verbs = sorted({s["name"] for s in spans.values() if s["name"].startswith("store.conv.")})
    for v in verbs:
        xs = [s["ms"] for s in spans.values() if s["name"] == v]
        put(v + "_ms", med(xs), "ms", len(xs))
    put("store.conv.files", c["store.conv.files"], "count", 1)
    conv_ids = {s["id"] for s in spans.values() if s["name"].startswith("store.conv.")}
    written = sum(j["bytes_out"] for j in jobs if j["span"] in conv_ids)
    added = c["space.logical_bytes"] - c["space.logical_bytes_start"]
    put("store.conv.write_amp", written / added if added > 0 else None, "ratio", 1)
    run_ids = {s["id"] for s in runs}
    in_run = [j for j in jobs if under(j["span"], run_ids, spans)]
    ctx_lines = context_lines(root)
    gate = [j for j in in_run if j["file"] == "Rag.scala"]
    ctx = [j for j in in_run if j["file"] == "Research.scala" and j["line"] in ctx_lines]
    put("rag.gate_ms", sum(j["ms"] for j in gate) / len(runs), "ms", len(gate))
    misses = c["pipeline.runs"] - c["pipeline.cache_hits"]
    if misses:
        put("rag.context_ms", sum(j["ms"] for j in ctx) / misses, "ms", len(ctx))
    put("rag.indexed_rows", c["rag.indexed_rows"], "count", 1)
    emits = [s["ms"] for s in spans.values() if s["name"] == "events.emit"]
    put("events.emit_ms", sum(emits) / max(1, len(emits)), "ms", len(emits))
    put("events.per_session", c["events.emitted"] / sessions, "count", sessions)
    agent_ms = sum(s["ms"] for s in spans.values() if s["name"].startswith("agents."))
    agent_ms += sum(v for k, v in r["trace"]["off_client_ms"].items() if k.startswith("agents."))
    put("agents.ms_per_session", agent_ms / sessions, "ms", sessions)


def under(span, ids, spans):
    while span is not None and span >= 0:
        if span in ids:
            return True
        span = spans[span]["parent"] if span in spans else None
    return False


def context_lines(root):
    """Lines from the pipeline's context-retrieval call to the collect that
    forces it (the call site names the first line of the expression)."""
    p = os.path.join(root, "src", "main", "scala", "graft", "pipeline", "Research.scala")
    try:
        lines = open(p).read().splitlines()
    except OSError:
        return None
    start = next((i for i, l in enumerate(lines) if "Rag.contextRetrieval(" in l), None)
    if start is None:
        return range(0)
    end = next((i + 1 for i in range(start, len(lines)) if ".collect()" in lines[i]), start + 1)
    return range(start + 1, end + 1)


def ingest(r, spans, ops, jobs, put, root):
    c = r["counters"]
    op_medians(ops, ["streaming.ingest"], put, "", lambda n: "streaming.batch_ms")
    op_medians(ops, ["streaming.replay"], put, "", lambda n: "streaming.replay_noop_ms")
    put("streaming.admit_frac", c["docs_admitted"] / c["docs_offered"], "ratio",
        c["docs_offered"])
    put("streaming.redelivery_reject_frac", c["redelivered_rejected"] / c["redelivered"],
        "ratio", c["redelivered"])
    op_medians(ops, ["store.snap.lookup", "store.snap.scan", "store.snap.count",
                     "store.snap.meta_count", "store.snap.history", "store.snap.merge",
                     "store.snap.compact", "store.snap.expire"], put, "", lambda n: n + "_ms")
    put("store.snap.files_per_lookup", c["store.snap.files_per_lookup"], "count", 1)
    put("store.snap.pruned_frac", c["store.snap.pruned_frac"], "ratio", 1)
    lookups = [o["id"] for o in ops if o["name"] == "store.snap.lookup"]
    rows = sum(j["records_in"] for j in jobs if j["op"] in set(lookups))
    put("store.snap.rows_read_per_lookup", rows / len(lookups), "count", len(lookups))
    rewrites = {o["id"] for o in ops if o["name"] in ("store.snap.merge", "store.snap.compact")}
    put("store.snap.bytes_rewritten", sum(j["bytes_out"] for j in jobs if j["op"] in rewrites),
        "bytes", len(rewrites))
    put("store.snap.versions", c["store.snap.versions"], "count", 1)
    put("store.snap.manifest_kb", c["store.snap.manifest_bytes"] / 1024, "KB", 1)
    added = c["space.logical_bytes"] - c["space.logical_bytes_start"]
    put("store.snap.write_amp", sum(j["bytes_out"] for j in jobs) / added if added > 0 else None,
        "ratio", 1)


def curate(r, spans, ops, jobs, put, root):
    c = r["counters"]
    stages = ["text.gate", "dedup.exact", "dedup.signature", "dedup.pairs", "dedup.components",
              "dedup.survivors", "dedup.simhash", "dedup.winnow", "ops.dsir", "ops.mix_split"]
    op_medians(ops, stages, put, "", lambda n: n + "_s", scale=1000.0, unit="s")
    op_medians(ops, ["curate.lookup", "curate.split_sizes", "curate.per_source",
                     "curate.dsir_top", "curate.clusters"], put, "", lambda n: n + "_ms")
    put("text.gate_pass_frac", c["rows.gated"] / c["docs_per_pass"], "ratio", c["docs_per_pass"])
    put("dedup.pairs_per_doc", c["rows.pairs"] / c["rows.gated"], "count", c["rows.gated"])
    put("dedup.survivor_frac", c["rows.survivors"] / c["rows.gated"], "ratio", c["rows.gated"])
    comp = {o["id"] for o in ops if o["name"] == "dedup.components"}
    sums = {j["exec"] for j in jobs if j["op"] in comp and "labelSum" in j["details"]}
    # one label sum seeds the loop, then one per round
    put("dedup.components_iters", (len(sums) - len(comp)) / len(comp) if comp else None,
        "count", len(comp))
