"""Turns the benchmark program's raw record into metrics.

The raw record (written by layerbench.Main) holds the ops the run
timed, its passes, set-up times, output checks and, for traced parts,
Spark jobs and stages tagged with the op that ran them. Everything
here is plain arithmetic over that record, plus the DuckDB oracle
check of serve_mix's outputs.
"""
import json
import math
import os
import re
import statistics

MODULES = ["Relational", "EventOps", "Dedup", "TextAnalysis", "Similarity", "Pipeline",
           "Extras", "TrainingOps", "CurationOps", "AnalyticsOps", "RetrievalOps"]

MIX_QUERIES = ["q01_pricing_summary", "q65_sessionize", "q27_minhash_dup_pairs",
               "q29_lang_id", "q219_nsw_graph_recall", "q153_sequence_pack",
               "q88_curation_funnel", "q102_equidepth_hist", "q145_bm25_topk",
               "q152_media_pipeline", "q36_schema_infer", "q142_triangles"]

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "BENCHMARK.json")


def metric_names(trace, spec=SPEC):
    """The metrics a run prints, name -> unit: BENCHMARK.json's
    end-to-end set (--trace 0) or per-layer set (--trace 1). Every
    workload prints the same set; the record holds the rest."""
    with open(spec) as fh:
        b = json.load(fh)
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


# Source file named in a stage's call site -> the module it belongs to.
FILE_MODULES = {
    "SchemaInference": "schema", "SchemaAggregator": "schema", "InferredSchema": "schema",
    "SchemaYaml": "schema", "TypeLattice": "types", "AType": "types",
    "ExtendedJsonSource": "sources", "Source": "sources",
    "Normalizer": "normalize", "Engine": "engine", "SchemaConfig": "config",
    "StreamOps": "streaming", "StreamRestartDrive": "streaming",
    "MinHashSig": "functions", "MisraGries": "functions", "PyNorm": "functions",
    "QuantileSketch": "functions", "RollingHash": "functions", "SimHash64": "functions",
    "TextExpressions": "functions", "TokenTf": "functions", "VectorExpressions": "functions",
    "JvmAudioCodec": "multimodal", "JvmImageCodec": "multimodal",
    "JvmVideoCodec": "multimodal", "Multimodal": "multimodal",
    "SessionMemo": "operators.SessionMemo", "Tables": "operators.Tables",
    "Scale": "operators.Scale",
    "Main": "benchmark", "Gen": "benchmark", "Lanes": "benchmark", "Trace": "benchmark",
    "FingerprintSink": "benchmark",
}
FILE_MODULES.update({m: f"operators.{m}" for m in MODULES})

# Op kinds whose wall time is the workload's timed work, and the calls
# among them that call_s_geomean averages (an EL load, a registry query).
TIMED = ("el_batch", "el_stream", "query", "serve")
CALLS = ("el_batch", "query")

CALL_SITE = re.compile(r"\bat ([A-Za-z_$][\w$]*)\.(?:scala|java):\d+")


def module_of(stage_name):
    """Module of a stage from its call site, e.g.
    'treeAggregate at SchemaInference.scala:79' -> 'schema'. Call sites
    in files outside the engine (Spark internals) map to 'spark'."""
    m = CALL_SITE.search(stage_name or "")
    if not m:
        return "spark"
    return FILE_MODULES.get(m.group(1), "spark")


def tail(values, min_beyond=10):
    """The highest percentile with at least `min_beyond` samples above
    it: (value, percentile, samples beyond). With fewer than
    min_beyond + 1 samples no percentile qualifies and the maximum is
    returned as p100 with 0 samples beyond."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    if n <= min_beyond:
        return xs[-1], 100.0, 0
    rank = n - min_beyond          # 1-based rank of the reported sample
    return xs[rank - 1], math.floor(1000.0 * rank / n) / 10.0, n - rank


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = list(xs)
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


class Trace:
    """Jobs and stages of a raw record, indexed by op."""

    def __init__(self, raw):
        t = raw.get("trace") or {}
        self.jobs = t.get("jobs", [])
        self.stages = t.get("stages", [])
        self.executions = t.get("executions", [])
        # a streaming query's jobs run on its own thread, which carries the
        # op id current when the query started: attribute those by time
        # to the op running when the job started
        windows = [(o["start_ms"], o["end_ms"], o["id"]) for o in raw.get("ops", [])]
        span = {o_id: (s, e) for s, e, o_id in windows}
        self.jobs_by_op = {}
        for j in self.jobs:
            op = j["op"]
            s, e = span.get(op, (None, None))
            if s is None or not s <= j["start_ms"] <= e:
                op = next((i for s, e, i in windows if s <= j["start_ms"] <= e), -1)
                j = dict(j, op=op)
            self.jobs_by_op.setdefault(op, []).append(j)
        job_op = {j["id"]: op for op, js in self.jobs_by_op.items() for j in js}
        self.stages_by_op = {}
        for s in self.stages:
            self.stages_by_op.setdefault(job_op.get(s["job"], -1), []).append(s)

    def traced(self, op):
        return op["id"] in self.jobs_by_op

    def stages_of(self, op, module=None):
        ss = self.stages_by_op.get(op["id"], [])
        if module is None:
            return ss
        mods = (module,) if isinstance(module, str) else module
        return [s for s in ss if module_of(s["name"]) in mods]

    def sum(self, op, field, module=None):
        return sum(s[field] for s in self.stages_of(op, module))

    def wall(self, op, module=None):
        return sum(max(0.0, s["end_ms"] - s["start_ms"]) for s in self.stages_of(op, module)) / 1e3

    def write_stats(self, op):
        """File-write metrics of the SQL executions that ended inside op."""
        out = {}
        for e in self.executions:
            if op["start_ms"] <= e["end_ms"] <= op["end_ms"] + 50 and e.get("write"):
                for k, v in e["write"].items():
                    out[k] = out.get(k, 0) + v
        return out

    def idle_core_s(self, op, cores):
        """Job wall x cores minus executor run time, over the op's jobs."""
        jobs = self.jobs_by_op.get(op["id"], [])
        wall = sum(max(0.0, j["end_ms"] - j["start_ms"]) for j in jobs) / 1e3
        return wall * cores - self.sum(op, "run_ms") / 1e3

    def driver_s(self, op):
        """Op wall with no job of the op running (planning, registration)."""
        spans = sorted((j["start_ms"], j["end_ms"]) for j in self.jobs_by_op.get(op["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            s, e = max(s, op["start_ms"]), min(e, op["end_ms"])
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, (op["end_ms"] - op["start_ms"]) - covered) / 1e3


def op_wall(op):
    return (op["end_ms"] - op["start_ms"]) / 1e3


def report(raw, oracle):
    """Metrics, counters and checks of one run."""
    w = raw["workload"]
    ops = raw["ops"]
    by_id = {o["id"]: o for o in ops}
    tr = Trace(raw)
    passes = raw["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]

    def timed_wall(p):
        return sum(op_wall(by_id[i]) for i in p["ops"] if by_id[i]["kind"] in TIMED)

    def pass_ops(ps, kind):
        return [by_id[i] for p in ps for i in p["ops"]
                if by_id[i]["kind"] == kind and by_id[i]["ok"]]

    calls = [o for k in CALLS for o in pass_ops(untraced, k)]
    m = {
        "setup_s": median(raw["setup_s"]),
        "pass_s": median(timed_wall(p) for p in untraced),
        "call_s_geomean": geomean(op_wall(o) for o in calls),
    }
    if w == "serve_mix":
        walls = [op_wall(o) for o in calls]
        tail_v, tail_p, tail_n = tail(walls)
        serve = pass_ops(untraced, "serve")
        input_bytes = sum(raw.get("tables", {}).values())
        m.update({
            # bytes the pass's queries read per byte of the tables
            "read_bytes_per_input_byte": median(
                sum(by_id[i]["read_bytes"] for i in p["ops"] if by_id[i]["kind"] == "query")
                / max(1, input_bytes) for p in untraced),
            "mix_pass_s": m["pass_s"],
            "query_s_p50": median(walls),
            "query_s_tail": tail_v or 0.0,
            "stream_serve_qps": raw.get("probes_per_trigger", 0) * len(serve)
            / max(1e-9, sum(map(op_wall, serve))),
        })
        labels = {"query_s_tail": {"percentile": tail_p, "samples_beyond": tail_n,
                                   "samples": len(walls)}}
    else:
        inputs = {i["label"]: i for i in raw.get("inputs", [])}

        def per_call(ops_, f):
            return median(f(o, inputs[o["name"]]) for o in ops_)

        m.update({
            "read_bytes_per_input_byte": per_call(calls, lambda o, i: o["read_bytes"] / i["bytes"]),
            "el_written_bytes_per_input_byte": per_call(
                calls, lambda o, i: o["written_bytes"] / i["bytes"]),
            "el_docs_per_s": per_call(calls, lambda o, i: i["docs"] / op_wall(o)),
            "el_mb_per_s": per_call(calls, lambda o, i: i["bytes"] / 1e6 / op_wall(o)),
        })
        stream = pass_ops(untraced, "el_stream")
        if stream:
            m["stream_el_docs_per_s"] = per_call(stream, lambda o, i: i["docs"] / op_wall(o))
        walls = [op_wall(o) for o in calls]
        tail_v, tail_p, tail_n = tail(walls)
        labels = {"el_docs_per_s": {"samples": len(calls)},
                  "stream_el_docs_per_s": {"samples": len(stream)},
                  "el_batch_s_tail": {"value": tail_v, "percentile": tail_p,
                                      "samples_beyond": tail_n, "samples": len(walls)}}

    if traced:
        m.update(per_layer(raw, tr, traced, by_id, untraced, timed_wall))

    checks = raw["checks"] + oracle
    failed_ops = [o for o in ops if not o["ok"]]
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = len(ops) + len(checks)
    failed = len(failed_ops) + len(failed_checks)
    m["failed_op_share"] = failed / max(1, attempted)

    out = {
        "workload": w, "seed": raw["seed"], "seconds": raw["seconds"], "trace": raw["trace"],
        "attempted": attempted, "failed": failed,
        "metrics": m, "labels": labels,
        "failed_ops": failed_ops, "failed_checks": failed_checks,
        "checks_run": len(checks),
        "setup_s_reps": raw["setup_s"],
        "gen_s": raw.get("gen_s"),
        "passes": [{"traced": p["traced"], "wall_s": p["wall_s"], "timed_s": timed_wall(p)}
                   for p in passes],
        "inputs": raw.get("inputs") or raw.get("tables"),
        "ops": [{"id": o["id"], "kind": o["kind"], "name": o["name"], "wall_s": op_wall(o),
                 "read_bytes": o["read_bytes"], "written_bytes": o["written_bytes"],
                 "ok": o["ok"]} for o in ops],
    }
    if w == "el_drift":
        out["sampled_fields"] = raw.get("sampled_fields")
    if w == "serve_mix":
        out["first_touch_s"] = raw.get("first_touch_s")
        out["memo"] = {"after_setup": raw.get("memo_after_setup"), "at_end": raw.get("memo_at_end")}
        out["q142"] = q142(raw, tr, traced, untraced, by_id)
    if tr.jobs:
        out["spans"] = spans(raw, tr)
    return out


def per_layer(raw, tr, traced, by_id, untraced, timed_wall):
    """Per-layer metrics of the traced passes."""
    cores = raw["cores"]
    ops_t = [by_id[i] for p in traced for i in p["ops"]]

    def kind(k):
        return [o for o in ops_t if o["kind"] == k and o["ok"]]

    m = {}
    el = kind("el_batch")
    if el:
        m["schema.infer_s"] = median(tr.wall(o, ("schema", "types")) for o in el)
        m["schema.docs_sampled"] = median(
            tr.sum(o, "input_records", ("schema", "types")) for o in el)
        m["schema.core_s"] = median(tr.sum(o, "run_ms", ("schema", "types")) / 1e3 for o in el)
        m["sources.parse_s"] = median(tr.wall(o, "sources") for o in el)
        m["sources.bytes_read"] = median(tr.sum(o, "input_bytes") for o in el)
        m["sources.records_read"] = median(tr.sum(o, "input_records") for o in el)
        m["sources.core_s"] = median(tr.sum(o, "run_ms", "sources") / 1e3 for o in el)
        # the noop writes' scan stages (call site in the benchmark) parse,
        # and parse + normalize; the EL write stage parses, normalizes
        # and writes: the differences are each layer's self time
        read = median(tr.wall(o, "benchmark") for o in kind("read_noop"))
        norm = median(tr.wall(o, "benchmark") for o in kind("normalize_noop"))
        m["normalize.self_s"] = norm - read
        m["write.self_s"] = median(tr.wall(o, "engine") for o in el) - norm
        stats = [tr.write_stats(o) for o in el]
        m["write.bytes"] = median(s.get("numOutputBytes", 0) for s in stats)
        m["write.files"] = median(s.get("numFiles", 0) for s in stats)
        m["write.commit_ms"] = median(s.get("jobCommitTime", 0) for s in stats)

    st = kind("el_stream")
    if st:
        m["streaming.ingest_s"] = median(op_wall(o) for o in st)
        batches = raw.get("micro_batches", {})
        m["streaming.batches"] = median(batches.get(str(o["id"]), 0) for o in st)
        m["streaming.core_s"] = median(tr.sum(o, "run_ms") / 1e3 for o in st)

    for lane in ("bm25", "ivf_mmr", "nsw"):
        serve = [o for o in kind("serve") if o["name"] == lane]
        if serve:
            m[f"streaming.{lane}_qps"] = (raw.get("probes_per_trigger", 0) * len(serve)
                                          / sum(map(op_wall, serve)))

    if kind("query"):
        modules = raw.get("modules", {})
        for mod in MODULES:
            m[f"operators.{mod}.s"] = median(
                sum(op_wall(by_id[i]) for i in p["ops"]
                    if by_id[i]["kind"] == "query" and modules.get(by_id[i]["name"]) == mod)
                for p in traced)
        for q in MIX_QUERIES:
            m[f"query.{q}.s"] = median(op_wall(o) for o in kind("query") if o["name"] == q)
    memo = raw.get("memo_at_end")
    if memo:
        m["memo.pinned_rdds"] = memo["pinned_rdds"]
        m["memo.cached_bytes"] = memo["cached_bytes"]

    timed = [o for o in ops_t if o["kind"] in TIMED and o["ok"]]
    if timed:
        m["spark.jobs"] = statistics.mean(len(tr.jobs_by_op.get(o["id"], [])) for o in timed)
        m["spark.stages"] = statistics.mean(len(tr.stages_of(o)) for o in timed)
        m["spark.tasks"] = statistics.mean(tr.sum(o, "tasks") for o in timed)

    def per_pass(f):
        return median(sum(f(by_id[i]) for i in p["ops"] if by_id[i]["kind"] in TIMED)
                      for p in traced)

    m["spark.core_s"] = per_pass(lambda o: tr.sum(o, "run_ms") / 1e3)
    m["spark.gc_s"] = per_pass(lambda o: tr.sum(o, "gc_ms") / 1e3)
    m["spark.spill_bytes"] = per_pass(
        lambda o: tr.sum(o, "mem_spill_bytes") + tr.sum(o, "disk_spill_bytes"))
    m["spark.shuffle_read_bytes"] = per_pass(lambda o: tr.sum(o, "shuffle_read_bytes"))
    m["spark.shuffle_write_bytes"] = per_pass(lambda o: tr.sum(o, "shuffle_write_bytes"))
    m["spark.input_bytes"] = per_pass(lambda o: tr.sum(o, "input_bytes"))
    m["spark.single_task_stage_s"] = per_pass(
        lambda o: sum(max(0.0, s["end_ms"] - s["start_ms"]) for s in tr.stages_of(o)
                      if s["num_tasks"] == 1) / 1e3)
    m["spark.idle_core_s"] = per_pass(lambda o: tr.idle_core_s(o, cores))
    m["driver.s"] = per_pass(tr.driver_s)
    base = median(timed_wall(p) for p in untraced)
    m["trace.overhead_ratio"] = median(timed_wall(p) for p in traced) / base if base else 0.0
    return m


def q142(raw, tr, traced, untraced, by_id):
    """q142's counters: first touch against steady state, and where its
    traced time went."""
    name = "q142_triangles"
    steady = [op_wall(by_id[i]) for p in untraced for i in p["ops"]
              if by_id[i]["name"] == name and by_id[i]["kind"] == "query"]
    out = {"first_touch_s": (raw.get("first_touch_s") or {}).get(name), "steady_s": steady}
    tops = [by_id[i] for p in traced for i in p["ops"]
            if by_id[i]["name"] == name and by_id[i]["kind"] == "query"]
    setup = [o for o in raw["ops"] if o["name"] == name and o["kind"] == "setup" and tr.traced(o)]
    for label, group in (("traced_steady", tops), ("traced_first_touch", setup)):
        out[label] = [{
            "wall_s": op_wall(o),
            "spark.core_s": tr.sum(o, "run_ms") / 1e3,
            "spark.gc_s": tr.sum(o, "gc_ms") / 1e3,
            "spark.spill_bytes": tr.sum(o, "mem_spill_bytes") + tr.sum(o, "disk_spill_bytes"),
            "spark.single_task_stage_s": sum(max(0.0, s["end_ms"] - s["start_ms"])
                                             for s in tr.stages_of(o) if s["num_tasks"] == 1) / 1e3,
            "spark.idle_core_s": tr.idle_core_s(o, raw["cores"]),
            "spark.jobs": len(tr.jobs_by_op.get(o["id"], [])),
            "spark.stages": len(tr.stages_of(o)),
        } for o in group]
    return out


def spans(raw, tr):
    """op -> job -> stage spans with parent ids, for every traced op."""
    out = []
    for o in raw["ops"]:
        if not tr.traced(o):
            continue
        out.append({"id": f"op{o['id']}", "parent": None, "name": f"{o['kind']}:{o['name']}",
                    "start_ms": o["start_ms"], "end_ms": o["end_ms"]})
        for j in tr.jobs_by_op.get(o["id"], []):
            out.append({"id": f"job{j['id']}", "parent": f"op{o['id']}", "name": f"job {j['id']}",
                        "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
        for s in tr.stages_of(o):
            out.append(dict({k: s[k] for k in s if k not in ("id", "job")},
                            id=f"stage{s['id']}.{s['attempt']}", parent=f"job{s['job']}",
                            module=module_of(s["name"])))
    return out


# ---- DuckDB oracle ------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _normalize(rows):
    out = []
    for row in rows:
        out.append(tuple("NaN" if isinstance(v, float) and math.isnan(v) else repr(v)
                         for v in row))
    out.sort()
    return out


def oracle_checks(raw):
    """Each serve_mix query's first output against DuckDB running the
    query's oracle SQL over the same generated tables: same columns,
    same rows (columns sorted by name, rows sorted)."""
    oracle = raw.get("oracle")
    if not oracle:
        return []
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{oracle['tables']}/{t}.parquet')")
    checks = []
    for q in oracle["queries"]:
        name = f"serve_mix.{q['name']}.oracle"
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{q['out']}/*.parquet')")
            s_cols = [d[0] for d in s.description]
            s_rows = s.fetchall()
            d = con.execute(q["sql"])
            d_cols = [x[0] for x in d.description]
            d_rows = d.fetchall()
        except Exception as e:  # a failed read or oracle is a failed check
            checks.append({"name": name, "ok": False, "detail": str(e)[:300]})
            continue
        if sorted(s_cols) != sorted(d_cols):
            checks.append({"name": name, "ok": False,
                           "detail": f"columns {sorted(s_cols)} vs {sorted(d_cols)}"})
            continue
        si = [s_cols.index(c) for c in sorted(s_cols)]
        di = [d_cols.index(c) for c in sorted(d_cols)]
        a = _normalize([[r[i] for i in si] for r in s_rows])
        b = _normalize([[r[i] for i in di] for r in d_rows])
        checks.append({"name": name, "ok": a == b,
                       "detail": "" if a == b else f"{len(a)} vs {len(b)} rows"})
    return checks
