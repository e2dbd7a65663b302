"""Turns one raw run record (written by lakebench.Main) into the
reported metrics, the correctness verdict and the result file."""
import json
import os
import subprocess

import metrics as m

# end-to-end metrics: name -> unit (every workload reports every one)
END_TO_END = {
    "setup_s": "s", "latency_p50_ms": "ms", "throughput_per_s": "ops/s",
    "read_p50_ms": "ms", "write_amp": "ratio", "task_cpu_ms_per_op": "ms",
    "heap_peak_mb": "MB",
}
# latency_tail_ms and read_tail_ms are printed and stored with their
# percentile and n, but not bounded: cdc_scd2 times 6 increments per run,
# too few for any percentile with ten samples beyond it (see METRICS.md).

PER_LAYER = {
    "GraftSession.build_ms": "ms", "GraftSession.width": "count",
    "GraftSession.broadcast_bytes": "bytes",
    "spark.plan.analysis_ms": "ms", "spark.plan.optimizer_ms": "ms",
    "spark.plan.planning_ms": "ms", "spark.plan.codegen_ms": "ms",
    "spark.plan.changed": "count",
    "spark.sched.jobs_per_op": "count", "spark.sched.stages_per_op": "count",
    "spark.sched.stages_skipped_per_op": "count", "spark.sched.tasks_per_op": "count",
    "spark.sched.gap_ms": "ms",
    "spark.exec.task_cpu_ms": "ms", "spark.exec.gc_ms": "ms",
    "spark.exec.shuffle_write_bytes": "bytes", "spark.exec.shuffle_read_bytes": "bytes",
    "spark.exec.fetch_wait_ms": "ms", "spark.exec.spill_bytes": "bytes",
    "spark.exec.task_skew": "ratio", "spark.exec.scan_bytes": "bytes",
    "spark.exec.scan_rows": "count", "spark.exec.rows_per_result": "ratio",
    "spark.exec.files_listed": "count",
    "operators.rel_ms": "ms", "operators.tpch_ms": "ms", "operators.sql_ms": "ms",
    "ext.dedup_ms": "ms", "ext.sim_ms": "ms", "ext.text_ms": "ms", "ext.emb_ms": "ms",
    "cdc.land_ms": "ms", "cdc.rows_landed": "count", "cdc.rows_dropped": "count",
    "scd2.run_ms": "ms", "scd2.rows_processed": "count",
    "scd2.table.bytes_written": "bytes", "scd2.table.files_written": "count",
    "scd2.table.files_live": "count", "scd2.table.versions": "count",
    "scd2.table.rewrite_ratio": "ratio",
    "scd2.table.read_asof_ms": "ms", "scd2.table.read_keys_ms": "ms",
    "scd2.table.changes_ms": "ms", "scd2.table.history_ms": "ms",
    "scd2.table.files_read_ratio": "ratio",
    "scd2.table.vacuum_ms": "ms", "scd2.table.compact_ms": "ms",
    "sources.topic.produce_ms": "ms",
    "streaming.trigger_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.batches": "count", "streaming.empty_batch_ratio": "ratio",
    "streaming.rows_per_batch": "count", "streaming.state_rows": "count",
    "streaming.state_update_task_ms": "task-ms", "streaming.state_commit_task_ms": "task-ms",
    "trace.overhead_p50_ms": "ms", "trace.selfcheck_max_err_ms": "ms",
}

SELF_CHECK_TOL_MS = 1.0
FAMILY_METRIC = {
    "operators.rel": "operators.rel_ms", "operators.tpch": "operators.tpch_ms",
    "operators.sql": "operators.sql_ms", "ext.dedup": "ext.dedup_ms",
    "ext.sim": "ext.sim_ms", "ext.text": "ext.text_ms", "ext.emb": "ext.emb_ms"}
READ_KINDS = ("read_asof", "read_keys", "read_changes", "read_current", "read_history")
# cdc_scd2: an increment's latency is its landing and merge; table
# maintenance runs once per cycle and counts in throughput, not latency
LATENCY_KINDS = ("land", "run")
WRITE_KINDS = LATENCY_KINDS + ("vacuum", "compact")


def wall(o):
    return o["end_ms"] - o["start_ms"]


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def op_spans(o):
    """The span tree of one traced op: op -> Spark job -> stage."""
    spans = {"op": (o["start_ms"], o["end_ms"], None, 0)}
    jobs = {int(j[0]) for j in o.get("jobs_spans", [])}
    for j, s, e in o.get("jobs_spans", []):
        spans[f"job{int(j)}"] = (s, e, "op", 1)
    for sid, jid, s, e in o.get("stage_spans", []):
        parent = f"job{int(jid)}" if int(jid) in jobs else "op"
        spans[f"stage{int(sid)}"] = (s, e, parent, spans[parent][3] + 1)
    return spans


def self_check(o):
    """(gap_ms, error_ms): stage self times plus the scheduling gap must
    add up to the op's wall time, and all self times to the wall."""
    spans = op_spans(o)
    selfs = m.self_times(spans)
    stages = [(s, e) for k, (s, e, _, _) in spans.items() if k.startswith("stage")]
    gap = m.gap_ms(o["start_ms"], o["end_ms"], stages)
    stage_self = sum(v for k, v in selfs.items() if k.startswith("stage"))
    err = max(abs(stage_self + gap - wall(o)), abs(sum(selfs.values()) - wall(o)))
    return gap, err, selfs


def tail_note(name, samples):
    if not samples:
        return None, f"{name}: no samples"
    v, p, n = m.tail(samples)
    return v, f"{name} = {v:.3f} ms, p{p:g} of n={n} samples (unbounded)"


# ------------------------------------------------------------ workloads
def query_mix(rec, out):
    ops = rec["ops"]
    lat = [wall(o) for o in ops]
    reads = lat  # every query_mix op is a read-only query
    scan = sum(o["scan_bytes"] for o in ops)
    written = sum(o["shuffle_write_bytes"] + o["spill_bytes"] for o in ops)
    out["samples"] = {"latency": lat, "read": reads}
    out["throughput"] = len(ops) / (rec["measured_ms"] / 1000.0)
    out["write_amp"] = m.write_amp(written, scan)
    out["cpu_per_op"] = sum(o["cpu_ms"] for o in ops) / len(ops)
    out["attempted"] = len(ops) + len(rec["warm_ops"])


def increments(rec):
    by = {}
    for o in rec["ops"]:
        by.setdefault(o["extra"]["increment"], []).append(o)
    return [by[k] for k in sorted(by)]


def cdc_scd2(rec, out):
    incs = increments(rec)
    lat, reads, write_ms, events = [], [], 0.0, 0
    for ops in incs:
        lat.append(sum(wall(o) for o in ops if o["kind"] in LATENCY_KINDS))
        reads.append(sum(wall(o) for o in ops if o["kind"] in READ_KINDS))
        write_ms += sum(wall(o) for o in ops if o["kind"] in WRITE_KINDS)
        events += sum(o["extra"].get("events", 0) for o in ops if o["kind"] == "land")
    lst = rec["cdc"]["listings"]
    table_b, table_f = m.written_bytes([s["table"] for s in lst])
    bronze_b, _ = m.written_bytes([s["bronze"] for s in lst])
    out["samples"] = {"latency": lat, "read": reads}
    out["throughput"] = events / (write_ms / 1000.0) if write_ms else 0.0
    out["write_amp"] = m.write_amp(table_b, bronze_b)
    lane_cpu = sum(o["cpu_ms"] for o in timed_bronze_batches(rec))
    out["cpu_per_op"] = (sum(o["cpu_ms"] for o in rec["ops"]) + lane_cpu) / max(1, len(incs))
    out["attempted"] = len(rec["ops"]) + len(rec["warm_ops"])
    out["table"] = {"bytes_written": table_b, "files_written": table_f,
                    "bronze_bytes": bronze_b, "increments": len(incs), "events": events}


def lane_progress(rec, lane, lo=0, hi=None):
    ps = rec.get("progress", [])[lo:hi]
    return [p for p in ps if p["lane"] == lane]


def timed_bronze_progress(rec):
    return lane_progress(rec, "bronze", rec["cdc"]["progress_from"], rec["cdc"]["progress_to"])


def timed_bronze_batches(rec):
    """The bronze lane's micro-batches (as ops with task counters) that ran
    while increments were timed."""
    timed = {p["batch"] for p in timed_bronze_progress(rec)}
    return [o for o in rec["stream_batches"]
            if o["name"] == "bronze" and int(o["id"].rsplit("-", 1)[1]) in timed]


# ------------------------------------------------------------ per layer
def per_layer(rec, w, expected_fp):
    traced = [o for o in rec["ops"] if o.get("traced")]
    v = {k: 0.0 for k in PER_LAYER}
    sess = rec["session"]
    v["GraftSession.build_ms"] = sess["build_ms"]
    v["GraftSession.width"] = sess["width"]
    v["GraftSession.broadcast_bytes"] = sess["broadcast_bytes"]
    checks = [self_check(o) for o in traced]
    spans = []
    for o, (gap, err, selfs) in zip(traced, checks):
        for k, (s, e, parent, _) in op_spans(o).items():
            spans.append({"op": o["id"], "name": o["name"] if k == "op" else k, "start_ms": s,
                          "end_ms": e, "parent": parent, "self_ms": selfs[k]})
    if traced:
        v["spark.plan.analysis_ms"] = mean(o["analysis_ms"] for o in traced)
        v["spark.plan.optimizer_ms"] = mean(o["optimizer_ms"] for o in traced)
        v["spark.plan.planning_ms"] = mean(o["planning_ms"] for o in traced)
        v["spark.plan.codegen_ms"] = mean(o["codegen_ms"] for o in traced)
        v["spark.sched.jobs_per_op"] = mean(o["jobs"] for o in traced)
        v["spark.sched.stages_per_op"] = mean(o["stages"] for o in traced)
        v["spark.sched.stages_skipped_per_op"] = mean(o["stages_skipped"] for o in traced)
        v["spark.sched.tasks_per_op"] = mean(o["tasks"] for o in traced)
        v["spark.sched.gap_ms"] = m.median([c[0] for c in checks])
        v["spark.exec.task_cpu_ms"] = mean(o["cpu_ms"] for o in traced)
        v["spark.exec.gc_ms"] = mean(o["gc_ms"] for o in traced)
        v["spark.exec.shuffle_write_bytes"] = mean(o["shuffle_write_bytes"] for o in traced)
        v["spark.exec.shuffle_read_bytes"] = mean(o["shuffle_read_bytes"] for o in traced)
        v["spark.exec.fetch_wait_ms"] = mean(o["fetch_wait_ms"] for o in traced)
        v["spark.exec.spill_bytes"] = mean(o["spill_bytes"] for o in traced)
        v["spark.exec.task_skew"] = m.median([o["task_skew"] for o in traced])
        v["spark.exec.scan_bytes"] = mean(o["scan_bytes"] for o in traced)
        v["spark.exec.scan_rows"] = mean(o["scan_rows"] for o in traced)
        results = sum(max(1, o["result_rows"]) for o in traced if o["result_rows"] >= 0)
        v["spark.exec.rows_per_result"] = (
            sum(o["scan_rows"] for o in traced if o["result_rows"] >= 0) / results
            if results else 0.0)
        v["spark.exec.files_listed"] = mean(o["files_listed"] for o in traced)
        v["trace.selfcheck_max_err_ms"] = max(c[1] for c in checks)
    if w == "query_mix":
        fams = {}
        for o in traced:
            fams.setdefault(o["extra"]["family"], []).append(wall(o))
        for f, name in FAMILY_METRIC.items():
            v[name] = m.median(fams.get(f, []))
        # the first warm run of each query: the one the fingerprints were
        # recorded from (a train-once query plans differently once trained)
        fp = {}
        for o in rec["warm_ops"]:
            fp.setdefault(o["name"], o["extra"].get("fingerprint"))
        v["spark.plan.changed"] = sum(1 for q, f in fp.items()
                                      if expected_fp.get(q) and f != expected_fp[q])
        by_name = ({}, {})
        for o in rec["ops"]:
            by_name[0 if o.get("traced") else 1].setdefault(o["name"], []).append(wall(o))
        v["trace.overhead_p50_ms"] = m.paired_overhead(*by_name)
    elif w == "cdc_scd2":
        timed = rec["ops"]
        kinds = {}
        for o in timed:
            kinds.setdefault(o["kind"], []).append(o)
        lands, runs = kinds.get("land", []), kinds.get("run", [])
        v["cdc.land_ms"] = m.median([wall(o) for o in lands])
        v["cdc.rows_landed"] = sum(o["out_rows"] for o in timed_bronze_batches(rec))
        v["cdc.rows_dropped"] = (sum(p["rows"] for p in timed_bronze_progress(rec))
                                 - v["cdc.rows_landed"])
        v["scd2.run_ms"] = m.median([wall(o) for o in runs])
        v["scd2.rows_processed"] = sum(o["extra"]["rows_processed"] for o in runs)
        lst = rec["cdc"]["listings"]
        b, f = m.written_bytes([s["table"] for s in lst])
        v["scd2.table.bytes_written"] = b
        v["scd2.table.files_written"] = f
        v["scd2.table.files_live"] = sum(
            1 for p in lst[-1]["table"] if not p.startswith("ck/")
            and "/_versions/" not in "/" + p and not p.endswith(".crc"))
        v["scd2.table.versions"] = rec["cdc"]["versions"]
        rewritten = sum(o["out_rows"] for o in runs)
        v["scd2.table.rewrite_ratio"] = rewritten / max(1, v["scd2.rows_processed"])
        for kind, name in (("read_asof", "read_asof_ms"), ("read_keys", "read_keys_ms"),
                           ("read_changes", "changes_ms"), ("read_history", "history_ms"),
                           ("vacuum", "vacuum_ms"), ("compact", "compact_ms")):
            v[f"scd2.table.{name}"] = m.median([wall(o) for o in kinds.get(kind, [])])
        keys = kinds.get("read_keys", [])
        total = sum(o["extra"].get("files_total", 0) for o in keys)
        v["scd2.table.files_read_ratio"] = (
            sum(o["extra"].get("files_kept", 0) for o in keys) / total if total else 0.0)
        incs = increments(rec)
        tr = [sum(wall(o) for o in ops if o["kind"] in LATENCY_KINDS)
              for ops in incs if ops[0].get("traced")]
        un = [sum(wall(o) for o in ops if o["kind"] in LATENCY_KINDS)
              for ops in incs if not ops[0].get("traced")]
        v["trace.overhead_p50_ms"] = m.median(tr) - m.median(un)
        v["sources.topic.produce_ms"] = m.median([o["extra"]["produce_ms"] for o in lands])
        stream_layers(rec, v)
        spans += batch_spans(rec)
    return v, spans


# Micro-batch phases in the order MicroBatchExecution runs them.
BATCH_PHASES = ("latestOffset", "walCommit", "queryPlanning", "getBatch", "addBatch",
                "commitOffsets")


def batch_spans(rec):
    """Stream batch -> durationMs phase spans for the timed phase. Spark
    reports phase durations only, so the phases are laid out back to back
    from the batch start; the batch's self time is what no phase covers."""
    out = []
    for p in timed_bronze_progress(rec):
        d = p["duration_ms"]
        bid = f"{p['lane']}-{p['batch']}"
        tree = {"batch": (p["start_ms"], p["start_ms"] + d.get("triggerExecution", 0), None, 0)}
        t = p["start_ms"]
        for ph in BATCH_PHASES:
            if d.get(ph):
                tree[ph] = (t, t + d[ph], "batch", 1)
                t += d[ph]
        selfs = m.self_times(tree)
        for k, (a, b, parent, _) in tree.items():
            out.append({"op": bid, "name": bid if k == "batch" else k, "start_ms": a,
                        "end_ms": b, "parent": parent, "self_ms": selfs[k]})
    return out


def stream_layers(rec, v):
    """Per-batch medians of the bronze lane over the timed increments."""
    ps = timed_bronze_progress(rec)
    busy = [p for p in ps if p["rows"] > 0]
    for key, name in (("triggerExecution", "trigger_ms"), ("queryPlanning", "planning_ms"),
                      ("latestOffset", "latest_offset_ms"), ("addBatch", "add_batch_ms"),
                      ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms")):
        v[f"streaming.{name}"] = m.median([p["duration_ms"].get(key, 0) for p in busy])
    v["streaming.batches"] = len(ps)
    v["streaming.empty_batch_ratio"] = (len(ps) - len(busy)) / len(ps) if ps else 0.0
    v["streaming.rows_per_batch"] = mean(p["rows"] for p in busy)
    state = [p for p in busy if p["state"]]
    if state:
        v["streaming.state_rows"] = sum(st["rows_total"] for st in state[-1]["state"])
        v["streaming.state_update_task_ms"] = m.median(
            [sum(st["update_ms"] for st in p["state"]) for p in state])
        v["streaming.state_commit_task_ms"] = m.median(
            [sum(st["commit_ms"] for st in p["state"]) for p in state])


# ------------------------------------------------------------ summary
def read_expected(path):
    out = {}
    if os.path.exists(path):
        for line in open(path):
            parts = line.rstrip("\n").split("\t")
            if len(parts) >= 3 and not line.startswith("#"):
                out[parts[0]] = parts[2]
    return out


def summarize(rec, traced):
    w = rec["workload"]
    errors = []
    if rec.get("fatal"):
        errors.append(f"fatal: {rec['fatal']}")
    for o in rec["warm_ops"] + rec["ops"]:
        if not o["ok"]:
            errors.append(f"op {o['name']} ({o['kind']}) failed: {o['error']}")
    errors += [f"check: {c}" for c in rec["checks"]]
    out = {}
    notes = []
    if not rec.get("fatal"):
        {"query_mix": query_mix, "cdc_scd2": cdc_scd2}[w](rec, out)
    failed = sum(1 for o in rec["warm_ops"] + rec["ops"] if not o["ok"])
    failed += len(rec["checks"]) + (1 if rec.get("fatal") else 0)
    attempted = max(1, out.get("attempted", 0))
    metrics = {}
    if out:
        lat, read = out["samples"]["latency"], out["samples"]["read"]
        tail_v, n1 = tail_note("latency_tail_ms", lat)
        rtail_v, n2 = tail_note("read_tail_ms", read)
        notes += [n1, n2]
        vals = {
            # JVM start to a built session, once, plus the median set-up
            # repetition
            "setup_s": (rec["session_ready_ms"] - rec["jvm_start_ms"]
                        + m.median(rec["setup_rep_ms"])) / 1000.0,
            "latency_p50_ms": m.median(lat), "latency_tail_ms": tail_v or 0.0,
            "throughput_per_s": out["throughput"], "read_p50_ms": m.median(read),
            "read_tail_ms": rtail_v or 0.0, "write_amp": out["write_amp"],
            "task_cpu_ms_per_op": out["cpu_per_op"], "heap_peak_mb": rec["heap_peak_mb"]}
        notes.append(f"error_rate = {failed}/{attempted} = {failed / attempted:.6g}")
        if traced:
            layers, spans = per_layer(rec, w, read_expected(os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "expected", "query_hashes.tsv")))
            bad = [o["id"] for o in rec["ops"] if o.get("traced") and self_check(o)[1] > SELF_CHECK_TOL_MS]
            if bad:
                errors.append(f"span self-time check failed on {len(bad)} ops, e.g. {bad[:3]}")
                failed += 1
            notes.append(f"tracing overhead (traced - untraced latency p50) = "
                         f"{layers['trace.overhead_p50_ms']:.3f} ms; span self-time check "
                         f"tolerance {SELF_CHECK_TOL_MS} ms, max error "
                         f"{layers['trace.selfcheck_max_err_ms']:.6f} ms")
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
            out["per_layer"] = layers
            out["spans"] = spans
        else:
            metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
        out["end_to_end"] = vals
    correct = not errors
    out.pop("samples", None)
    out["ops"] = [[o["name"], o["kind"], round(wall(o), 3), o["ok"]]
                  for o in rec["warm_ops"] + rec["ops"]]
    return {"workload": w, "seed": rec["seed"], "trace": traced, "correct": correct,
            "attempted": attempted, "failed": failed, "error_rate": failed / attempted,
            "metrics": metrics, "notes": [n for n in notes if n], "errors": errors,
            "details": out, "session": rec["session"], "controls": rec["controls"],
            "heap_samples_mb": rec["heap_samples_mb"],
            "checks": rec["checks"]}


def provenance(root, rec, seed, nproc, heap, load1):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown (git unavailable)"
    why = {}
    bj = os.path.join(root, "BENCHMARK.json")
    if os.path.exists(bj):
        with open(bj) as f:
            why = {w["name"]: w["why"] for w in json.load(f).get("workloads", [])}
    return {"seed": seed, "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": nproc,
            "heap": heap, "heap_max_mb": rec["session"]["heap_max_mb"], "git_commit": commit,
            "load_avg_1min_at_start": load1, "box_controls_s": rec["controls"],
            "workload_why": why}


def record_expected(rec, expected_dir):
    """Write name<TAB>result hash<TAB>plan fingerprint for query_mix."""
    if rec["workload"] != "query_mix":
        return
    os.makedirs(expected_dir, exist_ok=True)
    first = {}
    for o in rec["warm_ops"]:
        if o["ok"]:
            first.setdefault(o["name"], (o["name"], o["extra"]["hash"],
                                         o["extra"].get("fingerprint", "")))
    rows = sorted(first.values())
    with open(os.path.join(expected_dir, "query_hashes.tsv"), "w") as f:
        f.write("# query\tresult hash\tphysical-plan fingerprint (see METRICS.md)\n")
        for r in rows:
            f.write("\t".join(r) + "\n")
