"""Metric math for the benchmark: pure functions over the raw record the
harness JVM writes. Kept apart from the runner so the tests can feed it
small hand-computed inputs."""
import hashlib
import math

# held-out accuracy the Hogwild fit must reach on the 10-class blobs (chance
# is 0.10; the classes overlap, so no fit reaches 1.0)
ACCURACY_MIN = 0.35


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value, sample count); None below eleven samples. The
    value is the k-th smallest sample with k = n - 10, the percentile
    100 k / n."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10
    return (100.0 * k / n, sorted(xs)[k - 1], n)


def busy_share(task_run_ms, wall_ms, cores):
    """Share of the cores' time that tasks ran: sum of task run time over
    wall time times cores."""
    return task_run_ms / (wall_ms * cores) if wall_ms > 0 else 0.0


def fail_ratio(attempted, failed):
    return failed / attempted


def canon(rows, cols):
    """Rows with columns in name order and floats rounded to 9 places,
    sorted: the form in which a result is compared, whatever its row order
    (the rule of tools/check_oracle.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def val(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 9)
        if isinstance(v, list):
            return tuple(val(x) for x in v)
        return v
    return sorted((tuple(val(r[i]) for i in order) for r in rows), key=repr)


def fingerprint(rows, cols):
    """Row count and an order-insensitive digest of a result."""
    c = canon(rows, cols)
    return len(c), hashlib.sha1(repr(c).encode()).hexdigest()


def _unit(k):
    """A metric's unit, from its name."""
    if k.endswith("_ms"):
        return "ms"
    if k.endswith("_bytes") or k.startswith("server.bytes"):
        return "bytes"
    if k.endswith("_mb"):
        return "MB"
    if k.endswith("_per_s"):
        return "1/s"
    if k.endswith("share") or k.endswith("ratio"):
        return "ratio"
    return "count"


# the metrics a traced run prints, as BENCHMARK.json lists them
LAYER_KEYS = [
    "operators.build_ms", "operators.build_jobs", "sources.schema_jobs",
    "sources.scan_bytes", "sources.write_bytes", "plan.plan_ms", "exec.action_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.gc_ms", "exec.sched_delay_ms", "exec.busy_share", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.spill_bytes", "ml.fit_ms", "ml.transform_ms",
    "train.worker_ms", "train.straggler_ratio", "train.compute_ms",
    "train.samples_per_s", "train.composed_samples_per_s", "server.pull_ms",
    "server.push_ms", "server.pulls", "server.pushes", "server.bytes_in",
    "server.bytes_out", "server.update_failures", "nn.opt_step_ms", "nn.fwd_bwd_ms",
    "nn.codec_ms", "stream.add_batch_ms", "stream.get_batch_ms", "stream.planning_ms",
    "stream.commit_ms", "stream.state_commit_ms", "stream.state_rows",
    "stream.state_mem_bytes", "jvm.heap_used_mb", "jvm.gc_ms", "trace.overhead_ratio"]
LAYER_UNITS = {k: _unit(k) for k in LAYER_KEYS}
# the metrics an untraced run prints
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_geomean_ms": "ms"}


# which op kinds make up a pass, and which op kind is averaged per name
PASS_KINDS = {"iterative": ("query",), "train_predict": ("fit", "predict"),
              "stream": ("drain",)}
GEO_KINDS = {"iterative": ("query",), "train_predict": ("fit", "predict"),
             "stream": ("batch",)}


def pass_walls_ms(ops, kinds, traced=None):
    """Wall of each pass: the sum of its timed operations."""
    walls = {}
    for o in ops:
        if (o["kind"] in kinds and o.get("err") is None
                and (traced is None or o["traced"] == traced)):
            walls[o["pass"]] = walls.get(o["pass"], 0.0) + o["ms"]
    return [walls[p] for p in sorted(walls)]


def end_to_end(rec, workload):
    """The gated metrics: set-up seconds, median pass seconds, and the
    geometric mean over operations of each operation's median wall."""
    ops = [o for o in rec["ops"] if not o.get("traced")]
    by_name = {}
    for o in ops:
        if o["kind"] in GEO_KINDS[workload] and o.get("err") is None:
            by_name.setdefault(o["name"], []).append(o["ms"])
    return {
        "setup_s": (rec["measure_start_ms"] - rec["jvm_start_ms"]) / 1000.0,
        "pass_s": median(pass_walls_ms(ops, PASS_KINDS[workload])) / 1000.0,
        "op_geomean_ms": geomean([median(v) for v in by_name.values()]),
    }


def workload_figures(rec, workload):
    """Figures specific to one workload, recorded beside the gated ones."""
    ops = [o for o in rec["ops"] if not o.get("traced")]
    out = {}
    if workload == "iterative":
        out["passes"] = len(pass_walls_ms(ops, ("query",)))
    elif workload == "train_predict":
        fits = [o for o in ops if o["kind"] == "fit"]
        preds = [o for o in ops if o["kind"] == "predict"]
        out["train_samples_per_s"] = median(
            [o["rows"] * o["iters"] / (o["ms"] / 1000.0) for o in fits])
        out["predict_rows_per_s"] = median(
            [o["rows"] / (o["ms"] / 1000.0) for o in preds])
        out["accuracy"] = median([o["correct"] / o["rows"] for o in preds])
        out["passes"] = len(fits)
    elif workload == "stream":
        batches = [o["ms"] for o in ops if o["kind"] == "batch"]
        drains = [o for o in ops if o["kind"] == "drain"]
        out["batch_p50_ms"] = median(batches)
        t = tail(batches)
        if t:
            out["batch_tail_ms"] = {"percentile": t[0], "value": t[1], "samples": t[2]}
        out["batches"] = len(batches)
        out["stream_rows_per_s"] = (sum(o["rows"] for o in drains)
                                    / (sum(o["ms"] for o in drains) / 1000.0))
    return out


def check(rec, expected):
    """Count the operations attempted and failed. `expected` maps a query
    name to its oracle (rows, digest); `rec["results"]` maps a timed query
    execution to the (rows, digest) of its result. Every timed query
    execution, result check, fit, prediction, drain and micro-batch is one
    operation. Returns (attempted, failed, [reasons])."""
    attempted, failed, why = 0, 0, []

    def op(ok, reason):
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            why.append(reason)

    for o in rec["ops"]:
        k = o["kind"]
        if k == "query":
            op(o["err"] is None, f"{o['name']} pass {o['pass']}: {o['err']}")
            want = expected.get(o["name"])
            if want is not None:
                got = rec["results"].get(o["op"])
                op(got is not None and tuple(got) == tuple(want),
                   f"{o['name']} pass {o['pass']}: result {got}, oracle {want}")
        elif k == "fit":
            op(True, "")
        elif k == "predict":
            acc = o["correct"] / o["rows"]
            op(o["predictions"] == o["rows"] and acc >= ACCURACY_MIN,
               f"predict pass {o['pass']}: {o['predictions']} predictions for "
               f"{o['rows']} rows, accuracy {acc:.3f} (need {ACCURACY_MIN})")
        elif k in ("drain", "batch"):
            op(True, "")
    for name, t in sorted(rec.get("twins", {}).items()):
        op(t["stream"] == t["batch"],
           f"{name}: stream emitted {t['stream']} rows, batch twin {t['batch']}")
    return attempted, failed, why


def per_layer(rec, workload, cores):
    """Per-layer figures from the traced passes, per pass where they are
    counts or times, plus the tracing overhead: median traced pass wall
    over median untraced pass wall, minus one."""
    ops = rec["ops"]
    traced_passes = sorted({o["pass"] for o in ops if o.get("traced")})
    n = max(len(traced_passes), 1)
    spans = rec.get("spans") or []
    dur = lambda s: s["end_ms"] - s["start_ms"]

    def total(key, name=None):
        return sum(s[key] for s in spans if name is None or s["name"] == name)

    def span_ms(name):
        return sum(dur(s) for s in spans if s["name"] == name)

    top = [s for s in spans if s["parent"] == -1]
    top_ms = sum(dur(s) for s in top)
    m = {
        "operators.build_ms": span_ms("operators.build") / n,
        "operators.build_jobs": total("jobs", "operators.build") / n,
        "sources.schema_jobs": total("schema_jobs") / n,
        "sources.scan_bytes": total("scan_bytes") / n,
        "sources.write_bytes": (total("write_bytes") + sum(
            o.get("store_bytes", 0) for o in ops if o.get("traced"))) / n,
        "plan.plan_ms": span_ms("plan.plan") / n,
        "exec.action_ms": span_ms("exec.action") / n,
        "exec.jobs": total("jobs") / n,
        "exec.stages": total("stages") / n,
        "exec.tasks": total("tasks") / n,
        "exec.task_run_ms": total("task_run_ms") / n,
        "exec.task_cpu_ms": total("task_cpu_ms") / n,
        "exec.gc_ms": total("gc_ms") / n,
        "exec.sched_delay_ms": total("sched_delay_ms") / n,
        "exec.busy_share": busy_share(total("task_run_ms"), top_ms, cores),
        "shuffle.write_bytes": total("shuffle_write_bytes") / n,
        "shuffle.read_bytes": total("shuffle_read_bytes") / n,
        "shuffle.spill_bytes": total("spill_bytes") / n,
        "ml.fit_ms": span_ms("ml.fit") / n,
        "ml.transform_ms": span_ms("ml.transform") / n,
        "jvm.heap_used_mb": rec["jvm"]["heap_used_mb"],
        "jvm.gc_ms": rec["jvm"]["gc_ms"],
    }
    m.update(_train_layers(rec.get("decomposed"), ops))
    m.update(_stream_layers([o for o in ops if o["kind"] == "batch" and o.get("traced")]))
    kinds = PASS_KINDS[workload]
    on = pass_walls_ms(ops, kinds, traced=True)
    off = pass_walls_ms(ops, kinds, traced=False)
    m["trace.overhead_ratio"] = median(on) / median(off) - 1 if on and off else 0.0
    return {k: m[k] for k in LAYER_KEYS}


PHASE_KEYS = ["jobs", "schema_jobs", "stages", "tasks", "task_run_ms", "scan_bytes",
              "shuffle_write_bytes"]


def per_op(rec):
    """Traced spans keyed by operation (a query, `ml.fit`, `stream.<shape>`)
    and phase (`operators.build`, `plan.plan`, `exec.action`, or `all` for
    an operation without phases), summed over the traced passes."""
    spans = rec.get("spans") or []
    by_id = {s["id"]: s for s in spans}
    parents = {s["parent"] for s in spans}
    out = {}
    for s in spans:
        if s["id"] in parents:
            continue  # its phases carry its time and jobs
        top = s["parent"] == -1
        key = s["name"] if top else by_id[s["parent"]]["name"]
        d = out.setdefault(key, {}).setdefault(
            "all" if top else s["name"], dict.fromkeys(["ms"] + PHASE_KEYS, 0))
        d["ms"] += s["end_ms"] - s["start_ms"]
        for k in PHASE_KEYS:
            d[k] += s[k]
    return out


def _train_layers(d, ops):
    keys = ["train.worker_ms", "train.straggler_ratio", "train.compute_ms",
            "train.samples_per_s", "train.composed_samples_per_s",
            "server.pull_ms", "server.push_ms", "server.pulls", "server.pushes",
            "server.bytes_in", "server.bytes_out", "server.update_failures",
            "nn.opt_step_ms", "nn.fwd_bwd_ms", "nn.codec_ms"]
    if not d:
        return dict.fromkeys(keys, 0)
    workers = d["workers"]
    wms = [w["ms"] for w in workers]
    pulls = [x for w in workers for x in w["pull_ms"]]
    pushes = [x for w in workers for x in w["push_ms"]]
    fits = [o for o in ops if o["kind"] == "fit" and not o.get("traced")]
    return {
        "train.worker_ms": median(wms),
        "train.straggler_ratio": max(wms) / median(wms),
        "train.compute_ms": median(
            [w["ms"] - sum(w["pull_ms"]) - sum(w["push_ms"]) for w in workers]),
        "train.samples_per_s": median(
            [o["rows"] * o["iters"] / (o["ms"] / 1000.0) for o in fits]) if fits else 0,
        "train.composed_samples_per_s": d["rows"] * d["iters"] / (d["fit_ms"] / 1000.0),
        "server.pull_ms": median(pulls) if pulls else 0,
        "server.push_ms": median(pushes) if pushes else 0,
        "server.pulls": len(pulls),
        "server.pushes": len(pushes),
        "server.bytes_in": len(pushes) * d["transfer_bytes"],
        "server.bytes_out": len(pulls) * d["transfer_bytes"],
        "server.update_failures": d["update_failures"],
        "nn.opt_step_ms": d["opt_step_ms"],
        "nn.fwd_bwd_ms": d["fwd_bwd_ms"],
        "nn.codec_ms": d["codec_ms"],
    }


def _stream_layers(batches):
    keys = ["add_batch_ms", "get_batch_ms", "planning_ms", "commit_ms",
            "state_commit_ms", "state_rows", "state_mem_bytes"]
    if not batches:
        return {f"stream.{k}": 0 for k in keys}
    return {f"stream.{k}": median([b[k] for b in batches]) for k in keys}
