"""Reduce one run's raw record (the JVM's result.json) to the reported
metrics: end-to-end and (in a traced run) per-layer metrics of the
reported timed pass, output checks, and host diagnostics."""
import statistics

import metrics

MB = 1024.0 * 1024.0
FAMILIES = ("ann", "bloom", "band", "bm25")
CURATE_METHODS = ("textQuality", "nearDupPairs", "connectedComponents", "dedup",
                  "bloomDecontaminate", "packTokens")
# Layer of each span name the harness records (root op spans are the
# harness's own glue).
SPAN_LAYER = {
    "graft.connectedComponents": "components",
    "graft.nearDupPairs": "dedup",
    "graft.dedup": "dedup",
    "graft.bloomDecontaminate": "decontam",
}
EXPR = ("minhash", "simhash48", "md5long64", "dot_f64", "bpe_counts")


def per_layer_names():
    """Every per-layer metric a traced run reports, with unit and the
    direction that is better."""
    lower = lambda n, u: (n, u, "lower")  # noqa: E731
    out = [lower("spark.plan_ms", "ms"), lower("spark.jobs_per_op", "count"),
           lower("spark.stages_per_op", "count"), lower("spark.tasks_per_op", "count"),
           lower("spark.sched_wait_ms", "ms"), ("spark.task_busy_ratio", "ratio", "higher"),
           lower("spark.shuffle_write_mb", "MB"), lower("spark.shuffle_read_mb", "MB"),
           lower("spark.fetch_wait_ms", "ms"), lower("spark.spill_mb", "MB"),
           lower("spark.gc_ms", "ms"), lower("tables.input_mb", "MB"),
           lower("tables.input_rows", "count")]
    out += [lower(f"expr.{e}_ns_per_row", "ns") for e in EXPR]
    out += [lower("components.self_s", "s"), lower("components.jobs", "count"),
            lower("components.blocks_pinned_peak", "count"), lower("components.blocks_left", "count"),
            lower("dedup.self_s", "s"), lower("dedup.pairs_per_doc", "ratio"),
            lower("decontam.self_s", "s")]
    for f in FAMILIES:
        out += [lower(f"index.{f}.build_s", "s"), lower(f"index.{f}.refresh_s", "s"),
                lower(f"index.{f}.serve_s", "s"), lower(f"index.{f}.refresh_bytes_written", "bytes"),
                lower(f"index.{f}.files_written", "count")]
    out += [lower("index.serve_rows_read_per_row_returned", "ratio"),
            lower("index.serve_p50_s", "s"), lower("index.serve_tail_s", "s"),
            lower("index.refresh_p50_s", "s"), lower("index.write_amp", "ratio"),
            lower("index.space_amp", "ratio"),
            lower("allergen.fit_s.mlp", "s"),
            lower("allergen.jobs_per_fit", "count"), lower("restaurants.fit_s", "s"),
            lower("restaurants.recommend_s", "s")]
    out += [lower(f"graft.{m}.self_s", "s") for m in CURATE_METHODS]
    return out


END_TO_END = [("setup_s", "s"), ("workload_s", "s"), ("op_p50_s", "s"), ("heap_peak_mb", "MB")]


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def reduce(res, inputs):
    checked = [(c["name"], c["op"], c["ok"], c["detail"]) for c in res["checks"]]
    bad_ops = {op for _, op, ok, _ in checked if not ok}
    timed = res["ops"] + res["prepare"]
    erred = [o for o in res["ops"] + res["prepare"] + res["check_pass"] if o["error"]]
    failed = sum(1 for o in timed if o["error"] or o["name"] in bad_ops or "*" in bad_ops)
    # An op timed once more because it lost CPU to hypervisor steal counts
    # with the lesser of its two times; a pass's time is the sum of its ops'.
    retried = {o["retry_of"]: o["seconds"] for o in res["ops"] if o["retry_of"] and not o["error"]}
    first = [o for o in res["ops"] if not o["retry_of"]]
    op_s = {o["id"]: min(o["seconds"], retried.get(o["id"], o["seconds"])) for o in first}
    pass_s = {p["pass"]: sum(op_s[o["id"]] for o in first if o["pass"] == p["pass"]) for p in res["passes"]}
    # the reported pass: the one of median time (the lower median)
    by_time = sorted(res["passes"], key=lambda p: pass_s[p["pass"]])
    best = by_time[(len(by_time) - 1) // 2]
    ops = [o for o in first if o["pass"] == best["pass"]]
    secs = [op_s[o["id"]] for o in ops]
    level, tail_v, n = metrics.tail(secs)
    e2e = {
        "setup_s": _median(res["setups_s"]),
        "workload_s": pass_s[best["pass"]],
        "op_p50_s": statistics.median(secs),
        "heap_peak_mb": res["heap_peak_mb"],
    }
    diag = {
        "workload": res["workload"], "seed": res["seed"], "cpus": res["cpus"],
        "anchors": res["anchors"], "steal_ms": res["steal_ms"], "gc_ms": res["gc_ms"],
        "passes": [{k: p[k] for k in ("pass", "wall_s", "steal_ms", "steal_share")} for p in res["passes"]],
        "reported_pass": best["pass"], "timed_s": round(res["timed_s"], 3),
        "retried_ops": sorted(i for i in retried),
        "phases_s": res["phases_s"],
        "setups_s": res["setups_s"], "heap_samples_mb": [round(h, 1) for h in res["heap_samples_mb"]],
        "op_tail": {"percentile": level, "seconds": tail_v, "n": n},
        "inputs": {k: v for k, v in inputs.items() if k != "tables"},
        "input_rows": {k: v["rows"] for k, v in inputs["tables"].items()},
        "checks_failed": [(c[0], c[3]) for c in checked if not c[2]],
        "checks_passed": sum(1 for c in checked if c[2]),
        "op_errors": sorted({(o["name"], o["error"]) for o in erred}),
        "jvm": res["jvm"],
    }
    correct = not erred and all(c[2] for c in checked)
    per_layer = {}
    if res["trace"]:
        per_layer, trace_diag, trace_ok = _per_layer(res, inputs, best, ops)
        diag.update(trace_diag)
        diag["traced_workload_s"] = e2e["workload_s"]
        correct = correct and trace_ok
    units = dict(END_TO_END)
    layer_units = {n: u for n, u, _ in per_layer_names()}
    return {
        "correct": correct, "attempted": len(timed), "failed": failed, "diagnostics": diag,
        "end_to_end": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
        "per_layer": {k: {"value": per_layer.get(k, 0.0), "unit": u} for k, u in layer_units.items()},
    }


def _per_layer(res, inputs, best, ops):
    """Per-layer figures of the reported pass `best` (every pass of a traced
    run is traced); `ops` are its op instances."""
    spark = res["spark"]
    sp = lambda o, k: spark.get(o["id"], {}).get(k, 0)  # noqa: E731
    total = lambda os_, k: sum(sp(o, k) for o in os_)  # noqa: E731
    n_ops = max(1, len(ops))
    m = {}
    # planning time: each action's phases belong to the op whose window holds them
    m["spark.plan_ms"] = sum(ms for start_ms, ms in res["plans"]
                             if any(o["start_ms"] <= start_ms <= o["end_ms"] for o in ops)) / n_ops
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_op"] = total(ops, k) / n_ops
    m["spark.sched_wait_ms"] = total(ops, "sched_wait_ms") / n_ops
    wall_ms = sum(o["seconds"] for o in ops) * 1000.0
    m["spark.task_busy_ratio"] = total(ops, "run_ms") / (wall_ms * res["cpus"]) if wall_ms else 0.0
    for name, key, scale in (("spark.shuffle_write_mb", "shuffle_write_bytes", MB),
                             ("spark.shuffle_read_mb", "shuffle_read_bytes", MB),
                             ("spark.fetch_wait_ms", "fetch_wait_ms", 1.0),
                             ("spark.spill_mb", "spill_bytes", MB),
                             ("tables.input_mb", "input_bytes", MB),
                             ("tables.input_rows", "input_rows", 1.0)):
        m[name] = total(ops, key) / scale
    m["spark.gc_ms"] = best["gc_ms"]
    for e in EXPR:
        m[f"expr.{e}_ns_per_row"] = res["micro"].get(f"expr.{e}_ns_per_row", 0.0)

    # span self times: per layer, per facade method, and summed per op,
    # where they must add up to the op's wall time
    by_id = {o["id"]: o for o in ops}
    per_op = {}
    for span, s in zip(res["spans"], metrics.self_times(res["spans"])):
        if span["op"] not in by_id:
            continue
        per_op.setdefault(span["op"], []).append(s)
        for key in (SPAN_LAYER.get(span["name"]), span["name"]):
            if key:
                m[key] = m.get(key, 0.0) + s
    for layer in ("components", "dedup", "decontam"):
        m[f"{layer}.self_s"] = m.pop(layer, 0.0)
    for meth in CURATE_METHODS:
        m[f"graft.{meth}.self_s"] = m.get(f"graft.{meth}", 0.0)
    errs = [metrics.self_sum_error(by_id[i]["seconds"], ss) for i, ss in per_op.items()]
    trace_ok = bool(errs) and all(ok for _, ok in errs) and len(per_op) == len(by_id)

    by_name = lambda name: [o for o in ops if o["name"] == name]  # noqa: E731
    seconds = lambda name: sum(o["seconds"] for o in by_name(name))  # noqa: E731
    m["components.jobs"] = total(by_name("components"), "jobs")
    m["components.blocks_pinned_peak"] = max((o["persisted_after"] for o in ops), default=0)
    m["components.blocks_left"] = best["blocks_left"]
    docs = sum(o["rows"] for o in by_name("quality"))
    m["dedup.pairs_per_doc"] = sum(o["rows"] for o in by_name("near_dup_pairs")) / docs if docs else 0.0
    if res["workload"] == "index_lifecycle":
        m.update(_index(res, inputs, ops, sp))
    m["allergen.fit_s.mlp"] = seconds("allergen.mlp")
    fits = by_name("allergen.mlp")
    m["allergen.jobs_per_fit"] = total(fits, "jobs") / len(fits) if fits else 0.0
    m["restaurants.fit_s"] = sum(o["seconds"] for o in res["prepare"] if o["name"] == "restaurants.fit")
    m["restaurants.recommend_s"] = seconds("restaurants.recommend")
    diag = {"trace_self_sum_max_err": max((e for e, _ in errs), default=0.0),
            "trace_self_sum_tolerance": metrics.SELF_SUM_TOLERANCE,
            "traced_ops": len(ops)}
    return m, diag, trace_ok


def _index(res, inputs, ops, sp):
    m = {}
    prep = {o["name"]: o["seconds"] for o in res["prepare"]}
    writes = res["info"]["refresh_writes"]
    serve = [o for o in ops if o["kind"] == "serve"]
    for f in FAMILIES:
        m[f"index.{f}.build_s"] = prep.get(f"{f}.build", 0.0)
        m[f"index.{f}.refresh_s"] = _median(o["seconds"] for o in ops if o["name"] == f"{f}.refresh")
        m[f"index.{f}.serve_s"] = _median(o["seconds"] for o in serve if o["name"].startswith(f"{f}."))
        m[f"index.{f}.refresh_bytes_written"] = _median(w["bytes"] for w in writes.get(f, []))
        m[f"index.{f}.files_written"] = _median(w["files"] for w in writes.get(f, []))
    returned = sum(o["rows"] for o in serve)
    m["index.serve_rows_read_per_row_returned"] = sum(sp(o, "input_rows") for o in serve) / max(1, returned)
    m["index.serve_p50_s"] = statistics.median(o["seconds"] for o in serve)
    m["index.serve_tail_s"] = metrics.tail([o["seconds"] for o in serve])[1]
    m["index.refresh_p50_s"] = statistics.median(o["seconds"] for o in ops if o["kind"] == "refresh")
    m["index.write_amp"] = metrics.write_amp(
        [m[f"index.{f}.refresh_bytes_written"] for f in FAMILIES],
        [inputs[f"{f}_delta"]["bytes"] for f in FAMILIES])
    indexed = {"ann": inputs["tables"]["embeddings"]["bytes"], "bloom": inputs["bloom_base"]["bytes"],
               "band": inputs["tables"]["documents"]["bytes"], "bm25": inputs["tables"]["documents"]["bytes"]}
    m["index.space_amp"] = sum(res["info"]["index_bytes"].values()) / sum(indexed.values())
    return m
