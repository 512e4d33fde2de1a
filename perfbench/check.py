"""Correctness checks and metric computation for one benchmark run.

Everything here is pure: it takes the JSON report perfbench.Driver
writes and the generator's ground truth, and returns verdicts and
metrics. run.py does the I/O.
"""
import math
import statistics

# ------------------------------------------------------------ metrics

E2E = [("setup_s", "s"), ("pass_s", "s"), ("op_geomean_s", "s"), ("peak_rss_mb", "MB")]

SHAPES = ["default", "typed", "strict"]
CLI_COMMANDS = ["sort", "convert_jsonl", "validate"]
QUERIES = [
    "q03_filter", "q07_join_inner", "q23_asof_join", "q24_stats_profile",
    "q31_minhash_neardup", "q34_embed_top_pairs", "q193_winnowing_pairs",
    "q148_pagerank", "q165_containment_summary", "q169_cluster_sizes",
    "q172_copurchase_triangles", "q211_neardup_admit_stream"]
# the mix's shared builds, by BuildTimes key: TradeGraph, ContainmentRel,
# CoPurchase, NearDupGraph, and q211's streaming admission store
BUILD_KEYS = ["tradegraph_rel", "containment_rel", "copurchase_rel",
              "neardup_graph", "admit_stream"]


def _layer_units():
    m = []
    for s in SHAPES:
        m += [(f"reader.open_s.{s}", "s"), (f"reader.materialize_s.{s}", "s"),
              (f"reader.scan_mbps.{s}", "MB/s"),
              (f"reader.bytes_read_ratio.{s}", "ratio"),
              (f"reader.jobs.{s}", "count")]
    m += [("reader.errors_s", "s"), ("reader.errors_mbps", "MB/s"),
          ("reader.count_s", "s"), ("reader.rows_ok_frac", "frac")]
    for f in ["csv", "jsonl"]:
        m += [(f"writer.write_s.{f}", "s"), (f"writer.bytes_out_ratio.{f}", "ratio")]
    m += [("writer.files_out", "count"), ("writer.cache_mb", "MB"),
          ("writer.spill_mb", "MB"), ("writer.convert_mbps", "MB/s")]
    m += [(f"cli.{c}_s", "s") for c in CLI_COMMANDS]
    m += [(f"query.{q.split('_')[0]}_s", "s") for q in QUERIES]
    m += [("query.build_s", "s"), ("query.plan_s", "s"), ("query.exec_s", "s"),
          ("query.per_min", "1/min")]
    m += [("driver.analysis_s", "s"), ("driver.optimization_s", "s"),
          ("driver.planning_s", "s"), ("driver.idle_frac", "frac"),
          ("driver.jobs_per_op", "count"), ("driver.tasks_per_op", "count"),
          ("driver.shuffle_partitions", "count")]
    m += [("exec.cpu_util", "frac"), ("exec.run_s", "s"), ("exec.cpu_s", "s"),
          ("exec.gc_s", "s"),
          ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
          ("exec.spill_mb", "MB"), ("exec.peak_exec_mb", "MB"),
          ("exec.task_skew", "ratio")]
    m += [(f"build.{k}_s", "s") for k in BUILD_KEYS]
    m += [("build.other_s", "s"), ("build.total_s", "s"), ("build.in_timed", "count")]
    m += [("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB")]
    m += [("trace.overhead_frac", "frac"), ("trace.spans_per_op", "count")]
    m += [("host.foreign_cpu_frac", "frac"), ("host.loadavg", "load")]
    return m


PER_LAYER = _layer_units()
MB = 1e6


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def timed_ops(report, traced):
    """Ops of the timed passes that were (not) traced."""
    kind = {str(p["pass"]): p["traced"] for p in report["passes"]}
    return [o for o in report["ops"] if kind.get(o["pass"]) == traced]


def end_to_end(report):
    """setup_s: the set-up. Over the untraced timed passes, each
    operation's median time; pass_s is their sum (one pass) and
    op_geomean_s their geometric mean (the typical operation)."""
    by_name = {}
    for o in timed_ops(report, traced=False):
        by_name.setdefault(o["name"], []).append(o["s"])
    meds = [_med(v) for v in by_name.values()]
    return {
        "setup_s": report["setup_s"],
        "pass_s": sum(meds),
        "op_geomean_s": math.exp(sum(map(math.log, meds)) / len(meds)),
        "peak_rss_mb": report["jvm"]["rss_peak_mb"],
    }


def per_layer(report, input_bytes, host):
    ops = timed_ops(report, traced=True)
    traced_passes = [p for p in report["passes"] if p["traced"]]
    # pass 0 is still warming up; the ABBA passes after it are compared
    plain_passes = [p for p in report["passes"] if not p["traced"] and p["pass"] > 0]
    by_pass = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o)

    def op_vals(name, f):
        return [f(o) for o in ops if o["name"] == name]

    def span(o, n):
        return sum(s["s"] for s in o["spans"] if s["name"] == n)

    def stat(o, k):
        return (o["stats"] or {}).get(k, 0.0)

    def per_pass(f):
        return _med([sum(f(o) for o in os_) for os_ in by_pass.values()])

    m = {}
    for s in SHAPES:
        op = f"scan.{s}"
        m[f"reader.open_s.{s}"] = _med(op_vals(op, lambda o: span(o, "open")))
        m[f"reader.materialize_s.{s}"] = _med(op_vals(op, lambda o: span(o, "materialize")))
        t = _med(op_vals(op, lambda o: o["s"]))
        m[f"reader.scan_mbps.{s}"] = input_bytes / MB / t if t else 0.0
        m[f"reader.bytes_read_ratio.{s}"] = _med(op_vals(op, lambda o: stat(o, "bytes_read"))) / input_bytes
        m[f"reader.jobs.{s}"] = _med(op_vals(op, lambda o: stat(o, "jobs")))
    m["reader.errors_s"] = _med(op_vals("scan.errors", lambda o: span(o, "materialize")))
    t = _med(op_vals("scan.errors", lambda o: o["s"]))
    m["reader.errors_mbps"] = input_bytes / MB / t if t else 0.0
    m["reader.count_s"] = _med(op_vals("scan.count", lambda o: span(o, "materialize")))
    strict = _med(op_vals("scan.strict", lambda o: o["obs"]["rows"]))
    total = _med(op_vals("scan.default", lambda o: o["obs"]["rows"]))
    m["reader.rows_ok_frac"] = strict / total if total else 0.0

    # the CSV writer runs under `sort -o`, the JSONL writer under `convert`
    for f, op in [("csv", "sort"), ("jsonl", "convert_jsonl")]:
        m[f"writer.write_s.{f}"] = _med(op_vals(op, lambda o: stat(o, "write_s")))
        out = _med(op_vals(op, lambda o: o["obs"]["output"]["bytes"]))
        m[f"writer.bytes_out_ratio.{f}"] = out / input_bytes
    m["writer.files_out"] = per_pass(
        lambda o: ((o["obs"] or {}).get("output") or {}).get("files", 0))
    m["writer.cache_mb"] = report["cache_peak_mb"]
    m["writer.spill_mb"] = per_pass(
        lambda o: stat(o, "spill") if o["name"] in ("sort", "convert_jsonl") else 0) / MB
    t = _med(op_vals("convert_jsonl", lambda o: o["s"]))
    m["writer.convert_mbps"] = input_bytes / MB / t if t else 0.0

    for c in CLI_COMMANDS:
        m[f"cli.{c}_s"] = _med(op_vals(c, lambda o: span(o, c)))
    for q in QUERIES:
        m[f"query.{q.split('_')[0]}_s"] = _med(op_vals(q, lambda o: o["s"]))
    is_query = lambda o: o["name"] in QUERIES
    for part in ["build", "plan", "exec"]:
        m[f"query.{part}_s"] = per_pass(lambda o: span(o, part) if is_query(o) else 0)
    n_q = sum(1 for o in ops if is_query(o))
    q_s = sum(o["s"] for o in ops if is_query(o))
    m["query.per_min"] = 60 * n_q / q_s if q_s else 0.0

    for ph in ["analysis", "optimization", "planning"]:
        m[f"driver.{ph}_s"] = per_pass(lambda o: stat(o, f"{ph}_s"))
    wall = sum(o["s"] for o in ops)
    m["driver.idle_frac"] = sum(stat(o, "idle_s") for o in ops) / wall if wall else 0.0
    m["driver.jobs_per_op"] = sum(stat(o, "jobs") for o in ops) / max(len(ops), 1)
    m["driver.tasks_per_op"] = sum(stat(o, "tasks") for o in ops) / max(len(ops), 1)
    m["driver.shuffle_partitions"] = float(report["info"]["shuffle_partitions"])

    cores = report["cores"]
    m["exec.cpu_util"] = sum(stat(o, "cpu_s") for o in ops) / (wall * cores) if wall else 0.0
    m["exec.run_s"] = per_pass(lambda o: stat(o, "run_s"))
    m["exec.cpu_s"] = per_pass(lambda o: stat(o, "cpu_s"))
    m["exec.gc_s"] = per_pass(lambda o: stat(o, "gc_s"))
    m["exec.shuffle_write_mb"] = per_pass(lambda o: stat(o, "shuffle_write")) / MB
    m["exec.shuffle_read_mb"] = per_pass(lambda o: stat(o, "shuffle_read")) / MB
    m["exec.spill_mb"] = per_pass(lambda o: stat(o, "spill")) / MB
    m["exec.peak_exec_mb"] = max([stat(o, "peak_exec") for o in ops] or [0]) / MB
    m["exec.task_skew"] = _med([stat(o, "task_skew") for o in ops])

    builds = {}
    for b in report["builds"]:
        builds.setdefault(b["key"], []).append(b["s"])
    for k in BUILD_KEYS:
        m[f"build.{k}_s"] = _med(builds.get(k, []))
    m["build.other_s"] = sum(sum(v) for k, v in builds.items() if k not in BUILD_KEYS)
    m["build.total_s"] = sum(sum(v) for v in builds.values())
    m["build.in_timed"] = float(len(report["builds_in_timed"]))

    n_pass = max(len(report["passes"]), 1)
    m["jvm.gc_s"] = report["jvm"]["gc_s"] / n_pass
    m["jvm.heap_peak_mb"] = report["jvm"]["heap_peak_mb"]
    tr = _med([p["seconds"] for p in traced_passes])
    un = _med([p["seconds"] for p in plain_passes])
    m["trace.overhead_frac"] = tr / un - 1 if tr and un else 0.0
    m["trace.spans_per_op"] = sum(len(o["spans"]) for o in ops) / max(len(ops), 1)
    m["host.foreign_cpu_frac"] = host["foreign_cpu_frac"]
    m["host.loadavg"] = host["loadavg"]
    return m


# ------------------------------------------------------------ checks

def _check_cols(obs, expect, kinds):
    cols = obs["cols"]
    if [c["name"] for c in cols] != [e["name"] for e in expect]:
        return "column names differ"
    for c, e in zip(cols, expect):
        if c["type"] != kinds[c["name"]]:
            return f"{c['name']}: type {c['type']}, expected {kinds[c['name']]}"
        if (c["nonnull"], c["sum"]) != (e["nonnull"], e["sum"]):
            return (f"{c['name']}: nonnull/sum {c['nonnull']}/{c['sum']}, "
                    f"expected {e['nonnull']}/{e['sum']}")
    return None


def check_csv_op(name, obs, truth):
    """None when a csv_scan observation matches the ground truth, else why."""
    rows, ragged = truth["rows"], truth["ragged"]
    cols = truth["columns"]
    as_string = {h: "string" for h in cols}
    if name == "scan.default":
        expect = [dict(name=h, nonnull=c["nonnull"], sum=c["crc"])
                  for h, c in zip(cols, truth["default"])]
        want, why = rows, _check_cols(obs, expect, as_string)
    elif name == "scan.strict":
        expect = [dict(name=h, nonnull=c["nonnull"], sum=c["crc"])
                  for h, c in zip(cols, truth["strict"])]
        want, why = rows - ragged, _check_cols(obs, expect, as_string)
    elif name == "scan.typed":
        names = {"d": "double", "b": "boolean", "s": "string"}
        kinds = {h: names[truth["typed_kinds"][h]] for h in cols}
        expect = [dict(name=h, **truth["typed"][h]) for h in cols]
        want, why = rows, _check_cols(obs, expect, kinds)
    elif name == "scan.errors":
        want = ragged
        codes = {"TooFewFields": truth["ragged_few"],
                 "TooManyFields": ragged - truth["ragged_few"]}
        codes = {k: v for k, v in codes.items() if v}
        why = None if obs["codes"] == codes else f"codes {obs['codes']} != {codes}"
    elif name == "scan.count":
        want, why = rows, None
    else:
        return f"unknown op {name}"
    if obs["rows"] != want:
        return f"rows {obs['rows']}, expected {want}"
    return why


def check_cli_op(name, obs, truth):
    """None when a CLI command's observation matches the ground truth.
    `validate` must exit 1 (the input has ragged rows) and list them."""
    rows = truth["rows"]
    code, o = obs["exit"], obs["output"]
    if name == "validate":
        lines = obs["stdout"].splitlines()
        want = min(10, truth["ragged"])
        if code != 1:
            return f"exit {code}, expected 1"
        if len(lines) != want or not all(l.startswith("FieldMismatch/") for l in lines):
            return f"expected {want} FieldMismatch lines, got {lines[:3]}"
        return None
    if code != 0:
        return f"exit {code}"
    if name == "convert_jsonl":
        return None if (o["lines"], o["headers"]) == (rows, 0) else f"jsonl output {o}"
    if name == "sort":
        if o["headers"] < 1 or o["lines"] - o["headers"] != rows:
            return f"{o['lines'] - o['headers']} rows written, expected {rows}"
        return None
    return f"unknown op {name}"


def check_ops(report, truth, oracle_failures=None):
    """(attempted, failed, reasons) over every op, the set-up pass included.
    For catalog_mix, every pass of a query must hash-match its set-up
    result, and its last result must pass the oracle check."""
    failed, reasons = 0, []
    warm = {o["name"]: (o["obs"] or {}).get("hash")
            for o in report["ops"] if o["pass"] == "s0" and not o["error"]
            and o["name"] in QUERIES and isinstance(o["obs"], dict)}
    for o in report["ops"]:
        why = o["error"]
        if why is None and (not isinstance(o["obs"], dict) or "observe_error" in o["obs"]):
            why = f"no observation: {o['obs']}"
        if why is None:
            if o["name"].startswith("scan."):
                why = check_csv_op(o["name"], o["obs"], truth)
            elif o["name"] in CLI_COMMANDS:
                why = check_cli_op(o["name"], o["obs"], truth)
            elif oracle_failures and o["name"] in oracle_failures:
                why = f"oracle: {oracle_failures[o['name']]}"
            elif o["obs"]["hash"] != warm.get(o["name"]):
                why = "result differs from the oracle-checked warm pass"
        if why:
            failed += 1
            reasons.append(f"{o['pass']}/{o['name']}: {why}")
    if report["builds_in_timed"]:
        failed += len(report["builds_in_timed"])
        reasons.append(f"shared builds ran in timed passes: {report['builds_in_timed']}")
    return len(report["ops"]), failed, reasons


def compare_frames(mine, them):
    """verify_local-style comparison of a Spark result (pandas) with its
    DuckDB oracle: columns sorted by name, exact values, floats exact,
    everything else compared as strings. None when equal."""
    mine = mine[sorted(mine.columns)]
    them = them[sorted(them.columns)]
    if list(mine.columns) != list(them.columns):
        return f"columns {list(mine.columns)} vs {list(them.columns)}"
    if len(mine) != len(them):
        return f"rows {len(mine)} vs {len(them)}"
    for c in mine.columns:
        for i, (x, y) in enumerate(zip(mine[c].tolist(), them[c].tolist())):
            if isinstance(x, float) and isinstance(y, float):
                if not (x == y or (math.isnan(x) and math.isnan(y))):
                    return f"{c}[{i}]: {x} vs {y}"
            elif str(x) != str(y):
                return f"{c}[{i}]: {x!r} vs {y!r}"
    return None


# ------------------------------------------------------------ output

def validate_result(result, bench, trace):
    """Problems with a printed result line, checked against BENCHMARK.json:
    exactly the four keys, whole counts, and every declared metric (and
    no other) with its unit and a finite number."""
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(result)}")
        return problems
    if not isinstance(result["correct"], bool):
        problems.append("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(result[k], int) or isinstance(result[k], bool) or result[k] < 0:
            problems.append(f"{k} is not a whole number")
    if isinstance(result["attempted"], int) and result["attempted"] < 1:
        problems.append("attempted < 1")
    declared = bench["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = result["metrics"]
    if set(got) != set(want):
        problems.append(f"metrics missing {sorted(set(want) - set(got))} "
                        f"extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        v = got.get(name)
        if not isinstance(v, dict) or v.get("unit") != unit:
            problems.append(f"{name}: unit")
        elif not isinstance(v.get("value"), (int, float)) or not math.isfinite(v["value"]):
            problems.append(f"{name}: value {v.get('value')!r}")
    return problems
