"""The benchmark: one command that builds the engine at the current
checkout, generates seeded inputs, runs one workload as a closed loop with
one client, checks every output and prints the metrics.

Usage:
  python3 perfbench/run.py --workload convert_corpus|query_mix
      --seed N --seconds S --trace 0|1

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1` (see README.md).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("convert_corpus", "query_mix")
CORES = 2          # Spark's fixed master, local[2]: fewer cores than the machine's 4
HEAP = "2g"
# warm-up rounds after the set-up, and the time one timed round takes on
# the reference machine (README.md): `--seconds` buys that many rounds,
# a fixed op count, so a faster commit runs exactly the same ops
WARMUP = {"convert_corpus": 4, "query_mix": 1}
NOMINAL_ROUND_S = {"convert_corpus": 2.5, "query_mix": 17.0}
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
LAYERS = ("ingest", "relationships", "engine", "queries")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def du(path):
    """(bytes, parquet part files) under a directory."""
    total, parts = 0, 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
            parts += f.endswith(".parquet")
    return total, parts


def median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_rounds(workload, seconds):
    return max(1, round(seconds / NOMINAL_ROUND_S[workload]))


def run_jvm(cp, workload, work, seconds, trace):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/tmp",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.PerfBench",
            "--workload", workload, "--work", work,
            "--rounds", str(timed_rounds(workload, seconds)),
            "--trace", str(trace),
            "--cores", str(CORES), "--warmup", str(WARMUP[workload])]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        t_start = time.time()
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM failed ({rc}):\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return t_start, json.load(f)


def check_ops(workload, work, res, model):
    """Failed op indices, plus counts the checks measured."""
    con = check.connect()
    ops = res["ops"]
    failed = set()
    info = {}
    if workload == "convert_corpus":
        tc = check.TableCheck(con, os.path.join(work, "model"))
        for o in ops:
            bad = tc.diff(o["out"])
            if bad:
                failed.add(o["i"])
                log(f"op {o['i']} ({'traced' if o['traced'] else 'untraced'})"
                    f" differs from the model: {bad}")
    else:
        sqls = check.reference_sql(model["params"])
        check.open_database(con, os.path.join(work, "db"))
        bad_calls, rows = set(), 0
        for name, sql in sqls.items():
            n, d = check.query_check(con, name, sql,
                                     os.path.join(work, "results", name))
            rows += n
            if d:
                bad_calls.add(name)
                log(f"{name}: {d} rows differ from the reference SQL")
        failed = {o["i"] for o in ops if o["name"] in bad_calls}
        info["result_rows"] = rows
    return failed, info


def spans_by_op(path):
    by_op = defaultdict(list)
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            s["dur"] = s["end"] - s["start"]
            by_op[s["op"]].append(s)
    return by_op


def self_times(spans):
    """Per span id: duration minus the part its children cover."""
    kids = defaultdict(float)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]] += s["dur"]
    return {s["id"]: s["dur"] - kids[s["id"]] for s in spans}


def layer_metrics(workload, work, res, info, t_start):
    ops = res["ops"]
    traced = [o for o in ops if o["traced"]]
    by_op = spans_by_op(os.path.join(work, "spans.jsonl"))
    # one dict per traced op: summed span durations and counters by name
    per_op = []
    for o in traced:
        spans = by_op[o["i"]]
        st = self_times(spans)
        d = defaultdict(float)
        for s in spans:
            layer = s["name"].split(".")[0]
            d[s["name"] + ".dur"] += s["dur"]
            d[layer + ".self"] += st[s["id"]]
            for k in ("cpu_s", "tasks", "jobs", "shuffle_write",
                      "bytes_read"):
                d[f"{layer}.{k}"] += s[k]
        d["op.total"] = sum(s["dur"] for s in spans if s["parent"] == 0)
        d.update({f"count.{k}": v for k, v in o["counts"].items()})
        per_op.append((o, d))

    def med(key, family=None):
        return median([d.get(key, 0.0) for o, d in per_op
                       if family is None or o["family"] == family])

    untimed_rounds = res["first_timed_round"]
    timed_plain = [o for o in ops if not o["traced"]
                   and o["round"] >= untimed_rounds]
    # tracing overhead: traced minus untraced op time, per round
    by_round = defaultdict(lambda: [0.0, 0.0, 0])
    for o in ops:
        if o["round"] >= untimed_rounds:
            r = by_round[o["round"]]
            r[1 if o["traced"] else 0] += o["end"] - o["start"]
            r[2] += o["traced"]
    overhead = median([(t - u) / n for u, t, n in by_round.values() if n])
    # the traced ops' layer self times against their traced duration
    share = median([sum(d[f"{ly}.self"] for ly in LAYERS) / d["op.total"]
                    for _, d in per_op if d["op.total"] > 0])
    conv = workload == "convert_corpus"
    # layout of what the untraced call wrote (the traced split's write
    # of two cached edge frames is partitioned differently)
    outs = ([o["out"] for o in timed_plain if o["out"]]
            or [os.path.join(work, "db")])
    sizes = [du(p) for p in outs]
    rounds = max(1, len(by_round))
    per_round = lambda key: sum(d.get(key, 0.0) for _, d in per_op) / rounds
    m = {
        "session.start_s": (res["session_ready"] - t_start, "s"),
        "session.first_op_s": (res["first_op_end"] - res["session_ready"],
                               "s"),
        "jvm.gc_s": (res["gc_s"], "s"),
        "jvm.op_cpu_s": (median([o["cpu_s"] for o in timed_plain]), "s"),
        "ingest.parse_s": (med("ingest.parse.dur"), "s"),
        "ingest.dedup_s": (med("ingest.dedup.dur"), "s"),
        "ingest.cpu_s": (med("ingest.cpu_s"), "s"),
        "ingest.tasks": (med("ingest.tasks"), "count"),
        "ingest.shuffle_bytes": (med("ingest.shuffle_write"), "bytes"),
        "ingest.files": (med("count.parsed_files"), "count"),
        "ingest.files_skipped": (
            median([o["files_skipped"] for o in ops]) if conv else 0, "count"),
        "ingest.node_keep_ratio": (
            med("count.nodes") / med("count.raw_nodes")
            if conv and med("count.raw_nodes") else 0.0, "ratio"),
        "relationships.structural_s": (
            med("relationships.structural.dur"), "s"),
        "relationships.attribute_reference_s": (
            med("relationships.attribute_reference.dur"), "s"),
        "relationships.cpu_s": (med("relationships.cpu_s"), "s"),
        "relationships.shuffle_bytes": (
            med("relationships.shuffle_write"), "bytes"),
        "relationships.structural_edges": (
            med("count.structural_edges"), "count"),
        "relationships.attribute_reference_edges": (
            med("count.attribute_reference_edges"), "count"),
        "engine.write_s": (med("engine.write.dur"), "s"),
        "engine.files_written": (median([p for _, p in sizes]), "count"),
        "engine.stored_bytes": (median([b for b, _ in sizes]), "bytes"),
        "engine.read_s": (med("engine.read.dur"), "s"),
        "engine.cached_mb": (median([o["cached_mb"] for o in timed_plain]),
                             "MB"),
        "engine.leaked_mb": (median([o["leaked_mb"] for o in timed_plain]),
                             "MB"),
        "queries.point_s": (med("queries.point.dur", "point"), "s"),
        "queries.search_s": (med("queries.search.dur", "search"), "s"),
        "queries.aggregate_s": (med("queries.aggregate.dur", "aggregate"),
                                "s"),
        "queries.traverse_s": (med("queries.traverse.dur", "traverse"), "s"),
        "queries.jobs": (per_round("queries.jobs"), "count"),
        "queries.tasks": (per_round("queries.tasks"), "count"),
        "queries.bytes_read": (per_round("queries.bytes_read"), "bytes"),
        "queries.shuffle_bytes": (per_round("queries.shuffle_write"),
                                  "bytes"),
        "queries.result_rows": (info.get("result_rows", 0), "count"),
        "ingest.self_s": (med("ingest.self"), "s"),
        "relationships.self_s": (med("relationships.self"), "s"),
        "engine.self_s": (med("engine.self"), "s"),
        "queries.self_s": (med("queries.self"), "s"),
        "trace.unattributed_s": (med("op.self"), "s"),
        "trace.layer_share": (share, "ratio"),
        "trace.overhead_s": (overhead, "s"),
    }
    return m


def e2e_metrics(workload, work, res, model, t_start):
    ops = res["ops"]
    timed = [o for o in ops if o["round"] >= res["first_timed_round"]]
    lat = [o["end"] - o["start"] for o in timed]
    span = res["timed_end"] - res["timed_start"]
    xml = model["input_bytes"]
    if workload == "convert_corpus":
        stored = [du(o["out"])[0] / xml for o in timed]
    else:
        stored = [du(os.path.join(work, "db"))[0] / xml]
    return {
        "setup_s": (res["timed_start"] - t_start, "s"),
        "op_p50_s": (median(lat), "s"),
        "ops_per_s": (len(timed) / span, "1/s"),
        "stored_bytes_per_input_byte": (median(stored), "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def run(workload, seed, seconds, trace, keep=False, corrupt=None):
    """One benchmark run; returns the result object. `corrupt`, if given,
    is called with the run directory and result before the checks (the
    self-test uses it)."""
    cp = build.build()
    base = os.path.join(build.OUT, "runs")
    work = os.path.join(base, f"{workload}-s{seed}-t{trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        model = gen.generate(seed, work)
        t_start, res = run_jvm(cp, workload, work, seconds, trace)
        if corrupt:
            corrupt(work, res)
        failed, info = check_ops(workload, work, res, model)
        if trace:
            metrics = layer_metrics(workload, work, res, info, t_start)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(base, f"spans-{workload}.jsonl"))
        else:
            metrics = e2e_metrics(workload, work, res, model, t_start)
        # every op was checked; `correct` speaks of the ops that did not
        # fail, the failing ones are counted in `failed`
        return {
            "correct": True,
            "attempted": len(res["ops"]),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="XML graph engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory under .bench_build")
    a = ap.parse_args()
    try:
        out = run(a.workload, a.seed, a.seconds, a.trace, keep=a.keep)
    except (build.BuildError, RuntimeError) as e:
        log(str(e))
        sys.exit(2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
