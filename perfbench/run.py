#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload eeg_dsp|corpus_curation|ann_serve \\
        --seed N --seconds S --trace 0|1 [--size full|smoke]
    python3 perfbench/run.py --compare RESULT_A.json RESULT_B.json

Run from the repository root. It builds graft and the benchmark program
(perfbench/build.py), runs the workload in one JVM at local[nproc],
checks every op's output and prints, as the last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it names every end-to-end metric with its unit. The full result
(environment, every op, the trace) is kept under .bench_build/perfbench.
Exit code 0 only if every op succeeded and every output checked out.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("eeg_dsp", "corpus_curation", "ann_serve")
HEAP = "2g"  # pinned: part of the workload definition, recorded in every result
# A fixed-size heap with fixed generations: GC frequency then follows the
# program's allocation, not the collector's run-to-run sizing decisions.
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xmn600m", "-XX:-UseAdaptiveSizePolicy"]
DEADLINE_S = 170  # the whole command must end within 180 s
# end-to-end metrics of the JSON line; the report line adds op_tail_s, which
# needs more samples of an op kind than one warm pass gives, and
# failed_frac, which is 0 on a good run
E2E = ("setup_s", "records_per_s", "op_p50_s", "write_p50_s", "first_pass_s", "peak_rss_mb")
REPORT = E2E[:3] + ("op_tail_s",) + E2E[3:] + ("failed_frac",)
# settings two results must share before they can be compared
ENV_KEYS = ("nproc", "master", "shuffle_partitions", "heap_max_mb", "jvm", "spark", "scala",
            "extensions", "size", "heap", "jvm_flags")


def bench_dir():
    return os.path.join(build.OUT, "perfbench")


def run_jvm(args, work, out, deadline):
    cmd = ["java"] + build.jvm_opens() + [
        "-Xss64m", f"-Djava.io.tmpdir={work}/tmp"] + JVM_FLAGS + [
        "-cp", build.classpath(), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--size", args.size, "--work", work, "--out", out,
    ]
    # the benchmark pins its own session: nothing graft-specific leaks in
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "SPARK_CONF"))}
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: {args.workload} exceeded the {DEADLINE_S} s limit")
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: benchmark JVM failed with exit code {rc}")
    with open(out) as fh:
        return json.load(fh)


def close(a, b, rows, scale):
    """Stats agree up to rare last-digit flips of 6-dp rounded values."""
    flips = 1e-6 * 64 * (rows / 1000.0 + 2)
    return abs(a - b) <= flips + 1e-11 * scale


def stats_mismatch(name, got_rows, got, want_rows, want):
    if got_rows != want_rows:
        return f"{name}: {got_rows} rows, oracle {want_rows}"
    for k, v in want.items():
        if k == "rows":
            continue
        col = k.split(":", 1)[1]
        scale = max(abs(want.get("abs:" + col, 0.0)), 1.0) * (64 if k.startswith("wsum") else 1)
        if k not in got or not close(got[k], v, got_rows, scale):
            return f"{name}: {k} = {got.get(k)}, oracle {v}"
    return None


def duckdb_oracle(res, corrupt):
    """Runs each op's DuckDB twin on the events parquet of the decoded
    signal and compares the same aggregates. Returns {op: error}."""
    import duckdb
    errors = {}
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count()}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{bench_dir()}/duckdb_tmp'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{res['oracle_events']}/*.parquet')")
    for op, o in sorted(res["oracle"].items()):
        if o["sql"] is None:
            continue
        # the same aggregates Spark computed in the timed pass
        aggs = [(k, o["stats"][k]) for k in sorted(o["stats"])]
        cols = con.execute(f"DESCRIBE SELECT * FROM ({o['sql']}) q").fetchall()
        schema = [(c[0], c[1]) for c in cols]
        exprs = ", ".join([f"{stat_sql(k, schema)} AS \"{k}\"" for k, _ in aggs])
        row = con.execute(f"SELECT count(*), {exprs} FROM ({o['sql']}) q").fetchone()
        want = {k: (row[i + 1] if row[i + 1] is not None else 0.0) for i, (k, _) in enumerate(aggs)}
        got = dict(o["stats"])
        rows = int(o["rows"])
        if op == corrupt:
            rows += 1
        err = stats_mismatch(op, rows, got, int(row[0]), want)
        if err:
            errors[op] = "DuckDB oracle: " + err
    for op, ref in res.get("reference", {}).items():
        o = res["oracle"].get(op)
        if o is None:
            continue
        rows = int(o["rows"]) + (1 if op == corrupt else 0)
        err = stats_mismatch(op, rows, o["stats"], int(ref["rows"]), ref)
        if err:
            errors[op] = "reference: " + err
    return errors


def stat_sql(key, schema):
    """DuckDB form of Digest.statSql: the same weight, the same sums."""
    kind, col = key.split(":", 1)
    ints = [n for n, t in schema if t in ("BIGINT", "INTEGER")]
    keyed = " + ".join(f"{i + 1} * {c}" for i, c in enumerate(ints)) or "0"
    chan = "8 * CAST(substring(channel, 3, 8) AS INTEGER)" if any(n == "channel" for n, _ in schema) else "0"
    w = f"(1 + ((({keyed}) % 7 + 7) % 7) + {chan})"
    c = f"CAST({col} AS DOUBLE)"
    return {"sum": f"sum({c})", "abs": f"sum(abs({c}))", "wsum": f"sum({c} * {w})"}[kind]


def shipped_digests(res, args, corrupt):
    """Digests recorded for the seeds the benchmark ships. Returns {op: error}."""
    path = os.path.join(HERE, "digests.json")
    shipped = json.load(open(path)).get(f"{args.workload}/{args.size}/{args.seed}", {}) if os.path.exists(path) else {}
    first = {o["op"]: o["digest"] for o in res["ops"] if o["pass"] == 0 and o["digest"]}
    errors = {}
    for op, want in shipped.items():
        if op == corrupt:
            want = "0:" + want
        if first.get(op) != want:
            errors[op] = f"digest {first.get(op)} differs from the recorded {want}"
    return errors


def record_digests(res, args):
    path = os.path.join(HERE, "digests.json")
    data = json.load(open(path)) if os.path.exists(path) else {}
    stable = {"eeg_dsp", "corpus_curation"}
    if args.workload in stable:
        data[f"{args.workload}/{args.size}/{args.seed}"] = {
            o["op"]: o["digest"] for o in res["ops"] if o["pass"] == 0 and o["digest"]}
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def compare(a_path, b_path):
    a, b = json.load(open(a_path)), json.load(open(b_path))
    diff = [k for k in ENV_KEYS if a["env"].get(k) != b["env"].get(k)]
    if a["workload"] != b["workload"]:
        diff.append("workload")
    if diff:
        for k in diff:
            print(f"environment differs in {k}: {a['env'].get(k)!r} vs {b['env'].get(k)!r}")
        raise SystemExit("perfbench: refusing to compare results from different environments")
    for group in ("metrics", "layer_metrics"):
        for name in sorted(set(a[group]) & set(b[group])):
            va, vb = a[group][name]["value"], b[group][name]["value"]
            rel = (vb - va) / va if va else float("nan")
            print(f"{a['workload']:16s} {name:30s} {va:14.6g} {vb:14.6g} {rel:+8.2%} {a[group][name]['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--compare", nargs=2, metavar="RESULT")
    # test hooks: corrupt one op's expected digest; record shipped digests
    ap.add_argument("--corrupt", help=argparse.SUPPRESS)
    ap.add_argument("--record-digests", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.compare:
        compare(*args.compare)
        return
    if None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    build.build()
    deadline = time.time() + DEADLINE_S
    tag = f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}"
    work = os.path.join(bench_dir(), "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(args, work, os.path.join(work, "result.json"), deadline)

    errors = {}
    if res.get("store_check") is not None:
        errors["store"] = res["store_check"]
    if args.workload == "eeg_dsp":
        errors.update(duckdb_oracle(res, args.corrupt))
    errors.update(shipped_digests(res, args, args.corrupt))
    if args.record_digests:
        record_digests(res, args)

    # a wrong output fails every run of that op; a wrong store fails the run
    for o in res["ops"]:
        if o["error"] is None and o["op"] in errors:
            o["error"] = errors[o["op"]]
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if o["error"] is not None) + (1 if "store" in errors else 0)
    res["env"].update({"heap": HEAP, "jvm_flags": " ".join(JVM_FLAGS),
                       "source_sha256": build.stamp(sum(build.sources(), []))})
    res["checks"] = errors
    for name, err in sorted(errors.items()):
        print(f"FAILED {name}: {err}", file=sys.stderr)
    for o in res["ops"]:
        if o["error"] is not None and o["op"] not in errors:
            print(f"FAILED {o['op']} (pass {o['pass']}): {o['error']}", file=sys.stderr)

    os.makedirs(os.path.join(bench_dir(), "results"), exist_ok=True)
    keep = os.path.join(bench_dir(), "results", tag + ".json")
    with open(keep, "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    if args.trace:
        shutil.copy(os.path.join(work, "trace.json"), os.path.join(bench_dir(), "results", tag + ".trace.json"))

    m = res["metrics"]
    report = ", ".join(f"{k}={m[k]['value']:.6g} {m[k]['unit']}" for k in REPORT)
    print(f"{args.workload} seed={args.seed} trace={args.trace}: {report}; "
          f"op_tail_s at p{res['tail_percentile']:.1f}; samples: {res['read_samples']} reads, "
          f"{res['write_samples']} writes, {res['passes']} passes; result {keep}")
    if args.trace:
        metrics = res["layer_metrics"]
    else:
        metrics = {k: m[k] for k in E2E}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
