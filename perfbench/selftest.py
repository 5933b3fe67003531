#!/usr/bin/env python3
"""The benchmark's own tests, at the tiny smoke size (a few minutes).

    python3 perfbench/selftest.py      (from the repository root)

Checks that:
  * BENCHMARK.json names exactly the metrics the program prints;
  * every workload prints every end-to-end metric with its unit, and a
    traced run every per-layer metric, with correct outputs;
  * a deliberately corrupted expected digest (DuckDB oracle and shipped
    digest) is reported as a failed op with a non-zero exit;
  * the timed action keeps a join that count() would eliminate;
  * the command fails, printing no result, without the repo's sources.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

ROOT = os.getcwd()
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SEED = 1


def bench(*args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seconds", "1", "--size", "smoke",
           "--seed", str(SEED)] + list(args)
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, last, p.stderr


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        expect.failed += 1


expect.failed = 0


def check_units(last, specs, what):
    got = last["metrics"] if last else {}
    want = {m["name"]: m["unit"] for m in specs}
    expect(set(got) == set(want), f"{what}: prints exactly the metrics BENCHMARK.json lists")
    expect(all(got[n]["unit"] == u and isinstance(got[n]["value"], (int, float)) for n, u in want.items() if n in got),
           f"{what}: every metric has a numeric value and its unit")


def main():
    build.build()
    expect([m["name"] for m in BENCH["end_to_end"]] == list(run.E2E), "end-to-end metric list matches run.py")

    for wl in run.WORKLOADS:
        rc, last, err = bench("--workload", wl, "--trace", "0")
        expect(rc == 0 and last and last["correct"] and last["failed"] == 0, f"{wl}: smoke run correct, exit 0")
        check_units(last, BENCH["end_to_end"], wl)

    rc, last, err = bench("--workload", "eeg_dsp", "--trace", "1")
    expect(rc == 0 and last and last["correct"], "eeg_dsp traced: smoke run correct, exit 0")
    check_units(last, BENCH["per_layer"], "eeg_dsp traced")

    rc, last, err = bench("--workload", "eeg_dsp", "--trace", "0", "--corrupt", "fir_same")
    expect(rc != 0 and last and not last["correct"] and last["failed"] > 0,
           "eeg_dsp: a corrupted oracle digest fails the run")
    rc, last, err = bench("--workload", "corpus_curation", "--trace", "0", "--corrupt", "curate")
    expect(rc != 0 and last and not last["correct"] and last["failed"] > 0,
           "corpus_curation: a corrupted shipped digest fails the run")

    work = os.path.join(run.bench_dir(), "work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "pruning.json")
    subprocess.run(["java"] + build.jvm_opens() + ["-Xmx1g", f"-Djava.io.tmpdir={work}", "-cp", build.classpath(),
                    "perfbench.Main", "--selftest-pruning", "--work", work, "--out", out],
                   cwd=work, capture_output=True, check=True)
    r = json.load(open(out))
    expect(int(r["count_plan_joins"]) == 0, "count() eliminates the cardinality-preserving left join")
    expect(int(r["timed_plan_joins"]) >= 1, "the timed noop write keeps the join")

    bare = os.path.join(work, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, last, err = bench("--workload", "eeg_dsp", "--trace", "0", cwd=bare)
    expect(rc != 0 and last is None, "without the repo's sources the command fails and prints no result")

    print(f"{expect.failed} failed")
    sys.exit(1 if expect.failed else 0)


if __name__ == "__main__":
    main()
