#!/usr/bin/env python3
"""Toy-size self-test of the benchmark (about ten minutes on 4 cores, two builds included).

    python3 perfbench/selftest.py

Checks, on tiny inputs:
  * every workload prints, as its last stdout line, exactly the keys
    correct/attempted/failed/metrics, with every end-to-end metric of
    BENCHMARK.json (--trace 0) or every per-layer metric (--trace 1), each
    with its unit;
  * an injected wrong answer is counted as a failed operation, and the
    run exits non-zero;
  * two runs with the same seed give identical recall_at_10,
    store_bytes_per_vector and quantizer.certified_candidates;
  * without the library's sources the benchmark exits non-zero and prints
    no result;
  * a copy built in one directory and then moved runs without a rebuild.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        failures.append(msg)


def run(workload, trace, seed=7, fault=False, cwd=ROOT, script=RUN):
    cmd = ["python3", script, "--workload", workload, "--seed", str(seed), "--seconds", "2",
           "--trace", str(trace), "--scale", "toy"]
    if fault:
        cmd.append("--inject-fault")
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = report = None
    try:
        result = json.loads(lines[-1])
        report = json.loads(lines[0])["perfbench"]
    except (IndexError, ValueError, KeyError):
        pass
    return p.returncode, result, report, p.stderr


def check_result(workload, trace, code, result):
    tag = f"{workload} --trace {trace}"
    check(code == 0, f"{tag}: exit code 0 (got {code})")
    if result is None:
        check(False, f"{tag}: last line is a JSON object")
        return
    check(sorted(result) == ["attempted", "correct", "failed", "metrics"], f"{tag}: result keys")
    check(result["correct"] is True and result["failed"] == 0, f"{tag}: correct, no failed operations")
    check(isinstance(result["attempted"], int) and result["attempted"] >= 1, f"{tag}: attempted >= 1")
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    check(sorted(got) == sorted(m["name"] for m in wanted), f"{tag}: exactly the listed metrics")
    for m in wanted:
        v = got.get(m["name"], {})
        check(isinstance(v.get("value"), (int, float)) and v.get("unit") == m["unit"],
              f"{tag}: {m['name']} has a value and unit {m['unit']}")


def main():
    reports = {}
    for w in [x["name"] for x in SPEC["workloads"]]:
        for trace in (0, 1):
            code, result, report, err = run(w, trace)
            if code != 0:
                sys.stderr.write(err[-3000:])
            check_result(w, trace, code, result)
            reports[(w, trace)] = report

    code, result, report, _ = run("serve_quant", 1)
    first = reports[("serve_quant", 1)]
    for name in ("recall_at_10", "store_bytes_per_vector"):
        a = first and first["named"].get(name, {}).get("value")
        b = report and report["named"].get(name, {}).get("value")
        check(a is not None and a == b, f"same seed, same {name} ({a} vs {b})")
    a = first and first["per_layer"].get("quantizer.certified_candidates")
    b = report and report["per_layer"].get("quantizer.certified_candidates")
    check(a is not None and a == b, f"same seed, same quantizer.certified_candidates ({a} vs {b})")

    for w in ("serve_quant", "exact_knn", "ingest_compact"):
        code, result, report, _ = run(w, 0, fault=True)
        check(code != 0, f"{w} with an injected wrong answer exits non-zero (got {code})")
        check(result is not None and result.get("correct") is False and result.get("failed", 0) >= 1,
              f"{w}: the injected wrong answer is counted as failed")

    bare = os.path.join(HERE, "work", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "work", "project/project"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run(["python3", "perfbench/run.py", "--workload", "serve_quant", "--seed", "1",
                        "--seconds", "2", "--trace", "0"], cwd=bare, capture_output=True, text=True,
                       timeout=180)
    check(p.returncode != 0 and p.stdout.strip() == "",
          f"without the library sources: non-zero exit, no result (exit {p.returncode})")
    shutil.rmtree(bare, ignore_errors=True)

    # a checkout built in one directory and then moved keeps its build
    built = os.path.join(HERE, "work", "selftest_built")
    moved = os.path.join(HERE, "work", "selftest_moved")
    for d in (built, moved):
        shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(built, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "work", "project/project"))
    shutil.copytree(os.path.join(ROOT, "src"), os.path.join(built, "src"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), built)
    code, result, _, _ = run("serve_quant", 0, cwd=built, script="perfbench/run.py")
    check(code == 0 and result is not None, f"fresh copy builds and runs (exit {code})")
    os.rename(built, moved)
    code, result, _, err = run("serve_quant", 0, cwd=moved, script="perfbench/run.py")
    check(code == 0 and result is not None and "building" not in err,
          f"moved copy runs without a rebuild (exit {code})")
    shutil.rmtree(moved, ignore_errors=True)

    print(f"{len(failures)} failed" if failures else "all checks passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
