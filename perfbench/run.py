#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve_endpoints --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness with sbt into `perfbench/target` and `target`, keeping sbt's own
state under `.bench_build`, and generates the inputs under
`.bench_build/data`. Each run then computes (or reuses) the DuckDB oracle
results, starts one harness JVM, checks every output, and prints one JSON
line last: the end-to-end metrics with `--trace 0`, the per-layer metrics
of a traced repeat of the timed rounds with `--trace 1`. The full report
of the run is written next to its inputs and named on stdout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BASE = {"sf": 0.1, "seed": 42}
# dedup_scale: two disjoint copies of a corpus the size of sf0.01's (500
# documents, 500 embeddings), generated like the base: 1,000 of each
DEDUP = {"docs": 500, "vecs": 500, "copies": 2}
HEAP = "3g"
QUIET_SENTINEL_MS = 48.0
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in sorted(os.walk(os.path.join(root, top))):
            inputs += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files)]
    for rel in inputs:
        p = os.path.join(root, rel)
        if os.path.isfile(p):
            h.update(rel.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, log_path, env=None):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout} s (log: {log_path})")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build(root, state):
    """Compiles engine + harness once per source tree; returns the launch spec."""
    stamp_path = os.path.join(state, "build.stamp")
    launch = os.path.join(root, "perfbench", "target", "launch.json")
    describe = os.path.join(state, "describe.json")
    stamp = source_stamp(root)
    if (os.path.exists(stamp_path) and open(stamp_path).read() == stamp
            and os.path.exists(launch) and os.path.exists(describe)):
        return json.load(open(launch)), json.load(open(describe))
    if shutil.which("sbt") is None:
        raise BenchError("sbt is not on PATH")
    log("building engine and harness with sbt (first run of this tree)")
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={state}/sbt-global",
           f"-Dsbt.boot.directory={state}/sbt-boot",
           f"-Dsbt.ivy.home={state}/ivy",
           f"-Djava.io.tmpdir={tmp}",
           "-Dsbt.server.forcestart=false",
           "compile", "benchLaunch"]
    t0 = time.time()
    rc = run_bounded(cmd, os.path.join(root, "perfbench"), BUILD_TIMEOUT_S,
                     os.path.join(state, "build.log"), env)
    if rc != 0 or not os.path.exists(launch):
        raise BenchError(f"sbt build failed (exit {rc}); see {state}/build.log")
    spec = json.load(open(launch))
    rc = run_bounded(java_cmd(spec, tmp, ["--describe", describe]), root, 120,
                     os.path.join(state, "describe.log"))
    if rc != 0:
        raise BenchError(f"harness --describe failed; see {state}/describe.log")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return spec, json.load(open(describe))


def java_cmd(spec, tmp, args):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *spec["java_options"],
             "-cp", os.pathsep.join(spec["classpath"]), "perfbench.Harness", *args])


def materialize(path, make):
    """Writes a generated table set once, atomically; returns row counts."""
    rows_path = os.path.join(path, "rows.json")
    if not os.path.exists(rows_path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        rows = gen.write(make(), tmp)
        with open(os.path.join(tmp, "rows.json"), "w") as f:
            json.dump(rows, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return json.load(open(rows_path))


def inputs(workload, seed, state, run_dir):
    """(data dir, input digest, row counts) for one run.

    serve_endpoints reads the base tables as they are; the seed orders its
    requests. dedup_scale reads the scaled-up corpus with its rows in a
    seed-drawn order: the layout follows the seed, the content does not, so
    one oracle result serves every seed.
    """
    data = os.path.join(state, "data")
    base_key = gen.content_key(BASE)
    base_dir = os.path.join(data, f"base-{base_key}")
    rows = materialize(base_dir, lambda: gen.base_tables(BASE["sf"], BASE["seed"]))
    if workload == "serve_endpoints":
        return base_dir, base_key, rows
    params = dict(BASE, **DEDUP)
    key = gen.content_key(params)
    canon = os.path.join(data, f"dedup-{key}")
    rows = materialize(canon, lambda: gen.dedup_tables(
        {n: pq.read_table(os.path.join(base_dir, f"{n}.parquet")) for n in gen.TABLES},
        BASE["seed"], **DEDUP))
    run_data = os.path.join(run_dir, "data")
    os.makedirs(run_data)
    rng = np.random.default_rng(seed)
    for n in gen.TABLES:
        src = os.path.join(canon, f"{n}.parquet")
        dst = os.path.join(run_data, f"{n}.parquet")
        if n in ("documents", "embeddings"):
            pq.write_table(gen.permute(pq.read_table(src), rng), dst)
        else:
            os.link(src, dst)
    return run_data, key, rows


def sentinel(result):
    pre = statistics.median(result["sentinel_pre_ms"])
    post = statistics.median(result["sentinel_post_ms"])
    hot = max(pre, post) > 2 * QUIET_SENTINEL_MS
    return {"pre_ms": round(pre, 3), "post_ms": round(post, 3),
            "floor_ms": QUIET_SENTINEL_MS, "verdict": "hot" if hot else "quiet"}


def bench(args, root):
    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    spec, desc = build(root, state)
    if args.workload not in desc["workloads"]:
        raise BenchError(f"unknown workload {args.workload}; "
                         f"known: {', '.join(sorted(desc['workloads']))}")
    ops = desc["workloads"][args.workload]
    runs = os.path.join(state, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}")
    os.makedirs(run_dir)
    data, key, rows = inputs(args.workload, args.seed, state, run_dir)
    oracle_dir = os.path.join(state, "oracle")
    expected = oracle.expected(ops, desc["sql"], data, oracle_dir, key)
    verified_path = os.path.join(oracle_dir, f"{key}-verified.txt")
    verified = set(open(verified_path).read().split("\n")) if os.path.exists(verified_path) else set()

    work = os.path.join(run_dir, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    harness_args = ["--workload", args.workload, "--data", data, "--work", work,
                    "--seconds", str(args.seconds), "--seed", str(args.seed),
                    "--trace", str(args.trace),
                    "--verified", verified_path if verified else "",
                    "--launch-ms", str(int(time.time() * 1000))]
    rc = run_bounded(java_cmd(spec, tmp, harness_args), root, RUN_TIMEOUT_S,
                     os.path.join(run_dir, "jvm.log"))
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        raise BenchError(f"harness exited {rc}; see {run_dir}/jvm.log")
    result = json.load(open(result_path))

    oracle_errors = {}
    for op in ops:
        ref = result["references"].get(op)
        if ref and ref["path"] is None and f"{op} {ref['digest']}" in verified:
            oracle_errors[op] = None
            continue
        got = oracle.read_output(ref["path"]) if ref and ref["path"] else None
        oracle_errors[op] = ("no output" if got is None
                             else oracle.compare(got, expected[op]))
        if oracle_errors[op] is None:
            verified.add(f"{op} {ref['digest']}")
    with open(verified_path, "w") as f:
        f.write("\n".join(sorted(v for v in verified if v)))
    attempted, failed, failures = metrics.check_calls(result, oracle_errors)
    for op, why in sorted(failures.items()):
        print(f"FAIL {op}: {why}")
    correct = failed == 0 and not any(oracle_errors.values())

    e2e, e2e_notes = metrics.end_to_end(result)
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "input_rows": rows, "input_digest": key, "ops": ops,
              "oracle_checked": {op: err is None for op, err in oracle_errors.items()},
              "fail_ratio": failed / attempted, "sentinel": sentinel(result),
              "end_to_end": e2e, **e2e_notes,
              "round_jvm": result["round_jvm"],
              "latency_ms_by_op": {op: [c["ms"] for c in result["calls"] if c["op"] == op]
                                   for op in ops}}
    if args.trace:
        layers, layer_notes = metrics.per_layer(result, lambda op: desc["layers"].get(op, "model"))
        report.update(per_layer=layers, **layer_notes)
        shown = layers
    else:
        shown = e2e
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    s = report["sentinel"]
    print(f"sentinel: pre {s['pre_ms']} ms, post {s['post_ms']} ms, "
          f"verdict {s['verdict']} (quiet floor {s['floor_ms']} ms)")
    if s["verdict"] == "hot":
        log("WARNING: the contention sentinel read hot; another process shared the machine")
    print(f"latency samples {e2e_notes['latency_samples']}, "
          f"beyond p75 {e2e_notes['samples_beyond_p75']}, rounds {e2e_notes['rounds']}; "
          f"report {os.path.relpath(os.path.join(run_dir, 'report.json'), root)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))
    return 0


def selftest(root):
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    spec, _ = build(root, state)
    work = os.path.join(state, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rc = run_bounded(java_cmd(spec, os.path.join(work, "tmp"),
                              ["--selftest-attribution", "--work", work]),
                     root, RUN_TIMEOUT_S, os.path.join(work, "jvm.log"))
    print(open(os.path.join(work, "jvm.log")).read().strip().splitlines()[-1])
    return 0 if ok and rc == 0 else 1


def main():
    # A terminated benchmark still stops the JVM it started (run_bounded).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    try:
        if not (os.path.isfile(os.path.join(root, "build.sbt"))
                and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
            raise BenchError("run from the repository root: build.sbt and src/main/scala are missing")
        if args.selftest:
            return selftest(root)
        if not args.workload:
            raise BenchError("--workload is required")
        return bench(args, root)
    except BenchError as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
