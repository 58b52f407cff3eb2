#!/usr/bin/env python3
"""The repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload query|digitize --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness from
source (`perfbench/harness`, an sbt build that depends on the root build),
generates the seed's inputs (`perfbench/inputs.py`), runs the harness JVM at
local[4], checks every output, and prints each metric with its unit, sample
count, median and quartiles. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
(`--trace 0`) or the per-layer metrics of a traced run (`--trace 1`).
Build outputs, inputs, oracle results and run records live under
`.bench_build/perfbench/`.
"""
import argparse
import glob
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import inputs as gen  # noqa: E402

WORKLOADS = ("query", "digitize")
DEFAULT_SEED = 1
HEAP = "2g"
# the harness JVM ends within --seconds plus this margin (set-up, the cold
# pass, the warm-up passes, the fewest steady passes and the output checks)
MARGIN_S = 150
# offline sbt: the user's repository list (when there is one) overrides the
# builds' own resolvers, so artifacts come from the local cache
_REPOS = os.path.expanduser("~/.sbt/repositories")
SBT_OPTS = ((f"-Dsbt.override.build.repos=true -Dsbt.repository.config={_REPOS} "
             if os.path.exists(_REPOS) else "")
            + "-Dsbt.offline=true -Xmx2g -XX:+PerfDisableSharedMem")

# metric names and units, end to end (--trace 0) and per layer (--trace 1);
# the record also carries the wall times first_pass_s and pass_s (not gated:
# other tenants of a shared host move them by more than any bound), op_p50_s,
# op_p90_s, task_s, items_per_s, resume_s, pages_per_s and error_rate
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    _SPEC = json.load(f)
E2E = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]
LAYERS = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]


CHILD = None  # the sbt or harness process running now


def run_child(cmd, log_path, timeout, **kw):
    """Run `cmd` with output to `log_path`; stop it (and wait) on timeout
    or when this process is told to stop. Returns the exit code, or None on
    timeout."""
    global CHILD
    with open(log_path, "w") as out:
        CHILD = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, **kw)
        try:
            return CHILD.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            CHILD.kill()
            CHILD.wait()
            return None
        finally:
            CHILD = None


def stop(*_):
    if CHILD is not None:
        CHILD.kill()
        CHILD.wait()
    fail("interrupted")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    return h.hexdigest()[:16]


def harness_build_files():
    fs = [os.path.join(HERE, "harness", f) for f in ("build.sbt", "project/build.properties")]
    return fs + glob.glob(os.path.join(HERE, "harness", "src", "**", "*.scala"), recursive=True)


def harness_files():
    return [os.path.join(HERE, f) for f in ("run.py", "inputs.py")] + harness_build_files()


def program_files():
    fs = glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
    fs += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    fs += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    return [f for f in fs if os.path.isfile(f)] + [os.path.join(ROOT, "build.sbt")]


def build():
    """Build the program and the harness (sbt), once per source state."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: run from the root of a checkout of the program")
    stamp = tree_hash(program_files() + harness_build_files())
    launch = os.path.join(WORK, "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                   os.path.join(WORK, "build.log"), 850, cwd=os.path.join(HERE, "harness"), env=env)
    if rc != 0:
        fail(f"build failed (see {WORK}/build.log)")
    shutil.copy(os.path.join(HERE, "harness", "target", "launch.txt"), launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return launch


def jvm_command(launch, work, argv):
    lines = open(launch).read().splitlines()
    sep = lines.index("--")
    cp, opts = lines[:sep], lines[sep + 1:]
    opts = [o for o in opts if not o.startswith(("-Xmx", "-Xms"))]
    return (["java"] + opts + [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Duser.timezone=UTC",
                               "-XX:+PerfDisableSharedMem", f"-Djava.io.tmpdir={work}/tmp",
                               f"-Dderby.stream.error.file={work}/derby.log"]
            + ["-cp", ":".join(cp), "perfbench.Main"] + argv)


# ---- output checks against the oracles ----

def oracle_check(oracle_sql, tables, results, seed):
    """Compare each query's cold-pass result (parquet under `results`) with
    its oracle SQL run in DuckDB on the same inputs: the same column names,
    and the same rows as a multiset. Oracle results are cached as parquet
    per (seed, query, oracle-SQL hash, generator). Returns failures by
    query name and the seconds spent."""
    import duckdb
    cache = os.path.join(WORK, "oracle-cache")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    failures, t0 = {}, time.time()
    generator = gen.generator_hash()
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256(f"{seed}|{generator}|{name}|{sql}".encode()).hexdigest()[:24]
        want = os.path.join(cache, f"{name}-{key}.parquet")
        got = os.path.join(results, name, "*.parquet")
        try:
            if not os.path.exists(want):
                con.execute(f"COPY ({sql}) TO '{want}.tmp' (FORMAT PARQUET)")
                os.rename(f"{want}.tmp", want)
            cols = [sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM '{p}'").fetchall())
                    for p in (want, got)]
            if cols[0] != cols[1]:
                failures[name] = f"oracle columns {cols[0]} != {cols[1]}"
                continue
            sel = ", ".join(f'"{c}"' for c in cols[0])
            n = [con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0] for p in (want, got)]
            diff = con.execute(f"""SELECT count(*) FROM (
                (SELECT {sel} FROM '{want}' EXCEPT ALL SELECT {sel} FROM '{got}')
                UNION ALL
                (SELECT {sel} FROM '{got}' EXCEPT ALL SELECT {sel} FROM '{want}'))""").fetchone()[0]
            if diff:
                failures[name] = f"oracle mismatch: {diff} rows differ (rows {n[1]} vs oracle {n[0]})"
        except Exception as e:  # an oracle or a result that cannot be read fails the check
            failures[name] = "oracle check error: " + str(e)[:300]
    return failures, time.time() - t0


# ---- statistics ----

def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[1], q[2]


def summary(xs, unit):
    q1, med, q3 = quartiles(xs)
    return {"unit": unit, "n": len(xs), "median": med, "q1": q1, "q3": q3}


def percentile(xs, p):
    xs = sorted(xs)
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1] if len(xs) > 1 else xs[0]


def pass_sums(record, passes, keys):
    by = {}
    for op in record["ops"]:
        if op["pass"] in passes:
            d = by.setdefault(op["pass"], {})
            for k in keys:
                d[k] = d.get(k, 0.0) + op["layers"].get(k, 0.0)
    return [by[p] for p in sorted(by)]


def flag(p, cores=4):
    """Mechanism that makes a pass noisy, if any (flagged passes stay in)."""
    why = []
    if p["jit_s"] > 0.25 * p["wall_s"]:
        why.append("jit")
    if p["gc_s"] > 0.25 * p["wall_s"]:
        why.append("gc")
    if p["load1"] > 2 * cores:
        why.append("load")
    if not p["cold"] and p["codegen_new"] > 0:
        why.append("codegen")
    return why


def analyse(record, oracle_failures, workload, size):
    ops = record["ops"]
    failures = {}
    first = {}
    for o in sorted(ops, key=lambda o: o["pass"]):
        first.setdefault(o["name"], o)
    for o in ops:
        f = list(o["failures"])
        if o["digest"] != first[o["name"]]["digest"]:
            f.append(f"digest {o['digest']} != first pass {first[o['name']]['digest']}")
        if o["name"] in oracle_failures:
            f.append(oracle_failures[o["name"]])
        if f:
            failures[o["id"]] = f

    measured = [p for p in record["passes"] if not p["cold"] and not p["warm_up"]]
    steady = [p for p in measured if not p["traced"]]
    traced = [p for p in measured if p["traced"]]
    steady_ids = {p["pass"] for p in steady}
    kind = "nightly" if workload == "digitize" else "query"
    op_walls = [o["wall_s"] for o in ops if o["pass"] in steady_ids and o["kind"] == kind]
    pass_walls = [p["wall_s"] for p in steady]
    cpu = {}
    for o in ops:
        cpu[o["pass"]] = cpu.get(o["pass"], 0.0) + o["cpu_s"]
    written = ("io.write_bytes", "shuffle.write_bytes", "io.spill_bytes")
    sums = pass_sums(record, steady_ids, ("exec.task_s",) + written)

    detail = {
        "setup_s": summary([record["setup_s"]], "s"),
        "first_pass_s": summary([record["passes"][0]["wall_s"]], "s"),
        "pass_s": summary(pass_walls, "s"),
        "first_pass_cpu_s": summary([cpu[0]], "s"),
        "pass_cpu_s": summary([cpu[p["pass"]] for p in steady], "s"),
        "op_p50_s": dict(summary(op_walls, "s"), value=percentile(op_walls, 50)),
        "op_p90_s": dict(summary(op_walls, "s"), value=percentile(op_walls, 90),
                         beyond=sum(1 for x in op_walls if x > percentile(op_walls, 90))),
        "task_s": summary([s["exec.task_s"] for s in sums], "s"),
        "heap_peak_mb": summary([p["heap_peak_mb"] for p in steady], "MB"),
        "items_per_s": summary([size["items"] / w for w in pass_walls], "1/s"),
        "write_amp": summary([sum(s[k] for k in written) / size["input_bytes"] for s in sums],
                             "ratio"),
    }
    if workload == "digitize":
        detail["resume_s"] = summary(op_walls, "s")
        detail["pages_per_s"] = detail["items_per_s"]
    attempted = len(ops)
    detail["error_rate"] = {"unit": "ratio", "n": attempted, "value": len(failures) / attempted}
    for d in detail.values():
        d.setdefault("value", d.get("median"))

    layer_detail = {}
    if traced:
        keys = [k for k, _ in LAYERS if k != "trace.overhead_s"]
        tsums = pass_sums(record, {p["pass"] for p in traced}, keys)
        for k, unit in LAYERS:
            if k == "trace.overhead_s":
                tw = statistics.median(p["wall_s"] for p in traced)
                layer_detail[k] = {"unit": unit, "n": len(traced), "value": tw - statistics.median(pass_walls),
                                   "traced_pass_s": tw, "untraced_pass_s": statistics.median(pass_walls)}
            else:
                layer_detail[k] = dict(summary([s[k] for s in tsums], unit))
                layer_detail[k]["value"] = layer_detail[k]["median"]
    return failures, detail, layer_detail


def self_time(spans):
    """Self time by layer, overall and per op: each span's duration minus the
    part of it that its children cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    total, per_op = {}, {}
    for sp in spans:
        covered, cur = 0, None
        for a, b in sorted((max(c["startNs"], sp["startNs"]), min(c["endNs"], sp["endNs"]))
                           for c in kids.get(sp["id"], [])):
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                covered += cur[1] - cur[0] if cur else 0
                cur = (a, b)
        covered += cur[1] - cur[0] if cur else 0
        t = (sp["endNs"] - sp["startNs"] - covered) / 1e9
        total[sp["layer"]] = total.get(sp["layer"], 0.0) + t
        op = per_op.setdefault(sp["op"], {})
        op[sp["layer"]] = op.get(sp["layer"], 0.0) + t
    return total, per_op


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=_SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    launch = build()
    t_start = t0 = time.time()
    ins = os.path.join(WORK, "inputs", f"seed-{a.seed}-{gen.generator_hash()}")
    info = gen.generate(ins, a.seed)
    gen_s = time.time() - t0
    for old in sorted(glob.glob(os.path.join(WORK, "inputs", "seed-*")),
                      key=os.path.getmtime)[:-8]:
        shutil.rmtree(old, ignore_errors=True)

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    rec_path = os.path.join(run_dir, "record.json")
    cmd = jvm_command(launch, run_dir, [a.workload, str(a.seed), str(a.seconds), str(a.trace), ins, run_dir, rec_path])
    rc = run_child(cmd, os.path.join(run_dir, "harness.log"),
                   t_start + a.seconds + MARGIN_S - time.time(), cwd=run_dir)
    if rc is None:
        fail(f"the run went past --seconds plus {MARGIN_S} s (see {run_dir}/harness.log)")
    if rc != 0 or not os.path.exists(rec_path):
        fail(f"harness exited with {rc} (see {run_dir}/harness.log)")
    record = json.load(open(rec_path))
    oracle_failures, oracle_s = oracle_check(
        json.load(open(rec_path[:-5] + ".oracle.json")), os.path.join(ins, "tables"),
        os.path.join(run_dir, "results"), a.seed)

    failures, detail, layer_detail = analyse(record, oracle_failures, a.workload,
                                             info["workloads"][a.workload])
    spans_path = rec_path[:-5] + ".spans.json"
    self_times, op_self_times = self_time(json.load(open(spans_path))) \
        if os.path.exists(spans_path) else ({}, {})
    per_op = {}
    measured = {p["pass"] for p in record["passes"] if not p["cold"] and not p["warm_up"]}
    for o in record["ops"]:
        if o["pass"] in measured:
            per_op.setdefault(o["name"], []).append(o["wall_s"])

    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "harness_sha": tree_hash(harness_files()), "program_sha": tree_hash(program_files()),
        "git_sha": git_sha(), "env": record["env"], "inputs": info,
        "generation_s": gen_s, "oracle_s": oracle_s, "wall_s": time.time() - t_start,
        "end_to_end": detail, "per_layer": layer_detail, "self_time_s": self_times,
        "op_self_time_s": op_self_times,
        "passes": [dict(p, flags=flag(p)) for p in record["passes"]],
        "per_op_median_s": {k: statistics.median(v) for k, v in per_op.items()},
        "failures": failures, "unattributed": record["unattributed"],
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f, indent=1)

    for name, d in list(detail.items()) + list(layer_detail.items()):
        extra = f" q1={d['q1']:.6g} q3={d['q3']:.6g}" if "q1" in d else ""
        print(f"{name:26s} {d['value']:.6g} {d['unit']} n={d['n']}{extra}")
    for p in result["passes"]:
        print(f"pass {p['pass']}: wall={p['wall_s']:.3f}s jit={p['jit_s']:.2f}s gc={p['gc_s']:.2f}s "
              f"load1={p['load1']:.2f} codegen_new={p['codegen_new']} warm_up={p['warm_up']} traced={p['traced']} "
              f"flags={','.join(p['flags']) or '-'}")
    for op, f in sorted(failures.items()):
        print(f"FAILED {op}: {'; '.join(f)[:400]}")
    print(f"record: {os.path.relpath(run_dir, ROOT)}/result.json "
          f"(generation {gen_s:.1f} s, oracle {oracle_s:.1f} s, harness {result['harness_sha']})")

    names = LAYERS if a.trace else E2E
    src = layer_detail if a.trace else detail
    metrics = {n: {"value": src[n]["value"], "unit": u} for n, u in names}
    print(json.dumps({"correct": not failures, "attempted": len(record["ops"]),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
