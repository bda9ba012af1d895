#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (`perfbench/build.py`), runs one closed-loop client against one
`local[nproc]` Spark session, checks every output against the pinned
expectations in `perfbench/pinned/`, prints an evidence line, and prints
as its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). See perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import expect  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("medallion_etl", "memo_iterative")
# the fixed, read-only sf0.1 tables of TESTDATA.md (seed 42), graft.Bench's
# default input; FrameMemo memoizes artifacts only under this root
SF_DIR = "/root/testdata/sf0.1"
JVM_TIMEOUT_S = 165
# medallion_etl: years of daily bronze rows, starting in a seeded year.
MEDALLION_YEARS = 5
MEDALLION_FIRST_START = 1995
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    """A named reason the benchmark cannot produce a result."""


def pinned(name: str):
    with open(os.path.join(HERE, "pinned", name)) as fh:
        return json.load(fh)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb(n: int) -> int:
    """graft's default driver heap (512 MiB per core + 4 GiB, at least
    8 GiB), capped at half the machine's memory like the test command."""
    want = max(8, 4 + n // 2)
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        want = min(want, max(2, kb // 2097152))
    except (OSError, StopIteration):
        pass
    return want


def make_plan(workload: str, seed: int, seconds: int, trace: int, work: str, n: int) -> dict:
    rng = random.Random(f"{workload}:{seed}")
    spec = pinned("workloads.json")[workload]
    # setup_s is the median of the run's set-ups
    plan = {"workload": workload, "sf": SF_DIR, "work": work, "cores": n,
            "setups": spec["setups"], "trace": trace}
    # a fixed pass count per (workload, seconds): the sample count does
    # not depend on the host's speed
    passes = max(1, round(seconds / spec["nominal_pass_s"]))
    if workload == "medallion_etl":
        y = MEDALLION_FIRST_START + rng.randrange(10)
        plan.update(start=f"{y}-01-01", end=f"{y + MEDALLION_YEARS - 1}-12-31",
                    months=12 * MEDALLION_YEARS)
        ops = spec["ops"]
        plan["warmup"] = list(ops)
        plan["passes"] = [list(ops) for _ in range(passes)]
    else:
        ops = list(spec["ops"])
        rng.shuffle(ops)
        plan["warmup"] = ops
        plan["passes"] = [rng.sample(ops, len(ops)) for _ in range(passes)]
    plan["tables"] = spec.get("tables", [])
    return plan


def write_plan(plan: dict, path: str) -> None:
    with open(path, "w") as fh:
        for k, v in plan.items():
            if k == "passes":
                fh.writelines(f"pass={','.join(p)}\n" for p in v)
            elif isinstance(v, list):
                fh.write(f"{k}={','.join(v)}\n")
            else:
                fh.write(f"{k}={v}\n")


def run_jvm(cp: str, plan_path: str, result_path: str, work: str, n: int) -> dict:
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap_gb(n)}g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "perfbench.Harness", plan_path, result_path]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    err_path = f"{work}/jvm.err"
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT,
                                env={k: v for k, v in os.environ.items()
                                     if not k.startswith("SPARK_GRAFT_")})
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            # also on SIGTERM (raised as SystemExit): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result_path):
        with open(err_path) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"harness JVM exited with {code}:\n{tail}")
    with open(result_path) as fh:
        res = json.load(fh)
    if res.get("error"):
        raise BenchError(f"harness failed: {res['error']}")
    return res


def coverage(registered: list) -> list:
    """Named failures for registry entries outside the pinned classes."""
    classes = pinned("classes.json")
    missing = sorted(set(registered) - set(classes))
    gone = sorted(set(classes) - set(registered))
    return ([f"unclassified registry query {q}" for q in missing] +
            [f"classified query {q} is not registered" for q in gone])


def query_failures(res: dict, names: list) -> tuple:
    """(failed query -> reason, query -> result rows) from the warm-up
    outputs compared with the pinned expectations."""
    want = pinned("expected.json")
    bad, rows = {}, {}
    con = expect.connect()
    for q in names:
        path = res["outputs"].get(q)
        if q not in want:
            bad[q] = "no pinned expectation"
        elif not path:
            bad[q] = "no output written"
        else:
            got = expect.fingerprint(con, expect.parquet_sql(path))
            diff = expect.compare(want[q], got)
            if diff:
                bad[q] = f"output differs from the pinned expectation: {diff}"
            rows[q] = got["rows"]
    con.close()
    return bad, rows


def evaluate(workload: str, res: dict, plan: dict, trace: int, n: int) -> dict:
    failures = coverage(res["registered"])
    extra_failed = len(failures)
    medallion = workload == "medallion_etl"
    ops = res["window"]["ops"]
    # a failed or wrong warm-up op fails every timed op of that name; a
    # failed medallion check fails the named op of that cycle
    warm_err = {w["name"]: w["error"] for w in res["warmup"] if w["error"]}
    failures += [f"{n} (warm-up): {e}" for n, e in sorted(warm_err.items())]
    bad_names, bad_passes = set(warm_err), set()
    for c in res["checks"]:
        failures.append(f"{c['op']} ({c['where']}, pass {c['pass']}): {c['detail']}")
        if c["where"] == "warmup":
            bad_names.add(c["op"])
        elif c["where"] == "window":
            bad_passes.add((c["op"], c["pass"]))
    out_rows = {}
    if not medallion:
        bad, out_rows = query_failures(res, [q for q in plan["warmup"] if q not in warm_err])
        failures += [f"{q}: {why}" for q, why in sorted(bad.items())]
        bad_names |= set(bad)
    failures += [f"{o['name']} (pass {o['pass']}): {o['error']}" for o in ops if o["error"]]
    good = [o for o in ops if o["error"] is None and o["name"] not in bad_names
            and (o["name"], o["pass"]) not in bad_passes]
    passes = range(len(plan["passes"]))
    ok_by_pass = [[o["construct_s"] + o["exec_s"] for o in good if o["pass"] == p]
                  for p in passes]
    if medallion:
        # bronze rows of every cycle whose ops all completed correctly
        rows_by_pass = [res["bronze_rows"] if len(ok_by_pass[p]) == len(plan["passes"][p])
                        else 0 for p in passes]
    else:
        rows_by_pass = [sum(out_rows.get(o["name"], 0) for o in good if o["pass"] == p)
                        for p in passes]
    attempted = len(ops) + extra_failed
    failed = attempted - sum(map(len, ok_by_pass))
    setups = [s["setup_s"] for s in res["setups"]]
    metrics, samples, pct = stats.end_to_end(res["window"]["pass_walls_s"], ok_by_pass,
                                             rows_by_pass, attempted, failed, setups)
    if trace:
        metrics = stats.per_layer(res, n, metrics["ops_per_s"][0])
    evidence = {
        "workload": workload, "seed": plan["seed"], "trace": trace, "nproc": n,
        "loadavg_pre": res["load_pre"], "loadavg_post": res["load_post"],
        "xmx_mb": round(res["max_heap_mb"]), "shuffle_partitions": res["shuffle_partitions"],
        "passes": len(plan["passes"]), "ops_per_pass": len(plan["passes"][0]),
        "samples": samples, "op_p90_s_percentile": pct,
        "setups_s": setups, "pass_walls_s": res["window"]["pass_walls_s"],
        "failures": failures[:50]}
    if medallion:
        evidence["window"] = [plan["start"], plan["end"]]
        evidence["bronze_rows"] = res["bronze_rows"]
    return {"correct": not failures, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "evidence": evidence}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if os.environ.get("SPARK_GRAFT_ARTIFACT_STORE"):
        raise BenchError("SPARK_GRAFT_ARTIFACT_STORE is set: cross-session artifact "
                         "reuse would be timed; unset it")
    if not os.path.isdir(SF_DIR):
        raise BenchError(f"input tables {SF_DIR} are missing")
    cp = build.build()
    n = cores()
    work = os.path.join(os.getcwd(), ".bench_run", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    if os.path.exists(work):
        raise BenchError(f"{work} exists: an earlier run's lake or Derby warehouse would be read")
    os.makedirs(work)
    try:
        plan = make_plan(args.workload, args.seed, args.seconds, args.trace, work, n)
        write_plan(plan, f"{work}/plan.txt")
        plan["seed"] = args.seed
        res = run_jvm(cp, f"{work}/plan.txt", f"{work}/result.json", work, n)
        out = evaluate(args.workload, res, plan, args.trace, n)
        if args.trace:
            # the traced window's spans outlive the run directory
            with open(f"{work}.trace.json", "w") as fh:
                json.dump(res["traced"]["spans"], fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"evidence": out.pop("evidence")}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BenchError, build.BuildError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
