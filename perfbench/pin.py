#!/usr/bin/env python3
"""Re-pins `perfbench/pinned/` from a registry census. Not part of a
benchmark run; use it when the registry or the workload sets change.

    python3 perfbench/pin.py <census dir> [--sf <tables dir>]

<census dir> is the output of the harness's census main, run on the
parent commit:

    java <jvm options> -cp <classes>:<spark jars>/* perfbench.Classify <sf dir> <census dir>

It writes:
* classes.json   every registered query -> {workload, reason, census};
* expected.json  every query -> a DuckDB oracle fingerprint at <sf dir>
                 (when oracle SQL exists and the Spark output matches it)
                 or the pinned row count (rows-only queries);
* workloads.json the fixed op set of each workload and its nominal pass time.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import expect  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# A query launching more construction jobs than this beyond one schema-
# inference job per table it reads iterates on the driver.
LOOP_JOBS = 4
# The fixed op set of each timed query workload: per class, a budget of
# (summed warm seconds, summed cold seconds) for a cost-stratified pick.
# The set-up repeats the cold warm-up, so both count. batch_queries and
# stream_replay are classified but not timed as workloads of their own
# (see README "Limits"); one stream replay rides in memo_iterative.
OP_SETS = {"memo_iterative": [("memo_iterative", (4.0, 10.0)),
                              ("stream_replay", (1.5, 2.5))]}


def classify(c: dict) -> tuple:
    tables = len(c["tables"])
    if c["stream"]:
        return "stream_replay", "StreamingQueries replay: uses the streaming layer"
    if c["memo_new"] > 0:
        return "memo_iterative", (f"builds {c['memo_new']} FrameMemo artifact(s) in a fresh "
                                  f"session; {c['construct_jobs']} construction jobs warm")
    if c["construct_jobs"] > tables + LOOP_JOBS:
        return "memo_iterative", (f"driver-side loop: {c['construct_jobs']} construction jobs "
                                  f"warm, over {tables} table(s)")
    return "batch_queries", (f"direct table reads: {c['construct_jobs']} construction jobs over "
                             f"{tables} table(s), no FrameMemo artifact")


def stratified(items: list, warm, cold, budget: tuple) -> list:
    """Evenly spaced picks over `items` sorted by warm time, as many as
    fit the (warm, cold) budget of summed times."""
    xs = sorted(items, key=lambda q: (warm(q), q))
    for m in range(len(xs), 0, -1):
        pick = [xs[int((j + 0.5) * len(xs) / m)] for j in range(m)]
        if sum(map(warm, pick)) <= budget[0] and sum(map(cold, pick)) <= budget[1]:
            return pick
    return xs[:1]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("census")
    ap.add_argument("--sf", default=run.SF_DIR)
    args = ap.parse_args()
    census = json.load(open(f"{args.census}/census.json"))
    oracle = json.load(open(f"{args.census}/oracle_sql.json"))
    rows_only = set(json.load(open(f"{args.census}/rows_only.json")))
    errors = [c["name"] for c in census if c.get("error")]
    if errors:
        sys.exit(f"census has failing queries: {errors}")

    classes, expected, mismatches = {}, {}, []
    con = expect.connect(args.sf, TABLES)
    for c in census:
        q = c["name"]
        w, why = classify(c)
        classes[q] = {"workload": w, "reason": why,
                      "census": {k: c[k] for k in ("construct_s", "construct_jobs", "exec_s",
                                                   "exec_jobs", "cold_s", "memo_new", "tables")}}
        got = expect.fingerprint(con, expect.parquet_sql(f"{args.census}/out/{q}"))
        if q in oracle:
            want = expect.fingerprint(con, oracle[q])
            diff = expect.compare({"kind": "oracle", "fingerprint": want}, got)
            if diff:
                mismatches.append(f"{q}: {diff}")
                expected[q] = {"kind": "rows", "rows": got["rows"],
                               "why": f"Spark differs from the oracle at this scale: {diff}"}
            else:
                expected[q] = {"kind": "oracle", "fingerprint": want}
        elif q in rows_only:
            expected[q] = {"kind": "rows", "rows": got["rows"], "why": "rows-only query"}
        else:
            sys.exit(f"{q} has neither oracle SQL nor a rows-only mark")
        print(f"{q}: {w} {expected[q]['kind']}", flush=True)

    workloads = json.load(open(os.path.join(HERE, "pinned", "workloads.json")))
    def warm(q):
        c = classes[q]["census"]
        return c["construct_s"] + c["exec_s"]

    def cold(q):
        return classes[q]["census"]["cold_s"]

    for w, parts in OP_SETS.items():
        pick = []
        for cls, budget in parts:
            members = [q for q, c in classes.items() if c["workload"] == cls]
            pick += stratified(members, warm, cold, budget)
        workloads[w].update(
            ops=sorted(pick),
            nominal_pass_s=round(sum(warm(q) for q in pick), 2),
            tables=sorted({t for q in pick for t in classes[q]["census"]["tables"]}))
    out = os.path.join(HERE, "pinned")
    for name, obj in (("classes.json", classes), ("expected.json", expected),
                      ("workloads.json", workloads)):
        with open(os.path.join(out, name), "w") as fh:
            json.dump(obj, fh, indent=1, sort_keys=True)
            fh.write("\n")
    print(f"{len(mismatches)} oracle mismatches pinned as row counts:")
    print("\n".join(mismatches))


if __name__ == "__main__":
    main()
