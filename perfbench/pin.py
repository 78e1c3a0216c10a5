"""Pin the answers DuckDB cannot give: the q4 hash-scan sum and every
table-function variant.  Runs each statement once through the
native door of a fresh server and writes `perfbench/pins.json`, keyed by
the fixture digest (a changed generator invalidates the pins loudly).

    python3 perfbench/pin.py
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build      # noqa: E402
import fixtures   # noqa: E402
import run        # noqa: E402
import workloads  # noqa: E402


def pin(java, cp, fixture_dir, data, stmts):
    """Run `stmts` once over the native door of a server on `data`."""
    plan = {"workload": "pin", "door": "native", "seconds": 0, "mode": "passes", "seed": 0,
            "data": data, "prep": [], "warmup": 0,
            "statements": [{"id": s["pin"], "template": s["template"], "sql": s["sql"],
                            "source_rows": 0, "expect": {}} for s in stmts],
            "schedules": [list(range(len(stmts)))]}
    rundir = os.path.join(build.BUILD_ROOT, "run", "pin")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    server = run.Server(java, cp, os.path.join(fixture_dir, data), rundir, "pin")
    try:
        server.wait_ready("SELECT count() FROM lineitem", str(workloads.ROWS[data]["lineitem"]))
        plan_path = os.path.join(rundir, "plan.json")
        json.dump(plan, open(plan_path, "w"))
        recs_path = os.path.join(rundir, "records.jsonl")
        subprocess.run(java + ["-cp", cp, "perfbench.Door", plan_path, str(server.http),
                               str(server.native), recs_path], check=True, timeout=600)
        return [json.loads(l) for l in open(recs_path)]
    finally:
        server.stop()
        shutil.rmtree(rundir, ignore_errors=True)


def main():
    cp, java = build.ensure()
    fixture_dir, _ = fixtures.ensure(build.BUILD_ROOT, cp, java)
    recs = pin(java, cp, fixture_dir, "x10", workloads.pinned_statements())
    pins = {}
    for r in recs:
        if not r.get("result"):
            raise RuntimeError(f"{r['stmt']} gave no result: {r['error']}")
        pins[r["stmt"]] = {"rows": r["result"]}
        print(r["stmt"], r["result"], f"{r['ms']:.0f} ms", file=sys.stderr)
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump({"fixture_key": fixtures.key(), "pins": pins}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
